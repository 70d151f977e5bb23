package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._

/** The composed Column formulations the single-pass [[GraftFunctions]]
  * expressions replaced, kept as the executable specs the parity tests
  * compare against. */
object GraftFunctionsComposed {

  /** The composed formulation (pre-r19) — retained as the executable spec
    * [[fingerprint]] is parity-tested against (PortableHashSpec); also the
    * shape the DuckDB oracle replays (1-based generate_subscripts). */
  def fingerprintComposed(words: Column): Column =
    aggregate(
      // index-lambda transform: `words` is a direct child (evaluated once per
      // row); i is 0-based so hash (i+1)#token for parity with the 1-based
      // generate_subscripts oracle
      transform(words, (w, i) =>
        h60(concat((i + 1).cast("string"), lit("#"), w))),
      lit(0L),
      (acc, h) => acc.bitwiseXOR(h))

  /** The composed formulation (pre-r14 implementation) — retained as the
    * executable spec [[normalizeText]] is parity-tested against; also the
    * exact shape the DuckDB oracle replays. */
  def normalizeTextComposed(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", " "), "  +", " "))

  /** The composed Column formulation (pre-r10 implementation) — retained as
    * the executable spec [[langId]] is parity-tested against, at any
    * injected marker table. */
  def langIdComposed(words: Column,
      markers: Seq[(String, Seq[String])] = langMarkers): Column = {
    val scored = markers.map { case (code, ms) => (code, markerCount(words, ms)) }
    val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
    // argmax with ties to first (alphabetical-ish declared order)
    val pick = scored.foldRight(lit("und")) { case ((code, score), acc) =>
      when(score === best && best > 0, lit(code)).otherwise(acc)
    }
    // foldRight means earlier entries override later ones on ties
    pick
  }

  private def markerCount(words: Column, markers: Seq[String]): Column =
    size(filter(words, w => markers.map(m => w === lit(m)).reduce(_ || _)))
}
