package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Reference computations in plain JVM code, independent of the engine:
  * the benchmark checks the engine's outputs against these. */
object Oracle {

  /** Cosine in double precision over float inputs, the formula the
    * engine documents for `cosine_sim` (dot / (|a|·|b| + 1e-8)). */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb) + 1e-8)
  }

  /** The engine's published rank contract: similarity rounded half-up to 6
    * decimal places. */
  def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  final case class Hit(vecId: Long, sim: Double)

  /** Exact top-k by brute force: rounded sim DESC, vec_id ASC. `ids(i)` is
    * the vec_id of `vectors(i)`. Rounding to 6 places moves a sim by at most
    * 5e-7 and never reverses the order of two sims, so only rows within
    * 1e-6 of the k-th largest unrounded sim can reach the rounded top k;
    * only those are rounded (the decimal rounding is the slow part). */
  def exactTopK(vectors: Array[Array[Float]], ids: Array[Long],
      query: Array[Float], k: Int): Seq[Hit] = {
    val raw = vectors.map(cosine(_, query))
    val kth =
      if (raw.length <= k) Double.NegativeInfinity
      else raw.sorted(Ordering.Double.TotalOrdering.reverse)(k - 1)
    raw.indices.filter(i => raw(i) >= kth - 1e-6)
      .map(i => Hit(ids(i), round6(raw(i))))
      .sortBy(h => (-h.sim, h.vecId))
      .take(k)
  }

  /** |returned ∩ exact| / k. */
  def recall(returned: Seq[Long], exact: Seq[Long], k: Int): Double =
    returned.toSet.intersect(exact.toSet).size.toDouble / k

  /** Checks one top-k answer: every sim within `tol` of a recomputation
    * from the generated vectors, rows ordered by (sim DESC, vec_id ASC).
    * Returns the failures as readable messages. */
  def checkRanked(hits: Seq[Hit], vectorOf: Long => Array[Float],
      query: Array[Float], tol: Double = 1e-6): Seq[String] = {
    val bad = hits.flatMap { h =>
      val want = cosine(vectorOf(h.vecId), query)
      if (math.abs(want - h.sim) > tol) Some(s"vec ${h.vecId}: sim ${h.sim} != $want")
      else None
    }
    val ordered = hits.zip(hits.drop(1)).forall { case (a, b) =>
      a.sim > b.sim || (a.sim == b.sim && a.vecId < b.vecId)
    }
    if (ordered) bad else bad :+ s"not ordered by sim DESC, vec_id ASC: $hits"
  }

  /** First 60 bits of md5(utf8(s)) as a long — the engine's published
    * portable hash (DuckDB form `('0x' || substr(md5(s), 1, 15))::BIGINT`). */
  def h60(s: String): Long = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
    val hex = d.map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** The text a correct scrubber leaves: each planted value replaced by its
    * placeholder. Planted values are whole space-separated tokens and the
    * vocabulary words match none of the PII patterns. */
  def scrubbed(text: String, planted: Seq[Gen.Pii]): String =
    text.split(' ').map { w =>
      planted.find(_.value == w).map(p => s"<${p.kind}>").getOrElse(w)
    }.mkString(" ")
}
