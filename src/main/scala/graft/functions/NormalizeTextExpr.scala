package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `normalize_text(STRING) -> STRING` — the corpus normalization pass
  * (`trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", " "),
  * "  +", " "))`) as ONE single-pass codegen expression.
  *
  * Why an expression and not the composed Column form: the composed chain
  * materializes three full copies of every document (the lowercased text and
  * one per `regexp_replace`) and runs two Java-regex engines over the whole
  * corpus — measured as the single most expensive row of the sf10 suite
  * (51.9 s over 500k docs, `text_norm`). This walks the UTF-8 bytes once and
  * allocates only the output buffer. Same replace-a-regex-chain move as
  * [[PiiScrubSeq]] and [[LangIdExpr]]; the composed form is retained as the
  * executable spec (`GraftFunctionsComposed.normalizeTextComposed` in the
  * tests, parity-tested in NormalizeSpec including non-ASCII).
  *
  * Equivalence argument (byte pass vs the char-level regex):
  *  - ASCII input: `lower` only folds A-Z, which the pass does inline; every
  *    byte IS a char, so keep-[a-z0-9] / fold-[A-Z] / pend-otherwise is the
  *    regex substitution exactly, and emitting the pending separator only
  *    before a kept byte (and only after the first) IS collapse + trim.
  *  - Non-ASCII input: the pass first routes through the SAME
  *    `UTF8String.toLowerCase` that binary-collation `lower()` executes
  *    (exact parity on the lowering by construction), then treats every
  *    non-[a-z0-9 ] BYTE as pending. A multi-byte char thus marks 2-4
  *    pendings where the regex substitutes exactly one space per CHAR — but
  *    both sides then collapse any pending run to a single separator (or to
  *    nothing at the ends), so the outputs are identical.
  *
  * Null contract: null-propagating, exactly like the composed chain. */
case class NormalizeTextExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "normalize_text"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"normalize_text expects STRING, got ${other.sql}")
  }

  @transient private lazy val impl = new NormalizeTextExpr.Impl

  override protected def nullSafeEval(input: Any): Any =
    NormalizeTextExpr.normalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj(
      "textNormalizer", impl, classOf[NormalizeTextExpr.Impl].getName)
    defineCodeGen(ctx, ev, c => s"$ref.normalize($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): NormalizeTextExpr =
    copy(child = newChild)
}

object NormalizeTextExpr {

  /** Codegen-reachable instance (rides the plan via `addReferenceObj`, like
    * [[LangIdExpr.Table]] — Janino calls an instance method, not a Scala
    * `object` forwarder). */
  final class Impl extends Serializable {
    def normalize(s: UTF8String): UTF8String = NormalizeTextExpr.normalize(s)
  }

  def normalize(s: UTF8String): UTF8String = {
    var b = s.getBytes
    var ascii = true
    var i = 0
    while (ascii && i < b.length) {
      if (b(i) < 0) ascii = false
      i += 1
    }
    // non-ASCII: lower through the identical code path `lower()` uses for
    // the default (binary) collation, then fall through to the byte pass
    if (!ascii) b = s.toLowerCase.getBytes
    val out = new Array[Byte](b.length)
    var o = 0
    var pend = false // a separator run (spaces / stripped chars) is open
    i = 0
    while (i < b.length) {
      val c = b(i)
      val kept: Int =
        if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) c
        else if (c >= 'A' && c <= 'Z') c + 32
        else -1
      if (kept >= 0) {
        if (pend && o > 0) { out(o) = ' '; o += 1 }
        pend = false
        out(o) = kept.toByte
        o += 1
      } else pend = true
      i += 1
    }
    // fromBytes(b, 0, o) slices without re-copying; the row writer copies
    // the value into its own buffer anyway
    UTF8String.fromBytes(out, 0, o)
  }
}
