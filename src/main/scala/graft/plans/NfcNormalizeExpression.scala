package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for Unicode NFC normalization —
  * `nfc_normalize(text)` composes combining sequences to their canonical
  * precomposed forms ("e" + U+0301 → "é"). The first step of any text
  * canonicalization pipeline for training corpora: dedup keys, shingle
  * hashes, and equality joins all break when the same rendered string
  * has two byte encodings (NFC vs NFD sources — web scrapes mix both;
  * macOS filenames are NFD, most web content NFC).
  *
  * Spark has no built-in for this (`lower`/`trim` don't touch combining
  * marks), so it is a genuine native-Expression case: one static call
  * inside whole-stage codegen, same pattern as [[HaversineExpression]].
  * Normalization is defined by the Unicode standard, so any conformant
  * engine produces identical bytes — DuckDB's `nfc_normalize` is the
  * oracle twin (qd34's md5-hashed payload proves byte parity).
  *
  * Fast path: an all-ASCII value is NFC by definition and is returned
  * AS-IS (no String round-trip, no allocation) — the dominant case for
  * English-heavy corpora; the byte scan is one branchless pass. Null
  * propagates null (UnaryExpression default).
  */
case class NfcNormalizeExpression(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  override protected def nullSafeEval(input: Any): Any =
    NfcNormalizeExpression.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.NfcNormalizeExpression.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NfcNormalizeExpression {

  /** Called from generated code — must stay public + static-forwardable. */
  def compute(s: UTF8String): UTF8String = {
    val n = s.numBytes()
    var i = 0
    var ascii = true
    while (ascii && i < n) { ascii = (s.getByte(i) & 0x80) == 0; i += 1 }
    if (ascii) return s
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** SQL / `call_function` builder for `nfc_normalize` (injected by [[GraftExtensions]]). */
  def builder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1, "nfc_normalize(text)")
    NfcNormalizeExpression(Cast(exprs.head, StringType))
  }
}
