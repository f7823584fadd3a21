package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the DEFLATE compression ratio of a
  * string — `deflate_ratio(text)` = compressed bytes / raw UTF-8 bytes.
  * Highly repetitive text (boilerplate, keyword stuffing, template spam)
  * compresses far below ~0.4 while natural prose sits well above it, so
  * the ratio is a cheap single-pass quality signal that catches
  * repetition the word-level Gopher filters
  * ([[graft.operators.Curation.repetitionStats]]) miss — e.g. repeated
  * character runs and sub-token patterns. Used as a curation gate
  * alongside `quality_score`; a common corpus-filter signal in published
  * pretraining pipelines (the intuition behind Gopher's repetition
  * rules, applied at byte level).
  *
  * Semantics: ratio over the UTF-8 encoding with a fresh DEFLATE stream
  * per value at BEST_SPEED, no zlib header (`nowrap`) — deterministic
  * for a given JVM's zlib. Empty strings yield 1.0 (nothing to
  * compress, no signal); null propagates null (UnaryExpression default).
  * Short strings report ratios > 1 (stream overhead dominates) — gate on
  * a length floor first, as the spec does.
  *
  * Executes inside whole-stage codegen as a single static call (same
  * pattern as [[HaversineExpression]]); the per-thread Deflater is
  * reused via ThreadLocal so the hot loop allocates only the output
  * scratch buffer. No DuckDB analog exists (no SQL zlib), so the
  * operator is spec-gated (CurationSpec), not oracle-gated — the same
  * tier as the multimodal decode surface.
  */
case class DeflateRatioExpression(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "deflate_ratio"

  override protected def nullSafeEval(input: Any): Any =
    DeflateRatioExpression.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.DeflateRatioExpression.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DeflateRatioExpression {

  private val deflaters = ThreadLocal.withInitial[java.util.zip.Deflater](() =>
    new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED, true))

  /** Called from generated code — must stay public + static-forwardable. */
  def compute(s: UTF8String): Double = {
    val raw = s.getBytes
    if (raw.length == 0) return 1.0
    val d = deflaters.get()
    d.reset()
    d.setInput(raw)
    d.finish()
    // The buffer need not hold the whole output (stored-block overhead is
    // ~5 bytes per 64 KB block, so inputs past ~800 KB can exceed the 64
    // spare bytes): the loop below only COUNTS bytes and re-presents the
    // same buffer across multiple deflate() passes.
    val out = new Array[Byte](raw.length + 64)
    var total = 0L
    while (!d.finished()) {
      val n = d.deflate(out, 0, out.length)
      if (n == 0 && !d.finished())
        return Double.NaN // cannot happen with finish(); guard anyway
      total += n
    }
    total.toDouble / raw.length
  }

  /** SQL / `call_function` builder for `deflate_ratio` (injected by [[GraftExtensions]]). */
  def builder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1, "deflate_ratio(text)")
    DeflateRatioExpression(Cast(exprs.head, StringType))
  }
}
