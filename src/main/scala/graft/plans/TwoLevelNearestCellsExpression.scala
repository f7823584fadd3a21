package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** The two-level (coarse √C → fine) IVF cell assignment as ONE
  * expression — [[NearestCellsExpression]]'s structure applied to the
  * n·√C·d kernel.
  *
  * Why: at the 100 TB shape C grows with the corpus (tens of thousands
  * of cells), and even the zero-shuffle flat matrix kernel pays n·C·d
  * compute per assignment pass. The two-level contract (rank G ≈ √C
  * coarse group centers, explore only the `coarseProbes` nearest groups,
  * fine-rank their member cells — ~(G + P·C/G)·d per row) existed only
  * as the C-literal CASE chain, which is allocation-bound at hundreds of
  * cells (29 s at C=512 where the flat matrix kernel needs 0.2 s) and
  * not constructible at all at corpus-scale C. This expression carries
  * the group structure in its reference object — zero shuffle, O(1)
  * plan nodes — making the n·√C·d tier actually usable at the scale it
  * exists for. Measured (20k vectors, local[32], warm): 0.27 s at
  * C=512 and 0.35 s at C=2048, where the literal chain needed 128 s;
  * on one partition at C=2048/d=64 it edges the flat matrix kernel
  * (1.47 vs 1.73 s). The crossover runs the other way when the sweep is
  * memory-bandwidth-bound: at d=1536 × C=2048 (a 25 MB matrix) it reads
  * 5.27 s against the flat kernel's 3.55 s (51 vs 45 s on one
  * partition) — ~4× fewer doubles touched, but in per-group scattered
  * order, where the flat kernel's sequential sweep keeps the
  * prefetcher. The tier pays off in the compute-bound regime (small to
  * mid d) and in flop count at C ≫ 10³; ScaleBench's `highd` leg keeps
  * the d=1536 reading current in docs/BENCH_SCALE.json.
  *
  * Semantics are the literal two-level kernel's, bit for bit (pinned by
  * SimilaritySpec): coarse distance `cg·cg − 2·v·cg` with left-to-right
  * summation, groups selected by (distance asc, group-id asc); fine
  * distance `c·c − 2·v·c` over the union of the selected groups'
  * members, ranked (distance asc, cell asc). Same approximation
  * contract: a vector on a coarse Voronoi face may assign to its
  * second-best cell — probe correctness never depends on assignment
  * optimality, only cell balance and candidate recall do.
  */
case class TwoLevelNearestCellsExpression(
    child: Expression,
    cells: Array[Int], // all cells ascending; index-aligned with cents/ccs
    cents: Array[Array[Double]],
    ccs: Array[Double],
    centers: Array[Array[Double]], // G coarse group centers
    ccg: Array[Double], // their self-dots (left-to-right sums)
    members: Array[Array[Int]], // per group: indices into cells/cents
    coarseProbes: Int,
    nProbe: Int) extends UnaryExpression {

  require(nProbe >= 1 && coarseProbes >= 1, "nProbe and coarseProbes must be >= 1")
  require(cells.length == cents.length && cells.length == ccs.length,
    "cells/cents/ccs must be aligned")
  require(centers.length == ccg.length && centers.length == members.length,
    "centers/ccg/members must be aligned")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "ivf_nearest_cells_2l"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"ivf_nearest_cells_2l expects array<double>, got $other")
    }

  override protected def stringArgs: Iterator[Any] =
    Iterator(child, s"C=${cells.length}", s"G=${centers.length}",
      s"coarseProbes=$coarseProbes", s"nProbe=$nProbe")

  override protected def nullSafeEval(v: Any): Any =
    compute(v.asInstanceOf[ArrayData])

  private def dot(vec: ArrayData, c: Array[Double]): Double = {
    val n = math.min(vec.numElements(), c.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += vec.getDouble(i) * c(i); i += 1 }
    s
  }

  /** Hot loop — also the codegen target via the reference object. */
  def compute(vec: ArrayData): ArrayData = {
    // 1. coarse: top-coarseProbes groups by (distance asc, group asc).
    //    Iteration is group-ascending, so a strictly-less shift keeps the
    //    literal kernel's tie order without comparing group ids.
    val p = math.min(coarseProbes, centers.length)
    val gd = new Array[Double](p)
    val gi = new Array[Int](p)
    var gSize = 0
    var g = 0
    while (g < centers.length) {
      val d = ccg(g) - 2.0 * dot(vec, centers(g))
      if (gSize < p || d < gd(gSize - 1)) {
        var j = if (gSize < p) gSize else p - 1
        while (j > 0 && d < gd(j - 1)) { gd(j) = gd(j - 1); gi(j) = gi(j - 1); j -= 1 }
        gd(j) = d
        gi(j) = g
        if (gSize < p) gSize += 1
      }
      g += 1
    }
    // 2. fine: top-nProbe over the selected groups' members by
    //    (distance asc, cell asc). Member iteration is NOT globally
    //    cell-ascending across groups, so ties compare cell ids
    //    explicitly — the literal kernel's global array_sort order.
    val k = nProbe // may exceed explored cells; emit what exists
    val bd = new Array[Double](k)
    val bc = new Array[Int](k)
    var size = 0
    var s = 0
    while (s < gSize) {
      val mem = members(gi(s))
      var m = 0
      while (m < mem.length) {
        val idx = mem(m)
        val d = ccs(idx) - 2.0 * dot(vec, cents(idx))
        val cell = cells(idx)
        if (size < k || d < bd(size - 1) || (d == bd(size - 1) && cell < bc(size - 1))) {
          var j = if (size < k) size else k - 1
          while (j > 0 && (d < bd(j - 1) || (d == bd(j - 1) && cell < bc(j - 1)))) {
            bd(j) = bd(j - 1); bc(j) = bc(j - 1); j -= 1
          }
          bd(j) = d
          bc(j) = cell
          if (size < k) size += 1
        }
        m += 1
      }
      s += 1
    }
    new GenericArrayData(if (size == bc.length) bc else java.util.Arrays.copyOf(bc, size))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("twoLevelNearestCells", this,
      classOf[TwoLevelNearestCellsExpression].getName)
    defineCodeGen(ctx, ev, v => s"$ref.compute($v)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TwoLevelNearestCellsExpression {

  /** Column over `vec` yielding the nProbe nearest cells among the
    * `coarseProbes` nearest groups' members. `cents` is the loaded
    * centroid table (sorted by cell here); `grouping` maps each sorted
    * centroid position to its coarse group, `centers` are the group
    * centers (both from [[graft.operators.IvfIndex]]'s driver-side
    * k-means over the C metadata rows).
    */
  def column(vec: Column, cents: Seq[(Int, Array[Double])],
      centers: Array[Array[Double]], grouping: Array[Int],
      coarseProbes: Int, nProbe: Int): Column = {
    import org.apache.spark.sql.{functions => F}
    val sorted = cents.sortBy(_._1)
    require(grouping.length == sorted.length,
      "grouping must assign every (sorted) centroid to a group")
    val centsLit = F.typedlit(sorted.map { case (id, c) => (id, c.toSeq) })
    val groupsLit = F.typedlit(centers.indices.map { g =>
      (centers(g).toSeq,
        grouping.indices.filter(grouping(_) == g).map(identity))
    })
    F.call_function("ivf_nearest_cells_2l", vec, centsLit, groupsLit,
      F.lit(coarseProbes), F.lit(nProbe))
  }

  def builder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 5,
      "ivf_nearest_cells_2l(vec, cents literal, groups literal, coarseProbes, nProbe)")
    require(exprs.drop(1).forall(_.foldable),
      "ivf_nearest_cells_2l: all arguments past vec must be literals")
    val centRows = exprs(1).eval().asInstanceOf[ArrayData]
    val n = centRows.numElements()
    val cells = new Array[Int](n)
    val cents = new Array[Array[Double]](n)
    val ccs = new Array[Double](n)
    var i = 0
    while (i < n) {
      val r = centRows.getStruct(i, 2)
      cells(i) = r.getInt(0)
      cents(i) = r.getArray(1).toDoubleArray()
      var s = 0.0
      var j = 0
      while (j < cents(i).length) { s += cents(i)(j) * cents(i)(j); j += 1 }
      ccs(i) = s
      i += 1
    }
    val groupRows = exprs(2).eval().asInstanceOf[ArrayData]
    val gN = groupRows.numElements()
    val centers = new Array[Array[Double]](gN)
    val ccg = new Array[Double](gN)
    val members = new Array[Array[Int]](gN)
    var g = 0
    while (g < gN) {
      val r = groupRows.getStruct(g, 2)
      centers(g) = r.getArray(0).toDoubleArray()
      var s = 0.0
      var j = 0
      while (j < centers(g).length) { s += centers(g)(j) * centers(g)(j); j += 1 }
      ccg(g) = s
      members(g) = r.getArray(1).toIntArray()
      g += 1
    }
    TwoLevelNearestCellsExpression(exprs(0), cells, cents, ccs,
      centers, ccg, members,
      exprs(3).eval().asInstanceOf[Number].intValue(),
      exprs(4).eval().asInstanceOf[Number].intValue())
  }
}
