package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Band join — inner equi-join on a key PLUS a time-band predicate
  * `|left.ts - right.ts| <= band` — as a full custom operator
  * (LogicalPlan + Strategy + SparkPlan), the tier-(c) pattern from the
  * build brief.
  *
  * Why a custom node is justified here (unlike haversine/as-of, which
  * compose): Catalyst plans a join whose condition mixes an equality with
  * a range as a sort-merge join on the key that buffers EVERY right row
  * of the key group, or (without statistics) a broadcast nested-loop —
  * both quadratic in group size. This exec co-partitions both sides by
  * key, sorts by (key, ts), and streams a sliding window: each right row
  * enters the buffer once and leaves once, so the cost is
  * O(n log n + matches) per partition and the memory bound is the band
  * width, not the key-group size.
  *
  * Restrictions (kept intentionally minimal for the showcase): LONG key
  * column and TIMESTAMP ts column on both sides; inner join; null keys
  * drop (standard inner-join semantics).
  */
object BandJoin {

  case class BandJoinPlan(
      left: LogicalPlan, right: LogicalPlan,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      bandUs: Long) extends BinaryNode {
    override def output: Seq[Attribute] = left.output ++ right.output
    // the key/ts columns are referenced by NAME (no Expression children),
    // so declare every input as referenced — otherwise ColumnPruning
    // pushes a Project below us and the name lookup (and output contract)
    // breaks. Callers should pre-project the sides to what they need.
    override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
      org.apache.spark.sql.catalyst.expressions.AttributeSet(left.output ++ right.output)
    override protected def withNewChildrenInternal(l: LogicalPlan, r: LogicalPlan): LogicalPlan =
      copy(left = l, right = r)
  }

  object BandJoinStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case BandJoinPlan(l, r, lk, rk, lts, rts, band) =>
        BandJoinExec(planLater(l), planLater(r), lk, rk, lts, rts, band) :: Nil
      case _ => Nil
    }
  }

  case class BandJoinExec(
      left: SparkPlan, right: SparkPlan,
      leftKeyName: String, rightKeyName: String,
      leftTsName: String, rightTsName: String,
      bandUs: Long) extends BinaryExecNode {

    override def output: Seq[Attribute] = left.output ++ right.output

    private def attr(side: SparkPlan, name: String): Attribute =
      side.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found in ${side.output}"))

    override def requiredChildDistribution: Seq[Distribution] =
      ClusteredDistribution(Seq(attr(left, leftKeyName))) ::
        ClusteredDistribution(Seq(attr(right, rightKeyName))) :: Nil

    override def requiredChildOrdering: Seq[Seq[SortOrder]] =
      Seq(
        Seq(SortOrder(attr(left, leftKeyName), org.apache.spark.sql.catalyst.expressions.Ascending),
          SortOrder(attr(left, leftTsName), org.apache.spark.sql.catalyst.expressions.Ascending)),
        Seq(SortOrder(attr(right, rightKeyName), org.apache.spark.sql.catalyst.expressions.Ascending),
          SortOrder(attr(right, rightTsName), org.apache.spark.sql.catalyst.expressions.Ascending)))

    override protected def doExecute(): RDD[InternalRow] = {
      val lKeyOrd = left.output.indexWhere(_.name == leftKeyName)
      val lTsOrd = left.output.indexWhere(_.name == leftTsName)
      val rKeyOrd = right.output.indexWhere(_.name == rightKeyName)
      val rTsOrd = right.output.indexWhere(_.name == rightTsName)
      val band = bandUs
      val schema = output.map(_.dataType).toArray

      left.execute().zipPartitions(right.execute()) { (lIter0, rIter0) =>
        val proj = UnsafeProjection.create(schema)
        val joined = new JoinedRow
        val rIter = rIter0.buffered
        val buffer = new java.util.ArrayDeque[UnsafeRow]()
        var bufferedKey = Long.MinValue

        new Iterator[InternalRow] {
          private var outRows: Iterator[InternalRow] = Iterator.empty

          private def advance(): Unit = {
            while (outRows.isEmpty && lIter0.hasNext) {
              val lRow = lIter0.next()
              if (!lRow.isNullAt(lKeyOrd) && !lRow.isNullAt(lTsOrd)) {
                val lKey = lRow.getLong(lKeyOrd)
                val lTs = lRow.getLong(lTsOrd)
                if (lKey != bufferedKey) { buffer.clear(); bufferedKey = lKey }
                // pull right rows: skip keys below, buffer this key's rows
                // up to lTs + band (they stay for subsequent left rows)
                var pulling = true
                while (pulling && rIter.hasNext) {
                  val h = rIter.head
                  if (h.isNullAt(rKeyOrd) || h.isNullAt(rTsOrd)) { rIter.next() }
                  else {
                    val rk = h.getLong(rKeyOrd)
                    if (rk < lKey) rIter.next()
                    else if (rk == lKey && h.getLong(rTsOrd) <= lTs + band) {
                      buffer.addLast(rIter.next().asInstanceOf[UnsafeRow].copy())
                    } else pulling = false
                  }
                }
                // evict rows that fell behind the band
                while (!buffer.isEmpty && buffer.peekFirst().getLong(rTsOrd) < lTs - band)
                  buffer.removeFirst()
                if (!buffer.isEmpty) {
                  val lCopy = lRow.copy()
                  val snapshot = buffer.toArray(new Array[UnsafeRow](buffer.size()))
                  outRows = snapshot.iterator.map(r => proj(joined(lCopy, r)))
                }
              }
            }
          }

          override def hasNext: Boolean = { if (outRows.isEmpty) advance(); outRows.nonEmpty }
          override def next(): InternalRow = { if (outRows.isEmpty) advance(); outRows.next() }
        }
      }
    }

    override protected def withNewChildrenInternal(l: SparkPlan, r: SparkPlan): SparkPlan =
      copy(left = l, right = r)
  }

  /** User API: inner band join. Builds the logical node from the
    * analyzed child plans; [[BandJoinStrategy]], injected by
    * [[GraftExtensions]], plans it. Columns must be unambiguous across
    * the two sides.
    */
  def join(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      bandUs: Long): DataFrame = {
    val spark = left.sparkSession
    org.apache.spark.sql.graft.DatasetBridge.ofRows(spark,
      BandJoinPlan(
        left.queryExecution.analyzed, right.queryExecution.analyzed,
        leftKey, rightKey, leftTs, rightTs, bandUs))
  }
}
