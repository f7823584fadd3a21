package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Mergeable heavy-hitters sketch (`freq_items_sketch(item, k)`) — the
  * Misra–Gries frequent-items summary as a proper Spark aggregate.
  *
  * "Top terms by exact count" needs a full groupBy over every distinct
  * item — at 100 TB of text that shuffle is sized by the VOCABULARY. This
  * aggregate keeps at most k counters per group; as a
  * TypedImperativeAggregate, Catalyst runs it partially, so each map task
  * ships ≤ k counters (not its rows, not its vocabulary) to the shuffle,
  * and summaries merge associatively (Agarwal et al., "Mergeable
  * Summaries", PODS'12: add counts, then subtract the (k+1)-th largest
  * and drop non-positives).
  *
  * Deterministic error contract instead of a probabilistic one (the HLL
  * counterpart is [[graft.operators.Sketches]]): every emitted item
  * carries [count_lo, count_hi] with count_lo ≤ true ≤ count_hi, where
  * count_hi − count_lo is the summary's accumulated decrement total ≤
  * n/(k+1). Any item with true count > n/(k+1) is GUARANTEED present —
  * false negatives are impossible for true heavy hitters; items with ≤ k
  * distinct values are exact (count_lo == count_hi).
  *
  * Result rows are ordered (count_lo DESC, item ASC). Exact counter
  * values CAN vary with partitioning (which decrements fire depends on
  * arrival/merge order) — that is inherent to MG, stays inside the
  * [count_lo, count_hi] interval, and is why this surface is spec-gated
  * (guarantees) rather than hash-gated (exact bytes) like the oracle
  * queries.
  */
case class FreqItemsAggregate(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[FreqItemsAggregate.Summary] {

  import FreqItemsAggregate.Summary

  require(k > 0, "freq_items_sketch: k must be positive")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = FreqItemsAggregate.resultType
  override def prettyName: String = "freq_items_sketch"

  override def createAggregationBuffer(): Summary = new Summary(mutable.HashMap.empty, 0L)

  override def update(buf: Summary, input: InternalRow): Summary = {
    val v = child.eval(input)
    if (v != null) {
      val item = v.asInstanceOf[UTF8String].toString
      val cur = buf.counts.getOrElse(item, 0L)
      if (cur > 0L || buf.counts.size < k) buf.counts.update(item, cur + 1L)
      else {
        // classic MG decrement-all; O(k) but only on rows that miss a
        // full counter table
        val dead = mutable.ArrayBuffer.empty[String]
        buf.counts.mapValuesInPlace { case (_, c) => c - 1L }
        buf.counts.foreach { case (i, c) => if (c <= 0L) dead += i }
        dead.foreach(buf.counts.remove)
        buf.decr += 1L
      }
    }
    buf
  }

  override def merge(a: Summary, b: Summary): Summary = {
    b.counts.foreach { case (i, c) => a.counts.update(i, a.counts.getOrElse(i, 0L) + c) }
    a.decr += b.decr
    if (a.counts.size > k) {
      // subtract the (k+1)-th largest count from everything, drop ≤0 —
      // the mergeable-summaries reduction to k counters
      val cut = a.counts.values.toArray.sorted(Ordering[Long].reverse).apply(k)
      val dead = mutable.ArrayBuffer.empty[String]
      a.counts.mapValuesInPlace { case (_, c) => c - cut }
      a.counts.foreach { case (i, c) => if (c <= 0L) dead += i }
      dead.foreach(a.counts.remove)
      a.decr += cut
    }
    a
  }

  override def eval(buf: Summary): Any = {
    val rows = buf.counts.toArray
      .sortBy { case (item, c) => (-c, item) }
      .map { case (item, c) =>
        new GenericInternalRow(Array[Any](UTF8String.fromString(item), c, c + buf.decr))
      }
    new GenericArrayData(rows.toArray[Any])
  }

  override def serialize(buf: Summary): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(out)
    dos.writeLong(buf.decr)
    dos.writeInt(buf.counts.size)
    buf.counts.foreach { case (i, c) =>
      val bytes = i.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      dos.writeInt(bytes.length)
      dos.write(bytes)
      dos.writeLong(c)
    }
    dos.flush()
    out.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Summary = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val decr = in.readLong()
    val n = in.readInt()
    val counts = mutable.HashMap.empty[String, Long]
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      counts.update(new String(b, java.nio.charset.StandardCharsets.UTF_8), in.readLong())
      i += 1
    }
    new Summary(counts, decr)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): FreqItemsAggregate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FreqItemsAggregate =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object FreqItemsAggregate {

  /** Counter table (≤ k live entries) + total decrement (the error bound
    * carried into every emitted [count_lo, count_hi] interval).
    */
  final class Summary(val counts: mutable.HashMap[String, Long], var decr: Long)

  val resultType: DataType = ArrayType(
    StructType(Seq(
      StructField("item", StringType, nullable = false),
      StructField("count_lo", LongType, nullable = false),
      StructField("count_hi", LongType, nullable = false))),
    containsNull = false)

  /** Builder for `freq_items_sketch(item, k)`: item a string column, k a
    * foldable integer literal.
    */
  def builder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, "freq_items_sketch(item, k)")
    val k = exprs(1).eval(InternalRow.empty) match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(s"k must be a literal int, got $other")
    }
    require(exprs.head.dataType == StringType,
      s"freq_items_sketch expects a string item, got ${exprs.head.dataType}")
    FreqItemsAggregate(exprs.head, k).toAggregateExpression()
  }
}
