package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructType}

/** Per-key top-k as a real aggregate function (`topk_rows(struct, k)`).
  *
  * The standard Spark formulation — `row_number() OVER (PARTITION BY key
  * ORDER BY ...)` then `rn <= k` — sorts EVERY row of every key and
  * shuffles them all. This aggregate keeps a bounded k-element heap per
  * key and, because it is a proper aggregate, Catalyst runs it
  * partially: each map task reduces its rows to ≤k per key BEFORE the
  * shuffle. At 100 TB with k=3 that is the difference between shuffling
  * the fact table and shuffling 3 rows per key.
  *
  * Contract: the child struct's field 0 is a DOUBLE sort key (descending),
  * field 1 a LONG tiebreaker (ascending); remaining fields are payload.
  * Result: array<struct> of the top-k rows in rank order.
  */
case class TopKAggregate(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.ArrayBuffer[UnsafeRow]] {

  private lazy val structType = child.dataType.asInstanceOf[StructType]
  require(k > 0, "topk_rows: k must be positive")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def prettyName: String = "topk_rows"

  // rank order: field0 double DESC, field1 long ASC
  private def better(a: InternalRow, b: InternalRow): Boolean = {
    val sa = a.getDouble(0); val sb = b.getDouble(0)
    if (sa != sb) sa > sb
    else a.getLong(1) < b.getLong(1)
  }

  @transient private lazy val toUnsafe = UnsafeProjection.create(structType)

  override def createAggregationBuffer(): mutable.ArrayBuffer[UnsafeRow] =
    mutable.ArrayBuffer.empty

  private def insert(buf: mutable.ArrayBuffer[UnsafeRow], row: UnsafeRow): Unit = {
    // k is small (top-N queries): insertion into a sorted bounded buffer
    // beats heap constant factors and keeps rank order ready for eval
    var i = buf.length
    while (i > 0 && better(row, buf(i - 1))) i -= 1
    if (i < k) {
      buf.insert(i, row)
      if (buf.length > k) buf.remove(buf.length - 1)
    }
  }

  override def update(
      buf: mutable.ArrayBuffer[UnsafeRow], input: InternalRow): mutable.ArrayBuffer[UnsafeRow] = {
    val v = child.eval(input)
    if (v != null) insert(buf, toUnsafe(v.asInstanceOf[InternalRow]).copy())
    buf
  }

  override def merge(
      a: mutable.ArrayBuffer[UnsafeRow], b: mutable.ArrayBuffer[UnsafeRow]): mutable.ArrayBuffer[UnsafeRow] = {
    b.foreach(insert(a, _))
    a
  }

  override def eval(buf: mutable.ArrayBuffer[UnsafeRow]): Any =
    new GenericArrayData(buf.toArray[Any])

  override def serialize(buf: mutable.ArrayBuffer[UnsafeRow]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(out)
    dos.writeInt(buf.length)
    buf.foreach { r =>
      val bytes = r.getBytes
      dos.writeInt(bytes.length)
      dos.write(bytes)
    }
    dos.flush()
    out.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.ArrayBuffer[UnsafeRow] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.ArrayBuffer.empty[UnsafeRow]
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val rowBytes = new Array[Byte](len)
      in.readFully(rowBytes)
      val row = new UnsafeRow(structType.length)
      row.pointTo(rowBytes, len)
      buf += row
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAggregate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAggregate =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object TopKAggregate {

  /** Builder for `topk_rows(struct, k)`; the struct contract is documented on
    * the class. k must be a foldable integer literal.
    */
  def builder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, "topk_rows(struct, k)")
    val k = exprs(1).eval(InternalRow.empty) match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(s"k must be a literal int, got $other")
    }
    val c = exprs.head
    c.dataType match {
      case s: StructType =>
        require(s.length >= 2 && s(0).dataType == DoubleType && s(1).dataType == LongType,
          "topk_rows: struct fields must start with (sort: double, tiebreak: long)")
      case other => throw new IllegalArgumentException(s"topk_rows expects a struct, got $other")
    }
    TopKAggregate(c, k).toAggregateExpression()
  }
}
