package graft.plans

import scala.collection.Searching.{Found, InsertionPoint}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded min/max synopsis — the auxiliary state that makes MIN/MAX
  * incrementally maintainable under deletes ([[graft.layers.IncrementalView]]).
  *
  * A plain min is not a group under addition: deleting the minimum forces
  * a rescan of the group. The classic escape (bounded-synopsis IVM) is to
  * retain the k smallest values per group plus a threshold `tau` bounding
  * everything NOT retained; min stays answerable from the synopsis until
  * deletes drain all k retained values, and only then does that one group
  * rescan. This object holds the pure state transitions — shared verbatim
  * by the aggregate below (bootstrap/rescan path) and by
  * `IncrementalView.applyChangesExtremes` (feed-apply path), so both
  * paths provably maintain the same invariants:
  *
  *   - lo side: `vals` = up to k retained values sorted asc; every
  *     UNretained group value is `>= tau` (`tau = None` ⇒ nothing was ever
  *     discarded ⇒ vals IS the whole group). While `vals` is nonempty,
  *     `vals.head` is the exact group minimum: retained values only enter
  *     below `tau`, `tau` only decreases (min over evictions), so no
  *     unretained value can undercut the retained head.
  *   - hi side: mirror image for max (`vals.last`, unretained `<= tau`,
  *     `tau` = max over evictions).
  *   - exhausted: `vals` empty with `tau` defined — retained values
  *     drained while discarded mass may remain; the caller rescans THAT
  *     GROUP from the base (the documented escalation, now code).
  *
  * k trades memory (8·2k bytes per group) against rescan frequency: a
  * group rescans only after k deletes land on its extreme tail between
  * refreshes. Values are BIGINT by contract — the engine's oracle-parity
  * taxonomy keeps decision-bearing measures integral (QueryPack), and it
  * makes the synopsis exact (no float ties).
  */
object BoundedExtremes {

  /** One side of the synopsis; `vals` sorted ascending, size <= k. */
  final case class Side(vals: Vector[Long], tau: Option[Long])

  val emptySide: Side = Side(Vector.empty, None)

  /** Retained-set state for one group: `lo` bounds min, `hi` bounds max. */
  final case class State(lo: Side, hi: Side)

  val empty: State = State(emptySide, emptySide)

  private def insertSorted(vals: Vector[Long], v: Long): Vector[Long] = {
    val i = vals.search(v) match {
      case Found(idx) => idx
      case InsertionPoint(idx) => idx
    }
    (vals.take(i) :+ v) ++ vals.drop(i)
  }

  def insertLo(s: Side, v: Long, k: Int): Side =
    if (s.tau.exists(v >= _)) s // joins the unretained mass, bound holds
    else {
      val vals = insertSorted(s.vals, v)
      if (vals.size > k)
        Side(vals.init, Some(s.tau.fold(vals.last)(math.min(_, vals.last))))
      else Side(vals, s.tau)
    }

  def insertHi(s: Side, v: Long, k: Int): Side =
    if (s.tau.exists(v <= _)) s
    else {
      val vals = insertSorted(s.vals, v)
      if (vals.size > k)
        Side(vals.tail, Some(s.tau.fold(vals.head)(math.max(_, vals.head))))
      else Side(vals, s.tau)
    }

  /** Remove one retained instance of `v`; an unretained delete must sit
    * beyond `tau` or the feed is inconsistent with the synopsis — fail
    * loudly rather than serve a silently wrong extreme.
    */
  def deleteLo(s: Side, v: Long): Side = {
    val i = s.vals.indexOf(v) // vals is <= k elements, linear scan is fine
    if (i >= 0) Side(s.vals.patch(i, Nil, 1), s.tau)
    else {
      require(s.tau.exists(v >= _),
        s"bounded_extremes: delete of $v is neither retained nor >= tau ${s.tau} — " +
          "change feed inconsistent with the synopsis state")
      s
    }
  }

  def deleteHi(s: Side, v: Long): Side = {
    val i = s.vals.indexOf(v)
    if (i >= 0) Side(s.vals.patch(i, Nil, 1), s.tau)
    else {
      require(s.tau.exists(v <= _),
        s"bounded_extremes: delete of $v is neither retained nor <= tau ${s.tau} — " +
          "change feed inconsistent with the synopsis state")
      s
    }
  }

  def insert(st: State, v: Long, k: Int): State =
    State(insertLo(st.lo, v, k), insertHi(st.hi, v, k))

  def delete(st: State, v: Long): State =
    State(deleteLo(st.lo, v), deleteHi(st.hi, v))

  /** Merge two build-phase partial states (no deletes yet): fold b's
    * retained values through insert, then tighten `tau` to cover BOTH
    * unretained masses. A proper commutative monoid, so Catalyst can run
    * the aggregate partially (map-side) before the shuffle.
    */
  def merge(a: State, b: State, k: Int): State = {
    val lo = b.lo.vals.foldLeft(a.lo)((s, v) => insertLo(s, v, k))
    val hi = b.hi.vals.foldLeft(a.hi)((s, v) => insertHi(s, v, k))
    State(
      Side(lo.vals, minOpt(lo.tau, b.lo.tau)),
      Side(hi.vals, maxOpt(hi.tau, b.hi.tau)))
  }

  private def minOpt(a: Option[Long], b: Option[Long]): Option[Long] = (a, b) match {
    case (Some(x), Some(y)) => Some(math.min(x, y))
    case _ => a.orElse(b)
  }
  private def maxOpt(a: Option[Long], b: Option[Long]): Option[Long] = (a, b) match {
    case (Some(x), Some(y)) => Some(math.max(x, y))
    case _ => a.orElse(b)
  }

  /** Retained values drained while discarded mass may remain — the group
    * must rescan from the base before its extreme is answerable again.
    */
  def exhausted(st: State): Boolean =
    (st.lo.vals.isEmpty && st.lo.tau.isDefined) ||
      (st.hi.vals.isEmpty && st.hi.tau.isDefined)

  /** Result schema of `bounded_extremes` and the aux-table column block. */
  val structType: StructType = StructType(Seq(
    StructField("lo", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("lo_tau", LongType, nullable = true),
    StructField("hi", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("hi_tau", LongType, nullable = true)))
}

/** `bounded_extremes(value: bigint, k)` — builds the per-group
  * [[BoundedExtremes.State]] as a real partial aggregate: each map task
  * reduces its rows to a <= 2k-value synopsis per key BEFORE the shuffle,
  * so bootstrap/rescan never collects a group (at 100 TB a hot group can
  * be billions of rows; `sort_array(collect_list(...))` would OOM the
  * task that owns it). Nulls are ignored (SQL MIN/MAX semantics).
  */
case class BoundedExtremesAggregate(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BoundedExtremes.State] {

  require(k > 0, "bounded_extremes: k must be positive")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BoundedExtremes.structType
  override def prettyName: String = "bounded_extremes"

  override def createAggregationBuffer(): BoundedExtremes.State =
    BoundedExtremes.empty

  override def update(buf: BoundedExtremes.State, input: InternalRow): BoundedExtremes.State = {
    val v = child.eval(input)
    if (v == null) buf else BoundedExtremes.insert(buf, v.asInstanceOf[Long], k)
  }

  override def merge(a: BoundedExtremes.State, b: BoundedExtremes.State): BoundedExtremes.State =
    BoundedExtremes.merge(a, b, k)

  override def eval(buf: BoundedExtremes.State): Any =
    new GenericInternalRow(Array[Any](
      new GenericArrayData(buf.lo.vals.toArray),
      buf.lo.tau.map(Long.box).orNull,
      new GenericArrayData(buf.hi.vals.toArray),
      buf.hi.tau.map(Long.box).orNull))

  override def serialize(buf: BoundedExtremes.State): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(out)
    def side(s: BoundedExtremes.Side): Unit = {
      dos.writeInt(s.vals.length)
      s.vals.foreach(dos.writeLong)
      dos.writeBoolean(s.tau.isDefined)
      s.tau.foreach(dos.writeLong)
    }
    side(buf.lo); side(buf.hi)
    dos.flush()
    out.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): BoundedExtremes.State = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    def side(): BoundedExtremes.Side = {
      val n = in.readInt()
      val vals = Vector.fill(n)(in.readLong())
      val tau = if (in.readBoolean()) Some(in.readLong()) else None
      BoundedExtremes.Side(vals, tau)
    }
    BoundedExtremes.State(side(), side())
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedExtremesAggregate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedExtremesAggregate =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object BoundedExtremesAggregate {

  /** Builder for `bounded_extremes(value, k)`; value must be BIGINT and k a
    * literal int (the synopsis-size contract documented on the class).
    */
  def builder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, "bounded_extremes(value, k)")
    val k = exprs(1).eval(InternalRow.empty) match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(s"k must be a literal int, got $other")
    }
    require(exprs.head.dataType == LongType,
      s"bounded_extremes expects a BIGINT value, got ${exprs.head.dataType} — " +
        "cast integral measures to long; float extremes need the rebuild path")
    BoundedExtremesAggregate(exprs.head, k).toAggregateExpression()
  }
}
