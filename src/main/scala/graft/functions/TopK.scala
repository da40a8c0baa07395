package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpectsInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Exact per-group top-k as a TypedImperativeAggregate — the map-side-
  * combine answer to "top N rows per group".
  *
  * The window formulation (`row_number() OVER (PARTITION BY g ORDER BY
  * ord DESC) <= k`, q07) shuffles EVERY fact row to its group's
  * partition and sorts there. This aggregate keeps a bounded k-element
  * buffer per group per task, so the shuffle carries at most
  * `tasks × groups × k` rows — at 100 TB with k=3 that is the
  * difference between shuffling the table and shuffling kilobytes.
  * Partial aggregation (update on map side, merge of k-bounded buffers
  * on reduce side) is exactly Spark's two-phase agg; no custom physical
  * operator needed.
  *
  * Ordering: (ord DESC, key ASC) — the key is both payload and
  * deterministic tiebreak, so results are stable under any
  * partitioning and hash-match an `ORDER BY ord DESC, key LIMIT k`
  * oracle. Returns `array<struct<ord double, key long>>` sorted best
  * first. NULL ord/key inputs are skipped (SQL aggregate semantics).
  */
case class TopKAgg(
    ord: Expression,
    key: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] with ExpectsInputTypes {

  require(k > 0, "TopKAgg requires k > 0")

  // fail at ANALYSIS time on a wrong-typed ord/key (the update() casts
  // are unchecked) — callers cast explicitly, like every built-in agg
  override def inputTypes: Seq[DataType] = Seq(DoubleType, LongType)

  override def children: Seq[Expression] = Seq(ord, key)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("ord", DoubleType, nullable = false),
      StructField("key", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_topk"

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(b: TopKBuffer, input: InternalRow): TopKBuffer = {
    val o = ord.eval(input)
    val key0 = key.eval(input)
    if (o != null && key0 != null)
      b.insert(o.asInstanceOf[Double], key0.asInstanceOf[Long])
    b
  }

  override def merge(b: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    b.mergeFrom(other); b
  }

  override def eval(b: TopKBuffer): Any =
    new GenericArrayData(b.sorted.map { case (o, id) =>
      InternalRow(o, id)
    })

  override def serialize(b: TopKBuffer): Array[Byte] = b.toBytes
  override def deserialize(bytes: Array[Byte]): TopKBuffer =
    TopKBuffer.fromBytes(k, bytes)

  override def withNewMutableAggBufferOffset(o: Int): TopKAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression =
    copy(ord = c(0), key = c(1))
}

/** Bounded top-k holder: flat parallel arrays, insertion keeps the
  * worst element at a known index only when full — O(k) insert, O(1)
  * reject once saturated (the common case on big data: almost every
  * row loses to the current floor and costs one comparison).
  */
final class TopKBuffer(k: Int) {
  private val ords = new Array[Double](k)
  private val keys = new Array[Long](k)
  private var n = 0

  /** true if (o1,k1) ranks strictly better than (o2,k2). */
  @inline private def better(o1: Double, k1: Long, o2: Double, k2: Long): Boolean =
    o1 > o2 || (o1 == o2 && k1 < k2)

  private def worstIdx: Int = {
    var w = 0
    var i = 1
    while (i < n) {
      if (better(ords(w), keys(w), ords(i), keys(i))) w = i
      i += 1
    }
    w
  }

  def insert(o: Double, key: Long): Unit =
    if (n < k) { ords(n) = o; keys(n) = key; n += 1 }
    else {
      val w = worstIdx
      if (better(o, key, ords(w), keys(w))) { ords(w) = o; keys(w) = key }
    }

  def mergeFrom(other: TopKBuffer): Unit = {
    var i = 0
    while (i < other.n) { insert(other.ords(i), other.keys(i)); i += 1 }
  }

  def sorted: Array[(Double, Long)] = {
    val out = Array.tabulate(n)(i => (ords(i), keys(i)))
    out.sortWith { case ((o1, k1), (o2, k2)) => better(o1, k1, o2, k2) }
  }

  def toBytes: Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + n * 16)
    bb.putInt(n)
    var i = 0
    while (i < n) { bb.putDouble(ords(i)); bb.putLong(keys(i)); i += 1 }
    bb.array()
  }
}

object TopKBuffer {
  def fromBytes(k: Int, bytes: Array[Byte]): TopKBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val b = new TopKBuffer(k)
    val n = bb.getInt()
    var i = 0
    while (i < n) { b.insert(bb.getDouble(), bb.getLong()); i += 1 }
    b
  }
}
