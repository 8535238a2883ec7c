package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** K-Minimum-Values sketch as a FIRST-CLASS aggregate function — a
  * `TypedImperativeAggregate` whose buffer is the running set of the
  * K smallest DISTINCT input values (a bounded TreeSet).
  *
  * This is the shape that matters at 100 TB: the relational KMV
  * (`distinct` → window rank → filter rn ≤ K) must shuffle every
  * distinct hash to rank it; as an aggregate, each map task keeps at
  * most K values per group and PARTIAL AGGREGATION merges sketches in
  * the combiners — the shuffle carries ≤ K longs per (task, group),
  * the textbook mergeable-sketch contract (same reason Spark ships
  * HLL++ as a TypedImperativeAggregate). Results are identical to the
  * relational form because "K smallest distinct" is merge-order-free.
  *
  * Emits the sketch as a sorted `array<long>` so the estimator
  * ((K-1)·M / h_K, exact below K) stays a plain column expression the
  * DuckDB oracle replays. Registered as `kmv_agg(h, k)`.
  */
case class KmvAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]]
    with UnaryLike[Expression] {

  require(k > 0, "kmv_agg needs a positive sketch size")

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  override def update(buf: java.util.TreeSet[java.lang.Long],
                      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) insert(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: java.util.TreeSet[java.lang.Long],
                     other: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = other.iterator()
    while (it.hasNext) insert(buf, it.next())
    buf
  }

  /** Keep the K smallest distinct values: skip values above the
    * current K-th once the sketch is full (O(log K) per input). */
  private def insert(buf: java.util.TreeSet[java.lang.Long], v: Long): Unit = {
    if (buf.size < k) { buf.add(v); () }
    else if (v < buf.last) {
      if (buf.add(v)) { buf.pollLast(); () }
    }
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
    val arr = new Array[Long](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    new GenericArrayData(arr)
  }

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * buf.size)
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val buf = createAggregationBuffer()
    val bb = ByteBuffer.wrap(bytes)
    while (bb.hasRemaining) buf.add(bb.getLong)
    buf
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "kmv_agg"

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KmvAgg =
    copy(child = newChild)
}
