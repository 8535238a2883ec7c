package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Sign-LSH bucket values as a FIRST-CLASS aggregate — the
  * [[MinhashAgg]]/[[SimhashAgg]] treatment applied to
  * [[graft.functions.VecFns.portableBuckets]]: the buffer is the
  * running plane-projection vector
  * `p[k] += planeSign(k, d) ? q : -q` over a vector's quantized
  * (d, q) component rows (identical integer ops to the scalar form:
  * sign = parity of pmod((k·MaxDim + d + 1)·HashMult, P)), and eval
  * folds sign bits into `tables` bucket longs
  * (bit r of table t = p[t·bits + r] > 0).
  *
  * Why: the scalar form planned bits·tables independent
  * `sum(when(planeSign…))` aggregates — 32 for the D-family layout,
  * 96 for dedup_embedding_lsh — one giant codegen class per layout
  * and as many buffer slots per vector. This buffer is one tight
  * planes-long loop over a PRECOMPUTED (plane, dim) sign table
  * (512·planes booleans, built once per JVM per layout); partial
  * aggregation still merges projection partials map-side, so the
  * id-keyed shuffle carries exactly planes longs per (task, id).
  *
  * Emits `array<long>` of length tables (bucket value per table;
  * callers posexplode into the (t, b) equi-join keys). Registered as
  * `signlsh_agg(d, q, bits, tables)`.
  */
case class SignLshAgg(
    left: Expression,
    right: Expression,
    bits: Int,
    tables: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]]
    with BinaryLike[Expression] {

  require(bits > 0 && bits <= 63 && tables > 0 &&
    bits * tables <= SignLshAgg.MaxPlanes,
    s"signlsh_agg needs 0 < bits <= 63 and bits*tables <= ${SignLshAgg.MaxPlanes}")

  private val planes: Int = bits * tables
  // one shared immutable sign table per (bits·tables) layout
  private val signs: Array[Array[Boolean]] = SignLshAgg.signTable(planes)

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](planes)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val dv = left.eval(input)
    val qv = right.eval(input)
    if (dv != null && qv != null) {
      val d = dv.asInstanceOf[Int]
      val q = qv.asInstanceOf[Long]
      if (d >= 0 && d < graft.functions.VecFns.MaxDim) {
        var k = 0
        while (k < planes) {
          buf(k) += (if (signs(k)(d)) q else -q)
          k += 1
        }
      } else {
        // out-of-table dimension: fall back to the direct hash — the
        // scalar form computes this index for ANY d, so the kernel
        // must too rather than reject it
        var k = 0
        while (k < planes) {
          buf(k) += (if (SignLshAgg.signOf(k, d)) q else -q)
          k += 1
        }
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var k = 0
    while (k < planes) { buf(k) += other(k); k += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = {
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var b = 0L
      var r = 0
      while (r < bits) {
        if (buf(t * bits + r) > 0) b |= (1L << r)
        r += 1
      }
      out(t) = b
      t += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * planes)
    var k = 0
    while (k < planes) { bb.putLong(buf(k)); k += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new Array[Long](planes)
    var k = 0
    while (k < planes) { buf(k) = bb.getLong; k += 1 }
    buf
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "signlsh_agg"

  override def withNewMutableAggBufferOffset(newOffset: Int): SignLshAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SignLshAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SignLshAgg =
    copy(left = newLeft, right = newRight)
}

object SignLshAgg {
  import graft.functions.VecFns.{HashMult, MaxDim, P}

  /** Generous planes ceiling (the largest layout in use is 96). */
  val MaxPlanes = 256

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Boolean]]]()

  /** signs(k)(d) = parity of pmod((k·MaxDim + d + 1)·HashMult, P) —
    * the [[graft.functions.VecFns.planeSign]] integers, tabulated. */
  def signTable(planes: Int): Array[Array[Boolean]] =
    cache.computeIfAbsent(planes, _ =>
      Array.tabulate(planes, MaxDim)((k, d) => signOf(k, d)))

  /** The un-tabulated sign — pmod handles a (theoretical) negative
    * product the way the Catalyst pmod in planeSign does. */
  def signOf(k: Int, d: Int): Boolean = {
    val m = ((k.toLong * MaxDim + d + 1) * HashMult) % P
    (if (m < 0) m + P else m) % 2 == 1
  }
}
