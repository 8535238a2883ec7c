package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Portable SimHash band values as a FIRST-CLASS aggregate — the
  * [[MinhashAgg]] treatment applied to the simhash sketch: the
  * buffer is the running signed bit-count vector
  * `cnt[k] += parity((SimA_k·h + SimB_k mod P)² mod P) ? 1 : -1`
  * (the [[graft.functions.HashFns.simBit]] family, identical
  * coefficients and integer ops the DuckDB oracle replays as literal
  * arrays), and eval folds the counts into `numBands` MSB-first band
  * longs — bit-identical to the `totalBits`-scalar-aggregate form it
  * replaces.
  *
  * Why: the scalar form planned 64/128 independent
  * `sum(when(simBit(h, k), 1, -1))` aggregates — one giant codegen
  * class per sketch width (the round-5 Janino-swing source MinhashAgg
  * fixed for minhash; the simhash queries kept paying it) and
  * 64/128 buffer slots per group in the hash map. This buffer is one
  * tight totalBits-long loop; partial aggregation still merges
  * count partials map-side, so the doc-keyed shuffle carries exactly
  * totalBits longs per (task, doc) — the mergeable-sketch contract.
  *
  * Emits `array<long>` of length numBands (band value doubles as the
  * LSH bucket key). Registered as
  * `simhash_agg(h, totalBits, numBands)`.
  */
case class SimhashAgg(
    child: Expression,
    totalBits: Int,
    numBands: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]]
    with UnaryLike[Expression] {

  require(totalBits > 0 && totalBits <= SimhashAgg.MaxBits &&
    numBands > 0 && totalBits % numBands == 0,
    s"simhash_agg needs 0 < totalBits <= ${SimhashAgg.MaxBits} divisible by numBands")
  require(totalBits / numBands <= 63, "band value must fit a signed long")

  import SimhashAgg.{A, B, P}

  private val rPerBand: Int = totalBits / numBands

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](totalBits)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var k = 0
      while (k < totalBits) {
        // h in [0, P), A_k < P ⇒ A_k·h + B_k < 2^60, non-negative, so
        // plain % equals pmod; g < P = 2^30-ish ⇒ g² < 2^60 likewise
        val g = (A(k) * h + B(k)) % P
        buf(k) += (if ((g * g) % P % 2 == 1) 1L else -1L)
        k += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var k = 0
    while (k < totalBits) { buf(k) += other(k); k += 1 }
    buf
  }

  /** MSB-first fold of the sign bits into band longs — the same
    * `acc·2 + (cnt > 0 ? 1 : 0)` chain as the scalar form. */
  override def eval(buf: Array[Long]): Any = {
    val bands = new Array[Long](numBands)
    var bnd = 0
    while (bnd < numBands) {
      var acc = 0L
      var j = 0
      while (j < rPerBand) {
        acc = acc * 2 + (if (buf(bnd * rPerBand + j) > 0) 1L else 0L)
        j += 1
      }
      bands(bnd) = acc
      bnd += 1
    }
    new GenericArrayData(bands)
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * totalBits)
    var k = 0
    while (k < totalBits) { bb.putLong(buf(k)); k += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new Array[Long](totalBits)
    var k = 0
    while (k < totalBits) { buf(k) = bb.getLong; k += 1 }
    buf
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "simhash_agg"

  override def withNewMutableAggBufferOffset(newOffset: Int): SimhashAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SimhashAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): SimhashAgg =
    copy(child = newChild)
}

object SimhashAgg {
  val P: Long = graft.functions.HashFns.P
  /** Coefficient arrays (JIT-friendly) from the shared simhash
    * family — the same literals the oracle SQL inlines. */
  val A: Array[Long] = graft.functions.HashFns.SimA.toArray
  val B: Array[Long] = graft.functions.HashFns.SimB.toArray
  val MaxBits: Int = A.length
}
