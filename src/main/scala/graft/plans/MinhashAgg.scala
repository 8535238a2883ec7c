package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** MinHash signature as a FIRST-CLASS aggregate — a
  * `TypedImperativeAggregate` whose buffer is the running k-lane
  * minimum vector `sig[i] = min over inputs h of (A_i·h + B_i) mod P`
  * (the [[graft.functions.HashFns]] universal-hash family, same
  * coefficients the DuckDB oracle replays as literal arrays).
  *
  * This replaces the k-scalar-aggregate form (`agg(min(...)…×64)`):
  * results are identical (per-lane min is merge-order-free), but the
  * 64 independent `min` aggregates generated one giant codegen class
  * per signature query — the source of the 15-30× first-run
  * Janino/JIT swings the round-5 bench showed — while this buffer is
  * one tight k-long loop, no codegen blowup, and partial aggregation
  * merges signature partials in the map-side combiners, so the
  * doc-keyed shuffle carries exactly k longs per (task, doc): the
  * mergeable-sketch contract, same as [[KmvAgg]].
  *
  * Emits `array<long>` of length k — bit-identical to the scalar
  * form (equality-spec'd in DedupSpec; merge-order invariance is
  * ScalaCheck-proven in KernelPropertySpec). Registered as
  * `minhash_agg(h, k)`.
  */
case class MinhashAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]]
    with UnaryLike[Expression] {

  require(k > 0 && k <= MinhashAgg.MaxK,
    s"minhash_agg needs 1 <= k <= ${MinhashAgg.MaxK} signature lanes")

  import MinhashAgg.{A, B, P}

  /** Empty signature: every lane at P (= +inf of the hash range, all
    * real hash values are < P). A group with no rows keeps it. */
  override def createAggregationBuffer(): Array[Long] = Array.fill(k)(P)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var i = 0
      while (i < k) {
        // h in [0, P), A_i < P ⇒ A_i·h + B_i < 2^60: no overflow, and
        // non-negative so plain % equals pmod
        val m = (A(i) * h + B(i)) % P
        if (m < buf(i)) buf(i) = m
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < k) {
      if (other(i) < buf(i)) buf(i) = other(i)
      i += 1
    }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf.clone())

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * k)
    var i = 0
    while (i < k) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new Array[Long](k)
    var i = 0
    while (i < k) { buf(i) = bb.getLong; i += 1 }
    buf
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "minhash_agg"

  override def withNewMutableAggBufferOffset(newOffset: Int): MinhashAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinhashAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MinhashAgg =
    copy(child = newChild)
}

object MinhashAgg {
  val P: Long = graft.functions.HashFns.P
  /** Coefficient arrays (JIT-friendly) from the shared family. */
  val A: Array[Long] = graft.functions.HashFns.A.toArray
  val B: Array[Long] = graft.functions.HashFns.B.toArray
  val MaxK: Int = A.length
}
