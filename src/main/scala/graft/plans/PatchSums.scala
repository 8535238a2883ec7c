package graft.plans

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Per-patch byte sums in ONE pass: `patch_sums(payload, n)` returns
  * the ascending-`k` array of `struct(k, sv, nv)` cells — exactly the
  * (patch, sum(v), count) groups the K104 mm_patch_embed / K-line
  * clip_gate chains built via explode(sequence(0, len−1)) → per-byte
  * substr/decode/ascii → a (doc, patch) aggregate. The chain
  * materialized one row per payload byte and paid a corpus-bytes
  * partial aggregation plus its exchange; the kernel emits the ≤ n
  * cells per doc directly, so the consumer's FIRST exchange is its
  * own downstream one (the (source, patch) profile roll-up, the
  * tower join).
  *
  * Bit-exactness contract (vs the definitional chain, pinned by
  * KernelPropertySpec): patch(i) = CAST(floor(CAST(i · n AS DOUBLE)
  * / len) AS BIGINT) with the chain's 32-bit `i · n` product (throws
  * on payloads large enough to wrap, which the chain would score as
  * negative patches); v(byte) = ascii(decode(byte, 'UTF-8')) — the
  * byte value for ASCII bytes, a THROW for lone bytes ≥ 0x80 exactly
  * where Spark 4's strict decode raises MALFORMED_CHARACTER_CODING;
  * absent patches (len < n) emit no cell, like the grouped form.
  *
  * `n` must be a positive literal. Registered by the
  * [[graft.GraftFunctions]] table; [[PhashSketch]]'s sibling (that
  * kernel folds its cells straight into band bits; this one returns
  * the cells, because its consumers aggregate them differently).
  */
object PatchSums {

  def compute(bytes: Array[Byte], n: Int): ArrayData = {
    val len = bytes.length
    val sv = new Array[Long](n)
    val nv = new Array[Long](n)
    var i = 0
    while (i < len) {
      val b = bytes(i)
      if (b < 0)
        throw new IllegalArgumentException(
          "patch_sums: malformed UTF-8 payload byte (the definitional " +
            "ascii(decode(byte)) chain throws MALFORMED_CHARACTER_CODING here)")
      val prod = i * n // the chain's 32-bit product
      if (prod < 0)
        throw new IllegalArgumentException(
          s"patch_sums: payload of $len bytes overflows the chain's 32-bit patch product")
      val k = math.floor(prod.toDouble / len.toDouble).toInt
      sv(k) += b.toLong
      nv(k) += 1L
      i += 1
    }
    val cells = new Array[AnyRef](n)
    var k = 0
    var out = 0
    while (k < n) {
      if (nv(k) > 0L) {
        cells(out) = new GenericInternalRow(Array[Any](k.toLong, sv(k), nv(k)))
        out += 1
      }
      k += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(cells, out))
  }
}
