package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData

/** The full per-doc pHash band sketch in ONE byte pass:
  * `phash_sketch(payload, bits, band_bits)` returns
  * `struct(idxs: array<bigint>, sb: array<bigint>)` — exactly the
  * (idxs, sb) pair the K-line mm_phash_dedup relational chain built
  * from the payload via explode(sequence(0, len−1)) → per-byte
  * substr/decode/ascii → a (doc, slice) aggregate → a doc aggregate →
  * three interpreted HOF folds (global sum, band indices, per-band
  * bit fold). That chain materialized one ROW PER PAYLOAD BYTE and
  * paid a corpus-bytes-sized partial aggregation before the cells
  * collapsed to ≤ bits per doc; the kernel computes the same ≤ bits
  * slice cells in a local long[] and folds the bands in place, so the
  * operator's first exchange is the band self-join itself.
  *
  * Bit-exactness contract (vs the definitional chain, pinned by
  * KernelPropertySpec):
  *  - slice(i) = CAST(floor(CAST(i * bits AS DOUBLE) / len) AS BIGINT)
  *    with the chain's 32-bit `i * bits` product (payloads are far
  *    below the 2^31/bits wrap; the kernel throws if one ever isn't,
  *    where the chain would wrap into negative slices).
  *  - v(byte) = ascii(decode(byte, 'UTF-8')): the byte value for
  *    ASCII bytes (< 0x80). A lone byte ≥ 0x80 is malformed UTF-8 —
  *    Spark 4's strict decode THROWS there (MALFORMED_CHARACTER_CODING),
  *    and the kernel throws too, keeping the failure surface aligned
  *    rather than silently diverging on data the chain never accepted.
  *  - bit test sv·len > st·nv in 64-bit integer arithmetic; band idx
  *    ascending (= sort_array + array_distinct keep-first order);
  *    bands with no present slice emit nothing (sparse idxs), like
  *    the grouped form.
  *
  * `bits` and `band_bits` must be positive literals with
  * band_bits | bits and band_bits ≤ 63 (they fix loop widths at plan
  * time). Registered by the [[graft.GraftFunctions]] table.
  */
object PhashSketch {

  def compute(bytes: Array[Byte], bits: Int, bandBits: Int): InternalRow = {
    val n = bytes.length
    val sv = new Array[Long](bits)
    val nv = new Array[Long](bits)
    var st = 0L
    var i = 0
    while (i < n) {
      val b = bytes(i)
      if (b < 0)
        throw new IllegalArgumentException(
          "phash_sketch: malformed UTF-8 payload byte (the definitional " +
            "ascii(decode(byte)) chain throws MALFORMED_CHARACTER_CODING here)")
      val prod = i * bits // the chain's 32-bit product
      if (prod < 0)
        throw new IllegalArgumentException(
          s"phash_sketch: payload of $n bytes overflows the chain's 32-bit slice product")
      val slice = math.floor(prod.toDouble / n.toDouble).toInt
      sv(slice) += b.toLong
      nv(slice) += 1L
      st += b.toLong
      i += 1
    }
    val nBands = bits / bandBits
    val idxs = new Array[Long](nBands)
    val sb = new Array[Long](nBands)
    var k = 0
    var out = 0
    while (k < nBands) {
      var present = false
      var v = 0L
      var s = k * bandBits
      val end = s + bandBits
      while (s < end) {
        if (nv(s) > 0L) {
          present = true
          if (sv(s) * n > st * nv(s))
            v += 1L << (bandBits - 1 - (s % bandBits))
        }
        s += 1
      }
      if (present) {
        idxs(out) = k.toLong
        sb(out) = v
        out += 1
      }
      k += 1
    }
    new GenericInternalRow(Array[Any](
      new GenericArrayData(java.util.Arrays.copyOf(idxs, out)),
      new GenericArrayData(java.util.Arrays.copyOf(sb, out))))
  }
}
