package graft.plans

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined-chunking boundary positions in one pass:
  * `cdc_boundaries(text, w, mask)` = the ascending array of code-point
  * positions `i` (w ≤ i ≤ len−1) where
  * `str_poly_hash(substring(text, i−w+1, w)) mod mask = 0` —
  * BIT-IDENTICAL to the
  * `filter(sequence(w, len−1), i -> pmod(strHash(substr(...)), mask) = 0)`
  * column form it replaces (substring counts code points in both
  * Spark and DuckDB, so positions agree across engines).
  *
  * Why a kernel: the HOF filter is CodegenFallback and its
  * predicate allocates a w-char substring per position before
  * char-folding it — O(len·w) work plus len allocations per payload.
  * This kernel folds the text ONCE into prefix hashes H[i] and powers
  * 31^i (mod P), then every window hash is the O(1) identity
  * `hash(cp[a..b)) = (H[b] − H[a]·31^{b−a}) mod P` — O(len) total,
  * no allocation beyond the output array.
  */
object CdcBoundaries {
  val P = 1000000007L

  /** Positions count CODE POINTS (the SQL substring unit), hashing is by code point
    * like [[StrPolyHash]]. */
  def compute(u: UTF8String, w: Int, mask: Long): ArrayData = {
    val s = u.toString
    // code points + prefix hashes: H(k) = hash of cp[0..k)
    var n = 0
    var i = 0
    val cps = new Array[Int](s.length)
    while (i < s.length) {
      val cp = s.codePointAt(i)
      cps(n) = cp; n += 1
      i += Character.charCount(cp)
    }
    if (n <= w) return ArrayData.toArrayData(Array.empty[Long])
    val h = new Array[Long](n + 1)
    var k = 0
    while (k < n) { h(k + 1) = (h(k) * 31 + cps(k)) % P; k += 1 }
    var pw = 1L // 31^w mod P
    var e = 0
    while (e < w) { pw = pw * 31 % P; e += 1 }
    // window [i-w, i): hash = (H(i) - H(i-w)·31^w) mod P, kept in [0,P)
    var out = new Array[Long](8)
    var cnt = 0
    var pos = w
    while (pos <= n - 1) {
      val hw = ((h(pos) - h(pos - w) * pw) % P + P) % P
      if (hw % mask == 0) {
        if (cnt == out.length) out = java.util.Arrays.copyOf(out, cnt * 2)
        out(cnt) = pos.toLong; cnt += 1
      }
      pos += 1
    }
    ArrayData.toArrayData(java.util.Arrays.copyOf(out, cnt))
  }
}
