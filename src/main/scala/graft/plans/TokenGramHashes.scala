package graft.plans

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Positional token n-gram poly-hashes in one pass:
  * `token_gram_hashes(text, n)` = the array
  * `[strHash(concat_ws(" ", toks[i..i+n-1])) for i in 0..len-n]`
  * (whole-text single gram when the doc has fewer than n tokens;
  * EMPTY when it has none — the consumer's size(toks) > 0 pre-filter
  * folded in, since an empty array explodes away), otherwise
  * BIT-IDENTICAL to the
  * `wsTokens → transform(sequence, slice, concat_ws) → str_poly_hash`
  * column chain it replaces, so swapping a consumer changes no
  * oracle.
  *
  * Why a kernel: the column chain materializes every
  * n-gram STRING (each token's chars copied into n gram strings)
  * before char-folding it. This kernel never builds a gram: each
  * token folds ONCE into (hash, 31^cpLen mod P), and a gram hash
  * composes in O(n) multiplies via the polynomial identity
  * `hash(A ⧺ B) = hash(A)·31^|B| + hash(B) (mod P)` with the single
  * joining space folded as `acc·31 + 32` — O(chars + grams·n) total,
  * no allocation beyond the output array.
  *
  * Tokenization matches `filter(split(text, " "), _ != "")`: maximal
  * runs of non-space characters (U+0020 is BMP, so the char test is
  * surrogate-safe); hashing is by CODE POINT like [[StrPolyHash]].
  * Consumers pass already-lowercased text, as with the chain form.
  */
object TokenGramHashes {
  val P = 1000000007L

  def compute(u: UTF8String, n: Int): ArrayData = {
    val s = u.toString
    // tokenize + fold each token once into (hash, 31^cpLen mod P)
    var th = new Array[Long](8)
    var pw = new Array[Long](8)
    var t = 0
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == ' ') i += 1
      else {
        var acc = 0L
        var p = 1L
        while (i < s.length && s.charAt(i) != ' ') {
          val cp = s.codePointAt(i)
          acc = (acc * 31 + cp) % P
          p = p * 31 % P
          i += Character.charCount(cp)
        }
        if (t == th.length) {
          th = java.util.Arrays.copyOf(th, t * 2)
          pw = java.util.Arrays.copyOf(pw, t * 2)
        }
        th(t) = acc; pw(t) = p; t += 1
      }
    }
    // gram at i: fold tokens i..i+n−1 with the joining space (cp 32)
    def gram(from: Int, until: Int): Long = {
      var h = th(from)
      var j = from + 1
      while (j < until) {
        h = ((h * 31 + 32) % P * pw(j) + th(j)) % P
        j += 1
      }
      h
    }
    val out: Array[Long] =
      if (t == 0) Array.empty[Long] // no tokens → no grams (the
      // consumer's "size(toks) > 0" pre-filter, folded in: an empty
      // array explodes to nothing)
      else if (t < n) Array(gram(0, t))
      else Array.tabulate(t - n + 1)(i0 => gram(i0, i0 + n))
    ArrayData.toArrayData(out)
  }
}
