package graft.plans

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct token n-gram shingle STRINGS in one pass:
  * `token_grams(text, n)` is bit-identical to the
  * `wsTokens → transform(sequence, slice, concat_ws) → array_distinct`
  * chain of [[graft.functions.HashFns.shingles]] — including the
  * whole-doc single shingle for docs shorter than n tokens (an empty
  * doc yields [""], exactly like concat_ws over no tokens) and
  * array_distinct's keep-first-occurrence order — so swapping a
  * consumer changes no oracle.
  *
  * Why a kernel ([[TokenGramHashes]]' sibling — that kernel
  * serves consumers who only need gram HASHES; this one serves the
  * gram-STRING consumers, ngram_novelty and saturation_curve, whose
  * joins/aggregates key on the exact gram text): the column chain runs
  * an interpreted lambda per gram per row (slice allocates a token
  * sub-array, concat_ws re-copies every token), then array_distinct
  * re-hashes the grams. One scan tokenizes, one StringBuilder per gram
  * builds the output that must exist anyway, one LinkedHashSet dedups.
  *
  * Tokenization matches `filter(split(text, " "), _ != "")`: maximal
  * runs of non-space characters (U+0020 is BMP, so the char test is
  * surrogate-safe). Consumers pass already-lowercased text, as with
  * the chain form.
  */
object TokenGrams {

  def compute(u: UTF8String, n: Int): ArrayData = {
    val s = u.toString
    // tokenize: maximal runs of non-space chars
    val toks = new java.util.ArrayList[String](16)
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == ' ') i += 1
      else {
        val start = i
        while (i < s.length && s.charAt(i) != ' ') i += 1
        toks.add(s.substring(start, i))
      }
    }
    val t = toks.size
    val out: Array[AnyRef] =
      if (t < n) {
        // whole-doc single shingle; empty doc → [""] like concat_ws
        val sb = new java.lang.StringBuilder
        var j = 0
        while (j < t) {
          if (j > 0) sb.append(' ')
          sb.append(toks.get(j)); j += 1
        }
        Array(UTF8String.fromString(sb.toString))
      } else {
        // keep-first-occurrence distinct, like array_distinct
        val seen = new java.util.LinkedHashSet[String](t * 2)
        var i0 = 0
        while (i0 <= t - n) {
          val sb = new java.lang.StringBuilder
          var j = i0
          while (j < i0 + n) {
            if (j > i0) sb.append(' ')
            sb.append(toks.get(j)); j += 1
          }
          seen.add(sb.toString)
          i0 += 1
        }
        val arr = new Array[AnyRef](seen.size)
        val it = seen.iterator()
        var k = 0
        while (it.hasNext) { arr(k) = UTF8String.fromString(it.next()); k += 1 }
        arr
      }
    new GenericArrayData(out)
  }
}
