package graft.plans

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** ALL token n-gram shingle strings, multiplicity kept, in one pass:
  * `token_grams_all(text, n)` is bit-identical to the
  * `wsTokens → zip_with(slice, slice, concat(a, ' ', b))` instance
  * chain (generalized to n slices) that the keyness-class consumers
  * run — the sliding grams in document order, duplicates INCLUDED
  * (these consumers COUNT instances; [[TokenGrams]] is the
  * keep-first-DISTINCT sibling for the set-semantics consumers, and
  * [[TokenGramHashes]] the hash-only one). Docs with fewer than n
  * tokens yield an EMPTY array — exactly the row set of the chain
  * behind its `size(ts) >= n` guard (no whole-doc fallback).
  *
  * Why a kernel: the zip_with chain runs an interpreted
  * lambda per gram per row — slice allocates token sub-arrays and
  * concat re-copies every token (the r14 decontaminate lesson: the
  * loss is the lambda chain, not the plan shape). One scan
  * tokenizes, one StringBuilder per gram builds the string that must
  * exist anyway.
  *
  * Tokenization matches `filter(split(text, " "), _ != "")`; callers
  * pass already-lowercased text, as with the chain form.
  */
object TokenGramsAll {

  def compute(u: UTF8String, n: Int): ArrayData = {
    val s = u.toString
    // tokenize: maximal runs of non-space chars (U+0020 is BMP, so
    // the char test is surrogate-safe)
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
    if (t < n) return new GenericArrayData(new Array[AnyRef](0))
    val out = new Array[AnyRef](t - n + 1)
    var i0 = 0
    while (i0 <= t - n) {
      val sb = new java.lang.StringBuilder
      var j = i0
      while (j < i0 + n) {
        if (j > i0) sb.append(' ')
        sb.append(toks.get(j)); j += 1
      }
      out(i0) = UTF8String.fromString(sb.toString)
      i0 += 1
    }
    new GenericArrayData(out)
  }
}
