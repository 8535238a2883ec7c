package graft.plans

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

/** TextRank candidate survivors AND their banded co-occurrence pairs
  * in ONE pass: `tr_surv_pairs(text, min_len, window, stops)` returns
  * `struct(toks: array<string>, pairs: array<struct<src, dst>>)` —
  * exactly what the K184 textrank_keywords front half built as a
  * corpus-token posexplode + rlike/stopword filter + localCheckpoint
  * + a doc-keyed sort WINDOW stacking `window` leads. The row chain
  * paid the checkpoint materialization of every surviving token row
  * plus a hashpartitioning+sort exchange for the leads; the kernel
  * emits both outputs map-side from the text.
  *
  * Bit-exactness contract (vs the chain, pinned by
  * KernelPropertySpec + the in-suite row-identity spec):
  *  - tokens = maximal non-space runs of the (caller-lowercased)
  *    text, original 0-based positions kept;
  *  - a token survives iff it has ≥ min_len chars, every char in
  *    [a-z] (the `^[a-z]{n,}$` rlike — ASCII, so chars are code
  *    points), and it is not a stopword;
  *  - `toks` = the surviving tokens in order (multiplicity kept —
  *    the consumer's distinct builds the node set);
  *  - `pairs` = (tok_i, tok_j) for surviving i < j with
  *    pos_j − pos_i ≤ window and tok_i ≠ tok_j, in scan order —
  *    the lead-form band: positions are strictly increasing, so
  *    every in-band co-survivor is among the next ≤ window
  *    survivors and vice versa.
  *
  * `min_len`/`window` must be positive literals; `stops` a string
  * literal of space-joined stopwords (fixed vocabulary — parsed once
  * at plan time by [[stopSet]] into an object literal, never per
  * row).
  */
object TrSurvPairs {

  /** The stop vocabulary: `stops` split on spaces. */
  def stopSet(stops: String): java.util.HashSet[String] = {
    val h = new java.util.HashSet[String]()
    stops.split(' ').foreach(w => if (w.nonEmpty) h.add(w))
    h
  }

  def compute(u: UTF8String, minLen: Int, window: Int,
              stops: java.util.HashSet[String]): GenericInternalRow = {
    val s = u.toString
    // survivors: (original position, token) for maximal non-space
    // runs that pass the [a-z]{minLen,} + stopword gate
    val pos = new java.util.ArrayList[Integer](16)
    val tok = new java.util.ArrayList[String](16)
    var i = 0
    var p = 0
    while (i < s.length) {
      if (s.charAt(i) == ' ') i += 1
      else {
        val start = i
        var alpha = true
        while (i < s.length && s.charAt(i) != ' ') {
          val c = s.charAt(i)
          if (c < 'a' || c > 'z') alpha = false
          i += 1
        }
        if (alpha && i - start >= minLen) {
          val t = s.substring(start, i)
          if (!stops.contains(t)) { pos.add(p); tok.add(t) }
        }
        p += 1
      }
    }
    val n = tok.size
    val toks = new Array[AnyRef](n)
    var k = 0
    while (k < n) { toks(k) = UTF8String.fromString(tok.get(k)); k += 1 }
    // capacity for the usual all-distinct band, capped so a wide
    // window cannot overflow or over-allocate it
    val pairs = new java.util.ArrayList[AnyRef](
      math.min(n.toLong * window, 1L << 16).toInt)
    var a = 0
    while (a < n) {
      var b = a + 1
      while (b < n && pos.get(b) - pos.get(a) <= window) {
        if (tok.get(a) != tok.get(b))
          pairs.add(new GenericInternalRow(Array[Any](
            toks(a), UTF8String.fromString(tok.get(b)))))
        b += 1
      }
      a += 1
    }
    new GenericInternalRow(Array[Any](
      new GenericArrayData(toks),
      new GenericArrayData(pairs.toArray)))
  }
}
