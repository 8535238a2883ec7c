package graft.plans

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Adjacent token pairs of an array in ONE pass:
  * `tok_pairs(arr)` emits `struct(w, w1)` for every adjacent
  * position — exactly the (w, lead(w)) rows the K63 bpe_train round
  * loop built with a doc-keyed sort window over a corpus-tokens row
  * frame (the window paid a hashpartitioning exchange + sort per
  * round; on the array-per-doc frame the pairs are a map-side
  * projection). Arrays under 2 elements yield an empty array, like
  * the lead-null filter. */
object TokPairs {
  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < 2) return new GenericArrayData(new Array[AnyRef](0))
    val out = new Array[AnyRef](n - 1)
    var i = 0
    var prev = arr.getUTF8String(0)
    while (i < n - 1) {
      val next = arr.getUTF8String(i + 1)
      out(i) = new GenericInternalRow(Array[Any](prev, next))
      prev = next
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** One greedy BPE merge round on a token array:
  * `bpe_merge(arr, l, r)` replaces non-overlapping (l, r) adjacent
  * occurrences LEFT TO RIGHT with the fused token `l_r` — the plain
  * sequential scanner the island-parity window chain
  * (stageMerge/applyMerge) is ScalaCheck-pinned against, now AS the
  * executable form on the array-per-doc frame (no lag/lead windows,
  * no re-index window, no exchange). */
object BpeMerge {
  def compute(arr: ArrayData, l: UTF8String, r: UTF8String): ArrayData = {
    val n = arr.numElements()
    val fused = UTF8String.fromString(l.toString + "_" + r.toString)
    val out = new java.util.ArrayList[AnyRef](n)
    var i = 0
    while (i < n) {
      val w = arr.getUTF8String(i)
      if (i + 1 < n && l.equals(w) && r.equals(arr.getUTF8String(i + 1))) {
        out.add(fused)
        i += 2
      } else {
        out.add(w)
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }
}
