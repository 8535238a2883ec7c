package graft.plans

import org.apache.spark.sql.catalyst.util.ArrayData

/** Late-interaction MaxSim score in one pass:
  * `maxsim_score(a, b, d)` = Σ over a's d-wide sub-vectors of the
  * MAX dot product against any of b's d-wide sub-vectors — the
  * ColBERT scoring function over lattice-quantized integer arrays,
  * BIT-IDENTICAL to the
  * `aggregate(sequence, array_max(transform(sequence, Σ element_at·element_at)))`
  * column form it replaces.
  *
  * Why a kernel: the nested-HOF form is CodegenFallback —
  * every one of the T² sub-vector dots walks an interpreted
  * expression tree with per-element `element_at` boxing. This kernel
  * is two primitive long-array loops (the arrays copy out ONCE via
  * `toLongArray`), so the T²·d multiply-adds run as straight-line
  * JIT'd code inside whole-stage codegen.
  *
  * Token count derives from the array length (len/d, the K152
  * folding convention); a trailing partial chunk is ignored, and two
  * empty inputs score 0.
  */
object MaxSimScore {

  def compute(aData: ArrayData, bData: ArrayData, d: Int): Long = {
    val a = aData.toLongArray()
    val b = bData.toLongArray()
    val ta = a.length / d
    val tb = b.length / d
    var score = 0L
    var i = 0
    while (i < ta) {
      var best = Long.MinValue
      var j = 0
      while (j < tb) {
        var dot = 0L
        var t = 0
        while (t < d) {
          dot += a(i * d + t) * b(j * d + t)
          t += 1
        }
        if (dot > best) best = dot
        j += 1
      }
      if (tb > 0) score += best
      i += 1
    }
    score
  }
}
