package graft.plans

import org.apache.spark.unsafe.types.UTF8String

/** Scalar code-point kernels for the multimodal byte-DSP stubs,
  * called from whole-stage codegen — the [[BandEnergies]] playbook applied to the
  * remaining interpreted per-character folds (r13 VERDICT item 3):
  *
  * - `cp_sum(str)`: Σ code points — the K140 scene_cut luma proxy.
  *   Replaces `aggregate(filter(split(frame, ''), …), acc + ascii(c))`,
  *   an interpreted boxed-lambda fold per frame character.
  * - `lap_energy(str)`: Σ over interior positions of
  *   (cp[i−1] − 2·cp[i] + cp[i+1])² — the K118 variance-of-Laplacian
  *   blur detector shared by mm_blur_detect and the streaming media
  *   gate. Replaces a fold whose every step paid SIX element_at +
  *   ascii evaluations. Strings with < 3 code points yield 0 (the
  *   callers filter those out; the empty fold also gave 0).
  *
  * Semantics note (the BandEnergies contract): Spark `split(s, '')`
  * and `ascii` both operate on CODE POINTS (surrogate pairs stay
  * whole), as do DuckDB `string_split`/`ascii` — so one codePointAt
  * loop reproduces the HOF arithmetic exactly, astral chars included.
  */
object CpSum {
  def compute(u: UTF8String): Long = {
    val s = u.toString
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc += cp.toLong
      i += Character.charCount(cp)
    }
    acc
  }
}

object LapEnergy {
  def compute(u: UTF8String): Long = {
    val s = u.toString
    var acc = 0L
    var i = 0
    var n = 0
    var a = 0L
    var b = 0L
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (n >= 2) {
        val d = a - 2L * b + cp.toLong
        acc += d * d
      }
      a = b
      b = cp.toLong
      n += 1
      i += Character.charCount(cp)
    }
    acc
  }
}
