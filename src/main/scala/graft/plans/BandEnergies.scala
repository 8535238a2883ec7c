package graft.plans

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Per-frame band energies for the audio-fingerprint stub DSP,
  * called from whole-stage codegen: one code-point pass over the
  * frame string yields ALL `bands` energies — e[b] = Σ (cp_p − 32)²
  * over 1-based character positions p ≡ b+1 (mod bands).
  *
  * The pure-`functions._` form this replaces ran one interpreted
  * `aggregate(sequence(b+1, len, bands), …)` HOF PER BAND — `bands`
  * boxed-lambda folds and `bands` substring/ascii evaluations per
  * character of every frame (the hot inner loop of K159
  * audio_fingerprint). Semantics notes that keep the DuckDB oracle
  * bit-exact: Spark `substring(t, p, 1)` + `ascii` index CODE POINTS
  * (as do DuckDB `substr` + `ascii`), so the loop below reproduces
  * the per-band position arithmetic exactly; frames shorter than a
  * band's first position contribute 0 to it, like the empty fold.
  *
  * Registered as `band_energies(str, bands)` by the
  * [[graft.GraftFunctions]] table; `bands` must be a positive literal
  * (it fixes the result width at plan time).
  */
object BandEnergies {
  def compute(u: UTF8String, bands: Int): ArrayData = {
    val s = u.toString
    val e = new Array[Long](bands)
    var i = 0
    var idx = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val d = cp.toLong - 32L
      e(idx % bands) += d * d
      idx += 1
      i += Character.charCount(cp)
    }
    new GenericArrayData(e)
  }
}
