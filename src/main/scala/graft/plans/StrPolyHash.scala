package graft.plans

import org.apache.spark.unsafe.types.UTF8String

/** Portable polynomial string hash:
  * `h = fold(codePoints(s), 0, (acc, c) => (acc·mult + c) mod P)`,
  * P = 1e9+7 — the [[graft.functions.HashFns.strHash]] kernel.
  *
  * The pure-`functions._` form (`aggregate(split(t, ""), …)`) is
  * semantically identical but interpreted: it materializes a
  * one-string-per-character array and runs a boxed-lambda fold per
  * token — on the simhash sketch path that's millions of tiny array
  * allocations per scan. This is a tight code-point loop with no
  * allocation beyond the String view.
  *
  * Semantics notes (these keep the DuckDB oracle bit-exact):
  * Java regex `split("")` segments by CODE POINT (surrogate pairs
  * stay whole) and Spark's `ascii` returns `codePointAt(0)`, so the
  * code-point loop below reproduces the HOF form exactly — and
  * matches DuckDB's `string_split(t, '')` + `ascii(c)`, which are
  * also code-point based. Empty string → 0, like the empty fold.
  *
  * Registered as `str_poly_hash(str, mult)` by the
  * [[graft.GraftFunctions]] table (`mult` a literal in [1, P)).
  */
object StrPolyHash {
  val P = 1000000007L

  def compute(u: UTF8String, mult: Long): Long = {
    val s = u.toString
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = (acc * mult + cp) % P
      i += Character.charCount(cp)
    }
    acc
  }
}
