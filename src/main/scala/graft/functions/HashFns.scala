package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hash/sketch kernels for dedup (SURVEY.md §2 C*): shingling,
  * MinHash, SimHash. All pure `functions._` compositions — no UDFs —
  * so signature
  * computation costs one scan at any scale; only the (band, bucket)
  * keys ever shuffle.
  */
object HashFns {

  /** Large prime modulus for the universal-hash family. Keeping all
    * values < 2^30 means a*h+b < 2^60 — no ANSI-mode long overflow. */
  val P: Long = 1000000007L

  val NumHashes = 64
  val Bands     = 16
  val RowsPerBand: Int = NumHashes / Bands

  /** Token n-gram width of the dedup shingles ([[shingles]]' default);
    * every artifact derived from shingles names it in its signature. */
  val ShingleWidth = 3

  /** Fixed universal-hash coefficients h_i(x) = (a_i·x + b_i) mod P.
    * Seeded PRNG at object init → identical on every JVM. */
  private val rnd = new scala.util.Random(42)
  val A: Seq[Long] = Seq.fill(NumHashes)(1L + rnd.nextInt((P - 1).toInt))
  val B: Seq[Long] = Seq.fill(NumHashes)(rnd.nextInt(P.toInt).toLong)

  /** PORTABLE string hash: polynomial fold of the character codes,
    * `h = fold(chars, 0, (acc, c) => (acc·mult + code(c)) mod P)` —
    * the classic Java-style rolling hash, chosen because BOTH engines
    * can compute it from plain column algebra (Spark: aggregate over
    * split(t, ""); DuckDB: list_reduce over string_split(t, '')), so
    * operators built on it keep a bit-exact DuckDB oracle where
    * xxhash64 forced a rows-only check. Both engines fold by CODE
    * POINT (StrPolyHash iterates codePointAt/charCount; DuckDB
    * string_split('') segments by code point), so the hash agrees on
    * astral chars too — the BMP/astral property test in
    * KernelPropertySpec pins this.
    * Everything stays in [0, P): acc·31 + code < 2^35, no ANSI
    * overflow. Dispatches to the codegen'd
    * [[graft.plans.StrPolyHash]] (registered as `str_poly_hash`) —
    * same fold, tight code-point loop instead of the interpreted
    * one-string-per-char `aggregate(split(t, ""), …)` HOF. */
  def strHash(t: Column, mult: Long = 31L): Column =
    call_function("str_poly_hash", t, lit(mult))

  /** Fixed universal-hash coefficients for PORTABLE simhash bit
    * extraction (bit k of token h = parity of (SimA(k)·h + SimB(k))
    * mod P) — up to 128 bits, shared verbatim with the DuckDB oracle
    * as literal arrays. Separate PRNG stream from [[A]]/[[B]] so
    * minhash and simhash stay independent families. */
  private val simRnd = new scala.util.Random(1337)
  val SimA: Seq[Long] = Seq.fill(128)(1L + simRnd.nextInt((P - 1).toInt))
  val SimB: Seq[Long] = Seq.fill(128)(simRnd.nextInt(P.toInt).toLong)

  /** Portable simhash bit k of token hash `h`: parity of the SQUARE
    * of the k-th universal-hash value g = (SimA(k)·h + SimB(k)) mod P.
    * The square matters: with plain parity(g), the bit-flip pattern
    * between two tokens is ≈ parity(SimA(k)·Δh) — a LINEAR function
    * of the hash difference, so similar tokens get correlated
    * sketches and the hamming≤7 pair volume blows up (measured
    * sf0.01: 1426 pairs linear vs 533 squared vs 327 for an ideal
    * 64-bit hash; the old xxhash64 sketch gave 444). parity(g² mod P)
    * breaks the linearity ((x+c)² − x² depends on x) at the cost of
    * one extra multiply; g < 2^30 so g² < 2^60 — no ANSI overflow.
    * Still plain integer column algebra, replayable in ANSI SQL. */
  def simBit(h: Column, k: Int): Column = {
    val g = pmod(lit(SimA(k)) * h + lit(SimB(k)), lit(P))
    (g * g) % P % 2 === 1
  }

  /** SimHash band values over PORTABLE bits (see [[simBit]]): `posts`
    * is (id, h) with one row per (doc, token hash); result is
    * (id, sb) with `numBands` band values of totalBits/numBands bits
    * each (MSB-first fold, band value doubles as the LSH bucket key).
    * Same codegen'd scalar-aggregate shape as the xxhash64 form this
    * replaces — the `totalBits` signed bit-sums are plain `sum`
    * aggregates with map-side combine, so the sketch costs one
    * doc-keyed shuffle of (id, totalBits longs) partials. Widening
    * past 64 bits needs no extra hash lanes: bits 64..127 come from
    * further (SimA, SimB) pairs over the same h. */
  def simhashBandsAggPortable(posts: DataFrame, idCol: String, hCol: String,
                              totalBits: Int, numBands: Int): DataFrame = {
    // the [[graft.plans.SimhashAgg]] buffer aggregate: one tight loop,
    // totalBits longs per partial, bit-identical to one
    // `sum(when(simBit…))` per bit (the retired scalar form, now
    // DedupSpec's oracle) without a giant codegen class per width
    require(totalBits <= 128 && totalBits % numBands == 0)
    require(totalBits / numBands <= 63, "band value must fit a signed long")
    posts.groupBy(col(idCol))
      .agg(call_function("simhash_agg", col(hCol),
        lit(totalBits), lit(numBands)).as("sb"))
  }

  /** Distinct n-gram token shingles of `text` ("w1 w2 w3" strings).
    * Docs shorter than n tokens get a single whole-doc shingle. The
    * codegen [[graft.plans.TokenGrams]] kernel — bit-identical to the
    * split/slice/concat_ws/array_distinct chain by its ScalaCheck
    * contract, 3× faster (OPTIMIZATION_r14.md row 8). */
  def shingles(text: Column, n: Int = ShingleWidth): Column =
    call_function("token_grams", lower(text), lit(n.toLong))

  /** Shingle set → non-negative hashes in [0, P). */
  def shingleHashes(sh: Column): Column =
    transform(sh, s => pmod(xxhash64(s), lit(P)))

  /** MinHash signature as a higher-order fold — one pass over the
    * hash set with element-wise `least`. Fine for ad-hoc per-row use
    * (specs, small inputs); the OPERATOR path uses [[minhashSigAgg]]
    * instead: this nested-lambda form is interpreted, and its first
    * execution pays a pathological codegen-compile/fallback (~150 s
    * measured on a fresh session at sf0.1).
    *
    * (The k-outer/shingles-inner form `transform(0..k, i =>
    * array_min(transform(hashes, …)))` is worse still — after
    * CollapseProject it re-evaluates the whole shingling pipeline k
    * times per row.) */
  def minhashSig(hashes: Column): Column = {
    val a = typedLit(A)
    val b = typedLit(B)
    val idx = typedLit((0 until NumHashes).map(_.toLong))
    aggregate(hashes, typedLit(Seq.fill(NumHashes)(P)),
      (acc, h) => zip_with(acc, idx,
        (m, i) => least(m, pmod(element_at(a, (i + 1).cast("int")) * h +
          element_at(b, (i + 1).cast("int")), lit(P)))))
  }

  /** MinHash signatures via explode + groupBy: `posts` is (id, h)
    * with one row per (doc, shingle hash); the result is (id, sig).
    * Dispatches to the [[graft.plans.MinhashAgg]]
    * `TypedImperativeAggregate` (`minhash_agg(h, 64)`): ONE 64-long
    * buffer per group with map-side partial merge — the shuffle
    * carries 64 longs per (task, doc), same as the 64-scalar-min form
    * it replaced, but without that form's giant generated aggregate
    * class (the source of 15-30× first-run Janino/JIT swings on the
    * five signature queries). Results are bit-identical
    * (equality-spec'd against [[minhashSigAggScalar]]). */
  def minhashSigAgg(posts: DataFrame, idCol: String, hCol: String): DataFrame =
    posts.groupBy(col(idCol))
      .agg(call_function("minhash_agg", col(hCol), lit(NumHashes)).as("sig"))

  /** The retired 64-scalar-aggregate formulation ([[NumHashes]] plain
    * `min` columns, whole-stage codegen) — kept as the reference twin
    * the MinhashAgg equality spec replays. */
  def minhashSigAggScalar(posts: DataFrame, idCol: String, hCol: String): DataFrame = {
    val mins = (0 until NumHashes).map(i =>
      min(pmod(lit(A(i)) * col(hCol) + lit(B(i)), lit(P))).as(s"s$i"))
    posts.groupBy(col(idCol))
      .agg(mins.head, mins.tail: _*)
      .select(col(idCol), array((0 until NumHashes).map(i => col(s"s$i")): _*).as("sig"))
  }

  /** LSH band keys: signature → [[Bands]] strings "band:v1-v2-v3-v4".
    * Two docs share a key iff a whole signature band matches; P(catch)
    * at Jaccard j is 1-(1-j^4)^16 — ≈1 for j ≥ 0.9, ≈0.02 for j=0.2,
    * so candidate volume stays ∝ docs·bands, never docs². */
  def bandKeys(sig: Column): Column =
    transform(sequence(lit(0), lit(Bands - 1)), bnd =>
      concat_ws("-", bnd, slice(sig, bnd * RowsPerBand + 1, lit(RowsPerBand))))

  /** Hamming distance between two simhash band arrays. Flattened to
    * scalar element_at/xor/bit_count (all codegen'd) — this sits in
    * the post-join hot filter over millions of candidate pairs, where
    * an interpreted HOF fold costs more than the join itself. */
  def bandHamming(a: Column, b: Column, numBands: Int = 8): Column =
    (0 until numBands)
      .map(i => bit_count(element_at(a, i + 1).bitwiseXOR(element_at(b, i + 1))).cast("long"))
      .reduce(_ + _)
}
