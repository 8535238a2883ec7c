package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Portable.pround
import graft.functions.TextFns

/** Training-set preparation operators (SURVEY.md G8/G9): the steps
  * between "clean corpus" and "tensors" that a 100 TB pipeline runs
  * last — deterministic splits and sequence packing. Both are pure
  * column algebra + windows, map-only or one shuffle, and exactly
  * oracle-able.
  */
object TrainPrep {

  /** G8: deterministic train/val/test split. The split key is an
    * arithmetic hash of doc_id (multiplicative hashing mod 100 —
    * engine-portable, unlike xxhash), so membership is stable across
    * runs, engines, and repartitions: 80/10/10. Emits per-split
    * per-lang counts — the balance check a pipeline actually runs. */
  def sampleSplit(s: SparkSession, dir: String): DataFrame = {
    val h = pmod(col("doc_id") * 2654435761L % 1000000007L, lit(100))
    documents(s, dir)
      .withColumn("split",
        when(h < 80, "train").when(h < 90, "val").otherwise("test"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
  }

  val sampleSplitSql: String =
    """SELECT CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split,
      |  lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS n_chars
      |FROM (SELECT lang, n_chars, (doc_id * 2654435761 % 1000000007) % 100 AS h
      |      FROM documents)
      |GROUP BY 1, 2""".stripMargin

  /** G12: corpus curation — the composed selection a pipeline ships:
    * keep each exact-dup group's canonical doc (min id), require a
    * minimum quality score (length × punctuation, same formula as
    * text_quality) and token count, then report per-split/per-lang
    * survivor counts. One scan + one dedup shuffle; every stage is a
    * column predicate, so Catalyst folds the whole filter chain into
    * the scan side of the dedup. */
  def curate(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val nTok = greatest(TextFns.wsTokenCount(col("text")), lit(1))
    val punctRatio = TextFns.punctCount(col("text")).cast("double") / length(col("text"))
    val quality = least(nTok, lit(100)).cast("double") / 100 * (lit(1) - punctRatio)
    val keepers = docs
      .groupBy(md5(col("text").cast("binary")).as("th"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val h = pmod(col("doc_id") * 2654435761L % 1000000007L, lit(100))
    docs.join(keepers, "doc_id")
      .withColumn("q", quality)
      .withColumn("n_tok", nTok)
      .filter(col("q") >= 0.5 && col("n_tok") >= 50)
      .withColumn("split",
        when(h < 80, "train").when(h < 90, "val").otherwise("test"))
      .groupBy(col("split"), col("lang"))
      // integer metrics only: an avg of the structured quality
      // rationals lands exactly on round-half boundaries, where
      // summation order flips the 4th digit between engines
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
  }

  val curateSql: String =
    """WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
      |scored AS (
      |  SELECT d.doc_id, lang,
      |    least(greatest(len(list_filter(string_split(text, ' '), t -> t <> '')), 1), 100)::DOUBLE
      |      / 100 * (1 - length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))::DOUBLE / length(text)) AS q,
      |    greatest(len(list_filter(string_split(text, ' '), t -> t <> '')), 1) AS n_tok,
      |    (d.doc_id * 2654435761 % 1000000007) % 100 AS h
      |  FROM documents d JOIN keep USING (doc_id))
      |SELECT CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split,
      |  lang, count(*) AS n_docs, sum(n_tok)::BIGINT AS n_tokens
      |FROM scored WHERE q >= 0.5 AND n_tok >= 50
      |GROUP BY 1, 2""".stripMargin

  /** G13 per-language keep-rates (percent) — the "data mixing"
    * weights a training pipeline applies to rebalance sources. */
  val SampleRates: Seq[(String, Int)] =
    Seq("en" -> 80, "fr" -> 50, "es" -> 50, "de" -> 30, "zh" -> 20)

  /** G13: deterministic stratified sampling — keep a per-language
    * fraction of docs, membership decided by an arithmetic doc_id
    * hash (a different multiplier than the split hash, so sample and
    * split membership stay independent). No RNG: portable across
    * engines, stable across runs/repartitions — how a real pipeline
    * downsamples a dominant language. Emits per-lang kept counts +
    * chars. */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val h = pmod(col("doc_id") * 1103515245L % 1000000007L, lit(100))
    val rate = SampleRates.foldLeft(lit(0)) {
      case (acc, (l, r)) => when(col("lang") === l, lit(r)).otherwise(acc)
    }
    documents(s, dir)
      .filter(h < rate)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("n_chars"))
  }

  val stratifiedSampleSql: String = {
    val rateCase = SampleRates.map { case (l, r) => s"WHEN lang = '$l' THEN $r" }
      .mkString("CASE ", " ", " ELSE 0 END")
    s"""SELECT lang, count(*) AS n_kept, sum(n_chars)::BIGINT AS n_chars
       |FROM (SELECT lang, n_chars,
       |        (doc_id * 1103515245 % 1000000007) % 100 AS h,
       |        $rateCase AS rate
       |      FROM documents)
       |WHERE h < rate GROUP BY lang""".stripMargin
  }

  val ChunkLen = 500
  val ChunkStride = 400

  /** G16: context-window chunking — split each document into
    * [[ChunkLen]]-char windows advancing by [[ChunkStride]]
    * (100-char overlap), the step that turns documents into
    * training-context rows. Pure column algebra: the chunk count is
    * arithmetic on n_chars, offsets come from one `sequence` +
    * `posexplode` — map-only, fanout = chars/stride, no shuffle
    * before the final stats agg. Emits per-doc chunk stats (count,
    * total/last chunk size) so the oracle is exact. */
  def chunkDocs(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
      .select(col("doc_id"), length(col("text")).as("len"))
      .withColumn("n_chunks", when(col("len") <= ChunkLen, lit(1L))
        .otherwise(ceil((col("len") - ChunkLen).cast("double") / ChunkStride) + 1L))
    d.select(col("doc_id"), col("n_chunks"), col("len"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("off"))
      .select(col("doc_id"), col("n_chunks"),
        least(lit(ChunkLen.toLong),
          col("len") - col("off") * ChunkStride).as("chunk_len"))
      .groupBy(col("doc_id"), col("n_chunks"))
      .agg(count(lit(1)).as("emitted"),
        sum(col("chunk_len")).as("chunk_chars"),
        min(col("chunk_len")).as("min_chunk"))
  }

  val chunkDocsSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, length(text) AS len,
       |    CASE WHEN length(text) <= $ChunkLen THEN 1
       |         ELSE CAST(ceil((length(text) - $ChunkLen)::DOUBLE / $ChunkStride) AS BIGINT) + 1
       |    END AS n_chunks
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, n_chunks,
       |    least($ChunkLen, len - unnest(range(0, n_chunks)) * $ChunkStride) AS chunk_len
       |  FROM d)
       |SELECT doc_id, n_chunks, count(*) AS emitted,
       |  sum(chunk_len)::BIGINT AS chunk_chars, min(chunk_len) AS min_chunk
       |FROM c GROUP BY doc_id, n_chunks""".stripMargin

  val VocabK = 200

  /** G14: vocabulary build — term frequency (total occurrences) and
    * document frequency per token, top-[[VocabK]] by tf with a
    * deterministic tiebreak. One explode + one groupBy (map-side
    * partial aggregation does the heavy lifting; the shuffle carries
    * one row per distinct token per partition, not per occurrence) —
    * the vocab/BPE-seed step of a tokenizer pipeline. */
  def vocabTopk(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"), explode(TextFns.wsTokens(lower(col("text")))).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("tf"), count_distinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("tok"))
      .limit(VocabK)

  val vocabTopkSql: String =
    s"""SELECT tok, count(*) AS tf, count(DISTINCT doc_id) AS df
       |FROM (SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS tok
       |      FROM documents)
       |GROUP BY tok ORDER BY tf DESC, tok LIMIT $VocabK""".stripMargin

  /** Coverage-vocab size — see the sizing note in [[vocabCoverage]]. */
  val CoverageK = 20

  /** K-line: VOCABULARY COVERAGE — per language, what fraction of
    * corpus token occurrences the top-[[CoverageK]] vocabulary (the
    * [[vocabTopk]] build shape) covers, plus the distinct
    * out-of-vocabulary type count. The tokenizer-coverage metric read
    * next to [[graft.queries.TextOps]]'s fertility before fixing a
    * vocab size: high OOV in a language means its text will shatter
    * into fallback bytes. Shape: the vocab is ≤ [[CoverageK]] rows —
    * broadcast into a left-semi/anti pair on the token stream; counts
    * are exact integers, the rate one division. The coverage vocab is
    * deliberately SMALLER than G14's [[VocabK]]: the synthetic corpus
    * draws from ~31 distinct tokens, so a 200-word vocab would cover
    * everything and the metric would be vacuous — top-20 leaves a
    * real OOV tail at every scale (spec asserts both sides non-zero). */
  def vocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val toks = documents(s, dir)
      .select(col("lang"), explode(TextFns.wsTokens(lower(col("text")))).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("tok")).limit(CoverageK)
      .select(col("tok"))
    val oov = toks.join(broadcast(vocab), Seq("tok"), "left_anti")
    val tot = toks.groupBy(col("lang")).agg(count(lit(1)).as("n_tokens"))
    val oovN = oov.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_oov"), count_distinct(col("tok")).as("n_oov_types"))
    tot.join(oovN, Seq("lang"), "left_outer")
      .select(col("lang"), col("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        coalesce(col("n_oov_types"), lit(0L)).as("n_oov_types"),
        pround(coalesce(col("n_oov"), lit(0L)).cast("double") / col("n_tokens"), 4)
          .as("oov_rate"))
  }

  val vocabCoverageSql: String =
    s"""WITH toks AS (
       |  SELECT lang, unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS tok
       |  FROM documents),
       |vocab AS (
       |  SELECT tok FROM (
       |    SELECT tok, count(*) AS tf FROM toks GROUP BY tok
       |    ORDER BY tf DESC, tok LIMIT $CoverageK)),
       |oov AS (
       |  SELECT lang, count(*) AS n_oov, count(DISTINCT tok) AS n_oov_types
       |  FROM toks WHERE tok NOT IN (SELECT tok FROM vocab) GROUP BY 1),
       |tot AS (SELECT lang, count(*) AS n_tokens FROM toks GROUP BY 1)
       |SELECT tot.lang, n_tokens,
       |  coalesce(n_oov, 0)::BIGINT AS n_oov,
       |  coalesce(n_oov_types, 0)::BIGINT AS n_oov_types,
       |  floor((coalesce(n_oov, 0)::DOUBLE / n_tokens) * 10000.0 + 0.5) / 10000.0 AS oov_rate
       |FROM tot LEFT JOIN oov ON tot.lang = oov.lang""".stripMargin

  /** K-line: PARETO TOKEN CONCENTRATION — per source, how much of
    * the token mass the top 10% of documents (by token count) hold.
    * The curation skew read before weighting a mixture: a source
    * whose top decile owns most of its tokens is a few-giant-docs
    * source and duplication/contamination risk concentrates there.
    * Grid formulation (the B10 `percentiles` convention): documents
    * collapse to (source, toks)-cells FIRST, the decile boundary is
    * then resolved on the cell grid — cum-count window + exact
    * integer clamp take = max(0, min(cnt, ceil(nd/10) − prev_cum)) —
    * so window partitions are bounded by DISTINCT token-count values
    * (≤ max doc length), never by document count; all arithmetic is
    * BIGINT-exact, one final division for the share. */
  def paretoTokens(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir).select(col("source"),
      size(TextFns.wsTokens(lower(col("text")))).cast("long").as("toks"))
    val g = d.groupBy(col("source"), col("toks")).agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("source")).orderBy(col("toks").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val e = g.withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("nd", sum(col("cnt")).over(Window.partitionBy(col("source"))))
      .withColumn("k", expr("(nd + 9) div 10"))
      .withColumn("take",
        greatest(lit(0L), least(col("cnt"), col("k") - (col("cum") - col("cnt")))))
    e.groupBy(col("source")).agg(
        max(col("nd")).as("n_docs"),
        sum(col("cnt") * col("toks")).as("total_tokens"),
        sum(col("take") * col("toks")).as("top_decile_tokens"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("top_decile_tokens"),
        pround(col("top_decile_tokens").cast("double") / col("total_tokens"), 4)
          .as("top_decile_share"))
  }

  val paretoTokensSql: String =
    """WITH d AS (
      |  SELECT source,
      |    len(list_filter(string_split(lower(text), ' '), t -> t <> ''))::BIGINT AS toks
      |  FROM documents),
      |g AS (SELECT source, toks, count(*)::BIGINT AS cnt FROM d GROUP BY 1, 2),
      |e AS (
      |  SELECT *,
      |    sum(cnt) OVER (PARTITION BY source ORDER BY toks DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    sum(cnt) OVER (PARTITION BY source) AS nd
      |  FROM g),
      |t AS (
      |  SELECT *, greatest(0, least(cnt, (nd + 9) // 10 - (cum - cnt))) AS take
      |  FROM e)
      |SELECT source, max(nd)::BIGINT AS n_docs,
      |  sum(cnt * toks)::BIGINT AS total_tokens,
      |  sum(take * toks)::BIGINT AS top_decile_tokens,
      |  floor((sum(take * toks)::DOUBLE / sum(cnt * toks)) * 10000.0 + 0.5) / 10000.0 AS top_decile_share
      |FROM t GROUP BY 1""".stripMargin

  val NGram = 13

  /** G11: train/test decontamination — test-split documents sharing
    * any [[NGram]]-gram span with a train-split document. 13-grams
    * are long enough that only real contamination (near-duplicate
    * passages) collides. Shape: per-doc n-gram arrays built map-side,
    * split membership from the same arithmetic hash as
    * [[sampleSplit]], one equi-join on the gram — shuffle ∝ postings,
    * never test×train. Emits (doc_id, n_shared, n_grams, ratio). */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    // each doc's DISTINCT 13-grams built map-side by the codegen
    // [[graft.plans.TokenGrams]] kernel (the shingles shape
    // generalized to [[NGram]]): no doc window, no dropDuplicates, no
    // totals re-join. r14 ABProbe `deconk` (6 alternating rounds,
    // warm med): 0.925 s vs 2.216 for the doc-keyed lead-window form;
    // the same shape with the interpreted HOF chain LOST 2.5× (r13
    // `decon`: 5.34 vs 2.08 s) — the loss was the lambda interpreter,
    // not the shape. < NGram-token docs emit no grams (the size guard
    // masks the kernel's whole-doc fallback).
    val splitH = pmod(col("doc_id") * 2654435761L % 1000000007L, lit(100))
    val gs = when(TextFns.wsTokenCount(lower(col("text"))) >= NGram,
        graft.functions.HashFns.shingles(col("text"), NGram))
      .otherwise(array().cast("array<string>"))
    val docGrams = documents(s, dir)
      .select(col("doc_id"), splitH.as("h"), gs.as("gs"))
    val trainGrams = docGrams.filter(col("h") < 80)
      .select(explode(col("gs")).as("gram")).distinct()
    val test = docGrams.filter(col("h") >= 90)
      .select(col("doc_id"), size(col("gs")).cast("long").as("n_grams"),
        explode(col("gs")).as("gram"))
    test.join(trainGrams, "gram")
      .groupBy(col("doc_id"), col("n_grams"))
      .agg(count(lit(1)).as("n_shared"))
      .select(col("doc_id"), col("n_shared"), col("n_grams"),
        pround(col("n_shared").cast("double") / col("n_grams"), 4).as("ratio"))
  }

  val decontaminateSql: String = {
    val gramExpr = (0 until NGram).map(i => s"toks[i+$i]").mkString(" || ' ' || ")
    s"""WITH t AS (
       |  SELECT doc_id, (doc_id * 2654435761 % 1000000007) % 100 AS h,
       |    list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
       |  FROM documents),
       |posts AS (
       |  SELECT DISTINCT doc_id, h, gram FROM (
       |    SELECT doc_id, h, unnest([$gramExpr
       |      for i in range(1, len(toks) - ${NGram - 2})]) AS gram
       |    FROM t WHERE len(toks) >= $NGram)),
       |train_grams AS (SELECT DISTINCT gram FROM posts WHERE h < 80),
       |test AS (SELECT * FROM posts WHERE h >= 90),
       |ng AS (SELECT doc_id, count(*) AS n_grams FROM test GROUP BY 1),
       |sh AS (SELECT test.doc_id, count(*) AS n_shared
       |       FROM test JOIN train_grams USING (gram) GROUP BY 1)
       |SELECT doc_id, n_shared, n_grams,
       |  floor((n_shared::DOUBLE / n_grams) * 10000.0 + 0.5) / 10000.0 AS ratio
       |FROM sh JOIN ng USING (doc_id)""".stripMargin
  }

  val SeqLen = 512

  /** Shard count for [[seqPack]] — at 100 TB this is thousands; 8
    * keeps verify output inspectable while still exercising the
    * shard-local window path. */
  val PackShards = 8

  /** G9: sequence packing — docs concatenate greedily (in doc_id
    * order) into fixed-budget training sequences: a running token
    * cumsum assigns each doc to bin floor(cumsum_before / SeqLen).
    * Packing is SHARD-LOCAL by design (as in any real pipeline): the
    * deterministic doc_id hash routes each doc to one of
    * [[PackShards]] shards and the cumsum window partitions by
    * shard, so no "global window / single partition" stage exists at
    * any scale. Emits per-(shard, bin) doc counts and token fill. */
  def seqPack(s: SparkSession, dir: String): DataFrame = {
    val shard = pmod(col("doc_id") * 2654435761L % 1000000007L, lit(PackShards))
    val toks = documents(s, dir)
      .select(col("doc_id"), shard.as("shard"),
        TextFns.wsTokenCount(col("text")).cast("long").as("n_tok"))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    toks
      .withColumn("before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("bin", floor(col("before") / SeqLen))
      .groupBy(col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
  }

  val seqPackSql: String =
    s"""SELECT shard, bin, count(*) AS n_docs, sum(n_tok)::BIGINT AS n_tokens FROM (
       |  SELECT doc_id, shard, n_tok,
       |    (coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // $SeqLen)::BIGINT AS bin
       |  FROM (SELECT doc_id,
       |          (doc_id * 2654435761 % 1000000007) % $PackShards AS shard,
       |          len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tok
       |        FROM documents))
       |GROUP BY shard, bin""".stripMargin

  /** Context lengths swept by [[packEfficiency]]. */
  val PackGrid: Seq[Int] = Seq(128, 256, 512, 1024, 2048)

  /** K128: PACKING-EFFICIENCY SWEEP — the max_seq_len DECISION curve
    * (the K115 filter_sweep convention applied to G9's packing):
    * for each candidate context length L, concat-packing's two
    * quality costs — the FRAGMENT rate (docs split across a sequence
    * boundary: cross-sequence attention contamination or a truncated
    * doc, depending on the trainer) and the tail PADDING per shard
    * (concat packing's only padding) — next to the sequence count.
    * Bigger L ⇒ fewer fragments but more tail pad per shard and
    * coarser batching; the curve is the trade a pretraining setup
    * reads before fixing L.
    *
    * Shape: G9's shard-local cumsum window runs ONCE (L-independent);
    * the L grid fans out MAP-SIDE over the cumsum frame (rows ×
    * |grid|, the filter_sweep pattern); per-L doc stats and per-L
    * shard-tail stats are two tiny aggregates joined on L. All
    * arithmetic exact BIGINT (per-million rates; products ≤ 10¹⁷ at
    * 10¹¹ docs). */
  def packEfficiency(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val shard = pmod(col("doc_id") * 2654435761L % 1000000007L, lit(PackShards))
    val toks = documents(s, dir)
      .select(col("doc_id"), shard.as("shard"),
        TextFns.wsTokenCount(col("text")).cast("long").as("n_tok"))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = toks
      .withColumn("before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .localCheckpoint() // ONE window pass feeds both grid aggregates
    val grid = PackGrid.map(_.toLong).toDF("len")
    val docStats = cum.crossJoin(broadcast(grid))
      .withColumn("split",
        expr("(before + n_tok - 1) div len > before div len"))
      .groupBy(col("len"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("split"), 1L).otherwise(0L)).as("n_docs_split"))
    val shardTails = cum.groupBy(col("shard"))
      .agg(sum(col("n_tok")).as("tot"))
      .crossJoin(broadcast(grid))
      .groupBy(col("len"))
      .agg(sum(expr("(tot + len - 1) div len")).as("n_seqs"),
        sum(expr("(len - tot % len) % len")).as("pad_tokens"))
    docStats.join(shardTails, "len")
      .select(col("len"), col("n_seqs"), col("n_docs"), col("n_docs_split"),
        expr("(n_docs_split * 1000000) div n_docs").as("split_pm"),
        col("pad_tokens"),
        expr("(pad_tokens * 1000000) div (n_seqs * len)").as("pad_pm"))
      .orderBy(col("len"))
  }

  val packEfficiencySql: String = {
    val grid = PackGrid.mkString("[", ", ", "]")
    s"""WITH t AS (
       |  SELECT doc_id,
       |    (doc_id * 2654435761 % 1000000007) % $PackShards AS shard,
       |    len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS n_tok
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, shard, n_tok,
       |    coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS before
       |  FROM t),
       |g AS (SELECT unnest($grid)::BIGINT AS len),
       |d AS (
       |  SELECT len, count(*) AS n_docs,
       |    sum(CASE WHEN (before + n_tok - 1) // len > before // len
       |             THEN 1 ELSE 0 END)::BIGINT AS n_docs_split
       |  FROM c, g GROUP BY len),
       |sh AS (SELECT shard, sum(n_tok)::BIGINT AS tot FROM c GROUP BY 1),
       |st AS (
       |  SELECT len,
       |    sum((tot + len - 1) // len)::BIGINT AS n_seqs,
       |    sum((len - tot % len) % len)::BIGINT AS pad_tokens
       |  FROM sh, g GROUP BY len)
       |SELECT len, n_seqs, n_docs, n_docs_split,
       |  (n_docs_split * 1000000 // n_docs)::BIGINT AS split_pm,
       |  pad_tokens,
       |  (pad_tokens * 1000000 // (n_seqs * len))::BIGINT AS pad_pm
       |FROM d JOIN st USING (len)""".stripMargin
  }

  /** H14: dataset card — the one-row datasheet a corpus release
    * ships with (and a pipeline alerts on): sizes, source/language
    * breadth, exact-duplicate rate, length distribution. One scan,
    * one global aggregate; every stat is engine-exact (the dup rate
    * hashes text with md5, common to both engines). */
  def datasetCard(s: SparkSession, dir: String): DataFrame =
    documents(s, dir).agg(
      count(lit(1)).as("n_docs"),
      count_distinct(col("lang")).as("n_langs"),
      count_distinct(col("source")).as("n_sources"),
      sum(col("n_chars")).cast("long").as("total_chars"),
      (count(lit(1)) - count_distinct(md5(col("text").cast("binary"))))
        .as("n_dup_texts"),
      pround(avg(col("n_chars")), 4).as("avg_chars"),
      pround(expr("percentile(n_chars, 0.5)"), 4).as("p50_chars"),
      pround(expr("percentile(n_chars, 0.95)"), 4).as("p95_chars"))

  val datasetCardSql: String =
    """SELECT count(*) AS n_docs,
      |  count(DISTINCT lang) AS n_langs,
      |  count(DISTINCT source) AS n_sources,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  (count(*) - count(DISTINCT md5(text)))::BIGINT AS n_dup_texts,
      |  floor((avg(n_chars)) * 10000.0 + 0.5) / 10000.0 AS avg_chars,
      |  floor((quantile_cont(n_chars, 0.5)) * 10000.0 + 0.5) / 10000.0 AS p50_chars,
      |  floor((quantile_cont(n_chars, 0.95)) * 10000.0 + 0.5) / 10000.0 AS p95_chars
      |FROM documents""".stripMargin

  /** Funnel stage thresholds (ordered: a doc is attributed to its
    * FIRST failing stage, so per-stage counts are the attrition
    * report a curation run publishes). */
  val MinTok = 30

  /** I13: filter funnel — the composed keep/drop pipeline a corpus
    * curation run ships, with per-stage attrition: too-short →
    * repetitive (Gopher fractions) → low-quality (curate's score) →
    * exact-dup (non-canonical copy) → pass. One scan feeds a word
    * aggregate + a dup-keeper window; the verdict is a single CASE,
    * so adding a stage costs a predicate, not a pass over the
    * corpus. */
  def filterFunnel(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val words = docs
      .select(col("doc_id"), explode(TextFns.wsTokens(lower(col("text")))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_tok"), count(lit(1)).as("n_distinct"),
        max(col("cnt")).as("top_cnt"))
    val keeper = docs
      .groupBy(md5(col("text").cast("binary")).as("th"))
      .agg(min(col("doc_id")).as("keeper"))
    val punctRatio = TextFns.punctCount(col("text")).cast("double") / length(col("text"))
    val quality = least(greatest(TextFns.wsTokenCount(col("text")), lit(1)), lit(100))
      .cast("double") / 100 * (lit(1) - punctRatio)
    val nTok = coalesce(col("n_tok"), lit(0L))
    val dupW = lit(1.0) - coalesce(col("n_distinct"), lit(0L)).cast("double") /
      greatest(nTok, lit(1L))
    val topW = coalesce(col("top_cnt"), lit(0L)).cast("double") / greatest(nTok, lit(1L))
    docs
      .withColumn("th", md5(col("text").cast("binary")))
      .join(words, Seq("doc_id"), "left_outer")
      .join(keeper, "th")
      .withColumn("stage",
        when(nTok < MinTok, "1_too_short")
          .when(dupW > CorpusClean.DupWordMax || topW > CorpusClean.TopWordMax,
            "2_repetitive")
          .when(quality < 0.5, "3_low_quality")
          .when(col("doc_id") =!= col("keeper"), "4_exact_dup")
          .otherwise("5_pass"))
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .orderBy(col("stage"))
  }

  val filterFunnelSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, n_chars,
       |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks,
       |    least(greatest(len(list_filter(string_split(text, ' '), t -> t <> '')), 1), 100)::DOUBLE
       |      / 100 * (1 - length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))::DOUBLE / length(text)) AS q,
       |    min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
       |  FROM documents),
       |scored AS (
       |  SELECT doc_id, n_chars, q, keeper,
       |    len(toks) AS n_tok,
       |    1.0 - len(list_distinct(toks))::DOUBLE / greatest(len(toks), 1) AS dup_w,
       |    coalesce(list_max(list_transform(list_distinct(toks),
       |      w -> len(list_filter(toks, t -> t = w)))), 0)::DOUBLE
       |      / greatest(len(toks), 1) AS top_w
       |  FROM base),
       |verdict AS (
       |  SELECT doc_id, n_chars,
       |    CASE WHEN n_tok < $MinTok THEN '1_too_short'
       |         WHEN dup_w > ${CorpusClean.DupWordMax} OR top_w > ${CorpusClean.TopWordMax}
       |           THEN '2_repetitive'
       |         WHEN q < 0.5 THEN '3_low_quality'
       |         WHEN doc_id <> keeper THEN '4_exact_dup'
       |         ELSE '5_pass' END AS stage
       |  FROM scored)
       |SELECT stage, count(*) AS n_docs, sum(n_chars)::BIGINT AS n_chars
       |FROM verdict GROUP BY stage ORDER BY stage""".stripMargin

  /** Target corpus size (tokens) and per-language mixing percents for
    * [[tokenBudgetMix]]; percents sum to 100. */
  val MixBudget = 1000000L
  val MixPct: Seq[(String, Int)] = Seq(
    "en" -> 40, "zh" -> 15, "de" -> 15, "es" -> 15, "fr" -> 15)

  /** J-line: token-budget mixing plan — given a target token budget
    * and per-language target shares, compute what a data-mixing step
    * must do per language: sample DOWN (rate < 1) or repeat for
    * multiple EPOCHS (rate > 1, the oversampling that data-constrained
    * scaling runs). Targets are exact integers (budget·pct div 100);
    * epochs/rates are single divisions of exact BIGINTs. One
    * token-count aggregate — the planning query is corpus-sized in
    * input, 5 rows out. */
  def tokenBudgetMix(s: SparkSession, dir: String): DataFrame = {
    val pctCase = MixPct.map { case (l, p) => s"WHEN lang = '$l' THEN $p" }
      .mkString("CASE ", " ", " ELSE 0 END")
    documents(s, dir)
      .select(col("lang"), TextFns.wsTokenCount(col("text")).cast("long").as("toks"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("actual_tokens"))
      .withColumn("target_tokens", expr(s"(${MixBudget}L * ($pctCase)) div 100"))
      .select(col("lang"), col("n_docs"), col("actual_tokens"), col("target_tokens"),
        pround(col("target_tokens").cast("double") / col("actual_tokens"), 4).as("epochs"),
        pround(least(lit(1.0),
          col("target_tokens").cast("double") / col("actual_tokens")), 4).as("sample_rate"),
        (col("target_tokens") > col("actual_tokens")).as("oversample"))
  }

  val tokenBudgetMixSql: String = {
    val pctCase = MixPct.map { case (l, p) => s"WHEN lang = '$l' THEN $p" }
      .mkString("CASE ", " ", " ELSE 0 END")
    s"""WITH a AS (
       |  SELECT lang, count(*) AS n_docs,
       |    sum(len(list_filter(string_split(text, ' '), t -> t <> '')))::BIGINT AS actual_tokens,
       |    ($MixBudget * ($pctCase)) // 100 AS target_tokens
       |  FROM documents GROUP BY lang)
       |SELECT lang, n_docs, actual_tokens, target_tokens,
       |  floor((target_tokens::DOUBLE / actual_tokens) * 10000.0 + 0.5) / 10000.0 AS epochs,
       |  floor((least(1.0, target_tokens::DOUBLE / actual_tokens)) * 10000.0 + 0.5) / 10000.0 AS sample_rate,
       |  target_tokens > actual_tokens AS oversample
       |FROM a""".stripMargin
  }

  /** J-line: chunk→reassemble round-trip proof — [[chunkDocs]]'s
    * geometry is lossless: keeping the first [[ChunkStride]] chars of
    * every chunk except the last (which is kept whole) and
    * concatenating in offset order reproduces the document exactly.
    * The ordered concat is collect_list → array_sort(struct) →
    * array_join (offset is unique per doc, so the sort is a total
    * order — the deterministic form of an ordered string_agg). The
    * `ok` column is the per-doc proof a pipeline can alert on. */
  def chunkReassemble(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
      .withColumn("n_chunks", when(col("len") <= ChunkLen, lit(1L))
        .otherwise(ceil((col("len") - ChunkLen).cast("double") / ChunkStride) + 1L))
    val parts = d
      .select(col("doc_id"), col("text"), col("len"), col("n_chunks"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("off"))
      .select(col("doc_id"), col("len"), col("n_chunks"), col("off"),
        when(col("off") < col("n_chunks") - 1,
          expr(s"substring(text, cast(off * $ChunkStride + 1 as int), $ChunkStride)"))
          .otherwise(expr(s"substring(text, cast(off * $ChunkStride + 1 as int), $ChunkLen)"))
          .as("part"))
    val rea = parts.groupBy(col("doc_id"), col("len"), col("n_chunks"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("off"), col("part")))),
        x => x.getField("part")), "").as("rea"))
    rea.join(documents(s, dir).select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id"), col("n_chunks"), col("len"),
        length(col("rea")).as("re_len"), (col("rea") === col("text")).as("ok"))
  }

  val chunkReassembleSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, text, length(text) AS len,
       |    CASE WHEN length(text) <= $ChunkLen THEN 1
       |         ELSE CAST(ceil((length(text) - $ChunkLen)::DOUBLE / $ChunkStride) AS BIGINT) + 1
       |    END AS n_chunks
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, text, len, n_chunks, unnest(range(0, n_chunks)) AS off FROM d),
       |p AS (
       |  SELECT doc_id, len, n_chunks, off,
       |    CASE WHEN off < n_chunks - 1
       |         THEN substr(text, (off * $ChunkStride + 1)::INT, $ChunkStride)
       |         ELSE substr(text, (off * $ChunkStride + 1)::INT, $ChunkLen) END AS part
       |  FROM c),
       |r AS (
       |  SELECT doc_id, len, n_chunks, string_agg(part, '' ORDER BY off) AS rea
       |  FROM p GROUP BY 1, 2, 3)
       |SELECT r.doc_id, n_chunks, len, length(rea) AS re_len,
       |  rea = d2.text AS ok
       |FROM r JOIN documents d2 ON r.doc_id = d2.doc_id""".stripMargin

  /** Picks per source for [[systematicSample]]. */
  val SysK = 10

  /** Contiguous doc_id ids per prefix-sum shard in [[systematicSample]]. */
  val SysShardDocs = 4096L

  /** K39: WEIGHT-PROPORTIONAL SYSTEMATIC SAMPLING — the
    * deterministic, RNG-free subsample every corpus-curation pipeline
    * needs when "sample 10 docs per source, proportional to token
    * mass" must replay identically (the house no-randomness
    * convention applied to sampling): lay each source's docs on the
    * cumulative-token axis in doc_id order, cut it into
    * total div [[SysK]] strides, and keep exactly the docs that cross
    * a stride boundary — selection probability ∝ token weight, like
    * weighted reservoir sampling but exact-integer and
    * order-independent (every quantity is a BIGINT window sum). The
    * prefix sum is DECOMPOSED (concurrency_peak's pattern): doc_ids
    * shard into contiguous [[SysShardDocs]]-id ranges, each
    * (source, shard) runs a LOCAL running sum, and the cross-shard
    * carry is a cumulative sum over the tiny per-shard net frame
    * (rows = #shards, not #docs) broadcast back — no source's full
    * document stream ever serializes through one reducer. Since
    * shard = doc_id div k is monotone in doc_id, (shard, doc_id)
    * order equals doc_id order and the decomposed cum is identical.
    * At 100 TB the 3-column (source, doc_id, toks) projection would
    * be checkpointed once so the two passes don't re-read text.
    * `n_buckets` counts the boundaries a doc spans (heavy docs span
    * several but appear once). */
  def systematicSample(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = documents(s, dir)
      .select(col("source"), col("doc_id"),
        graft.functions.TextFns.wsTokenCount(col("text")).cast("long").as("toks"))
      .withColumn("shard", expr(s"doc_id div ${SysShardDocs}L"))
    val wLocal = Window.partitionBy(col("source"), col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = toks.withColumn("lcum", sum(col("toks")).over(wLocal))
    val shardNet = toks.groupBy(col("source"), col("shard"))
      .agg(sum(col("toks")).as("net"))
    val carry = shardNet
      .withColumn("carry", coalesce(
        sum(col("net")).over(Window.partitionBy(col("source")).orderBy(col("shard"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("total", sum(col("net")).over(Window.partitionBy(col("source"))))
      .select(col("source"), col("shard"), col("carry"), col("total"))
    val cum = local.join(broadcast(carry), Seq("source", "shard"))
      .withColumn("cum", col("lcum") + col("carry"))
    cum
      .withColumn("stride", expr(s"total div ${SysK}L"))
      .filter(col("stride") > 0)
      .withColumn("n_buckets",
        expr("cum div stride") - expr("(cum - toks) div stride"))
      .filter(col("n_buckets") > 0)
      .select(col("source"), col("doc_id"), col("toks"), col("cum"),
        expr("cum div stride").as("bucket"), col("n_buckets"))
  }

  /** Bottom-k sample size. */
  val BottomK = 100
  /** Portable multiplicative-hash constants (VecFns convention). */
  private val PriMult = 2654435761L
  private val PriP = 1000000007L

  /** K74: BOTTOM-K PRIORITY SAMPLE — the distributed reservoir: each
    * row gets a deterministic pseudo-random priority (multiplicative
    * hash of doc_id mod a prime — engine-portable, rerun-stable) and
    * the sample is the [[BottomK]] smallest priorities. MERGEABLE by
    * construction: bottom-k of a union is the bottom-k of per-part
    * bottom-k's, which is exactly how Spark plans it — a
    * TakeOrderedAndProject (per-partition heap + driver merge of k
    * rows), never a global sort or a single-reducer rank window. The
    * inner mod keeps every product under 2⁶³ (ANSI-safe, and DuckDB
    * BIGINT never overflows). */
  def sampleBottomk(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        pmod(pmod(col("doc_id"), lit(PriP)) * PriMult, lit(PriP)).as("priority"))
      .orderBy(col("priority"), col("doc_id"))
      .limit(BottomK)

  val sampleBottomkSql: String =
    s"""SELECT doc_id, source, n_chars,
       |  (doc_id % $PriP) * $PriMult % $PriP AS priority
       |FROM documents
       |ORDER BY priority, doc_id LIMIT $BottomK""".stripMargin

  /** Inverse-frequency weight scale for [[labelBalance]]. */
  val BalScale = 1000000L

  /** K80: LABEL/CLASS BALANCE — the class-rebalance table a training
    * pipeline computes before sampling: per (source, lang) cell, doc
    * and char counts, corpus share, and the inverse-frequency
    * resampling weight w = N / (K·n) (uniform-over-cells target),
    * emitted as an exact ×[[BalScale]] integer division so the
    * cross-engine hash never sees a float accumulation. One
    * combining aggregate + two 1-row broadcast scalars (total N,
    * cell count K) — the same plan at any scale. */
  def labelBalance(s: SparkSession, dir: String): DataFrame = {
    val cells = documents(s, dir)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
    val tot = cells.agg(sum(col("n_docs")).as("n_total"),
      count(lit(1)).as("k_cells"))
    cells.crossJoin(broadcast(tot)) // 1-row scalar totals frame
      .select(col("source"), col("lang"), col("n_docs"), col("n_chars"),
        pround(col("n_docs").cast("double") / col("n_total"), 4).as("share"),
        expr(s"(n_total * ${BalScale}L) div (k_cells * n_docs)").as("weight_q"))
  }

  val labelBalanceSql: String =
    s"""WITH cells AS (
       |  SELECT source, lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS n_chars
       |  FROM documents GROUP BY 1, 2),
       |tot AS (SELECT sum(n_docs)::BIGINT AS n_total, count(*) AS k_cells FROM cells)
       |SELECT source, lang, n_docs, n_chars,
       |  floor((n_docs::DOUBLE / n_total) * 10000.0 + 0.5) / 10000.0 AS share,
       |  (n_total * $BalScale) // (k_cells * n_docs) AS weight_q
       |FROM cells, tot""".stripMargin

  /** Smoothing pseudo-count for [[targetEncode]]'s regularized
    * variant (the standard "m-estimate" prior weight). */
  val TeSmooth = 20L

  /** K87: LEAKAGE-SAFE TARGET ENCODING — the categorical feature
    * encoder every tabular-ML pipeline ships: replace a category
    * (customer market segment) with the mean target (order value) of
    * its OTHER rows — leave-one-out, so a row never sees its own
    * label (the leakage the naive group-mean encoder commits) — plus
    * the m-estimate smoothed variant that shrinks thin categories
    * toward the global mean with [[TeSmooth]] pseudo-observations.
    * All arithmetic is exact: targets are ×100 cents on the
    * DECIMAL(18,2) grid (the cohort_ltv convention) and both
    * encodings are integer divisions of exact BIGINT sums — nothing
    * float ever reaches the hash gate. Shape: one custkey-keyed
    * join (orders ⋈ customer dimension), one segment aggregate
    * (5 rows) broadcast back, the 1-row global frame folded FROM the
    * segment frame (never a third fact pass) — the encode itself is
    * MAP-SIDE against broadcasts. The plan reads the 3-column fact
    * projection twice (stats pass + encode pass); at 100 TB that
    * projection would be checkpointed once (the systematic_sample
    * note) — both passes are scan + broadcast join, no fact-side
    * shuffle beyond the custkey join. */
  def targetEncode(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
      (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val c = customer(s, dir).select(col("c_custkey"), col("c_mktsegment").as("seg"))
    val rows = o.join(c, o("o_custkey") === c("c_custkey"))
      .select(col("o_orderkey"), col("seg"), col("cents"))
    // the 5-row stats frame is materialized once (localCheckpoint)
    // so BOTH consumers — the broadcast encode join and the global
    // fold — read it without re-deriving its fact-scan lineage
    val segStats = rows.groupBy(col("seg"))
      .agg(count(lit(1)).as("seg_n"), sum(col("cents")).as("seg_sum"))
      .localCheckpoint()
    // global totals fold from the 5-row segment frame, NOT from a
    // third pass over the fact table
    val glob = segStats.agg(sum(col("seg_n")).as("g_n"),
      sum(col("seg_sum")).as("g_sum"))
    rows.join(broadcast(segStats), "seg")
      .crossJoin(broadcast(glob))
      .select(col("o_orderkey"), col("seg"), col("cents"),
        expr("(seg_sum - cents) div (seg_n - 1)").as("enc_c"),
        expr(s"(seg_sum - cents + $TeSmooth * (g_sum div g_n)) div " +
          s"(seg_n - 1 + $TeSmooth)").as("enc_smooth_c"))
  }

  val targetEncodeSql: String =
    s"""WITH rows_ AS (
       |  SELECT o_orderkey, c_mktsegment AS seg,
       |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |  FROM orders JOIN customer ON o_custkey = c_custkey),
       |seg_stats AS (
       |  SELECT seg, count(*) AS seg_n, sum(cents)::BIGINT AS seg_sum
       |  FROM rows_ GROUP BY 1),
       |gstats AS (SELECT count(*) AS g_n, sum(cents)::BIGINT AS g_sum FROM rows_)
       |SELECT o_orderkey, seg, cents,
       |  (seg_sum - cents) // (seg_n - 1) AS enc_c,
       |  (seg_sum - cents + $TeSmooth * (g_sum // g_n))
       |    // (seg_n - 1 + $TeSmooth) AS enc_smooth_c
       |FROM rows_ JOIN seg_stats USING (seg) CROSS JOIN gstats""".stripMargin

  /** Epoch/shard geometry for [[epochShards]] and the second
    * multiplier that decorrelates epochs (distinct from the split
    * and stratified-sample hash streams). */
  val EpochN = 4
  val ShardN = 8L
  val EpMult2 = 1103515245L

  /** K94: EPOCH SHARD ASSIGNMENT — the deterministic multi-epoch
    * shuffle a training run needs: every (doc, epoch) maps to a
    * shard by an arithmetic hash that varies BY EPOCH
    * (((doc·Mult + epoch·Mult2) mod P) mod [[ShardN]]), so each
    * epoch presents the corpus in a different order/grouping without
    * any RNG — rerun-stable, engine-portable, resumable mid-epoch
    * (the sample_split no-randomness convention extended to the
    * epoch axis). The report is the evidence a pipeline checks
    * before trusting the shuffle: per (epoch, shard) doc/char
    * balance, plus `n_same0` — how many of the shard's docs landed
    * in the SAME shard in epoch 0. For e > 0 that collision count
    * concentrating near n/[[ShardN]] is the decorrelation reading
    * (epoch boundaries don't repeat); epoch 0 trivially reports
    * n_same0 = n_docs. Map-side assignment (explode by
    * [[EpochN]]) + ONE (epoch, shard) aggregate — constant-size
    * output at any corpus scale. */
  def epochShards(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"), col("n_chars"),
        explode(sequence(lit(0L), lit(EpochN - 1L))).as("epoch"))
      .withColumn("shard", expr(
        s"((doc_id % $PriP) * $PriMult + epoch * $EpMult2) % $PriP % $ShardN"))
      .withColumn("shard0",
        expr(s"((doc_id % $PriP) * $PriMult) % $PriP % $ShardN"))
      .groupBy(col("epoch"), col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"),
        sum(when(col("shard") === col("shard0"), 1L).otherwise(0L))
          .as("n_same0"))

  val epochShardsSql: String =
    s"""WITH e AS (
       |  SELECT doc_id, n_chars, unnest(range($EpochN))::BIGINT AS epoch
       |  FROM documents),
       |a AS (
       |  SELECT epoch, n_chars,
       |    ((doc_id % $PriP) * $PriMult + epoch * $EpMult2) % $PriP % $ShardN
       |      AS shard,
       |    ((doc_id % $PriP) * $PriMult) % $PriP % $ShardN AS shard0
       |  FROM e)
       |SELECT epoch, shard, count(*) AS n_docs, sum(n_chars)::BIGINT AS n_chars,
       |  sum(CASE WHEN shard = shard0 THEN 1 ELSE 0 END)::BIGINT AS n_same0
       |FROM a GROUP BY 1, 2""".stripMargin

  /** Negatives drawn per anchor by [[negativeSample]]. */
  val NegK = 4L

  /** K97: NEGATIVE SAMPLING — the contrastive-training companion to
    * the retrieval family: for each anchor document (a deterministic
    * 10% slice), [[NegK]] "random" negatives drawn by an arithmetic
    * hash ring over the dense doc_id space — zero RNG, rerun-stable,
    * engine-portable (the epoch_shards hash stream, salted by the
    * draw index). Production samplers RESAMPLE on collisions; a
    * resample loop is unbounded and un-oracle-able, so this emits
    * the draw verbatim with HONEST `is_self` / `same_source` flags —
    * the downstream filter (or the in-batch-negatives trick) owns
    * the policy, and the flags quantify how often it triggers
    * (≈1/N self, ≈1/S same-source). The hard-negative upgrade is a
    * registered swap: K1's LSH buckets supply same-bucket-but-
    * dissimilar candidates through the same (anchor, k) frame.
    * Shape: anchors × K explode (map-side), ONE equi-join back to
    * the doc table on neg_id — linear in anchors, no shuffle wider
    * than the join. The ring assumes DENSE doc ids (mod n lands on
    * an existing row); on a sparse id space the inner join would
    * silently drop draws, so the spec pins exactly [[NegK]] rows per
    * anchor — a gap surfaces as a count mismatch, not a quiet bias. */
  def negativeSample(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir).select(col("doc_id"), col("source"))
    val nFrame = docs.agg(count(lit(1)).as("n_docs"))
    docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("anchor_id"), col("source").as("anchor_source"))
      .crossJoin(broadcast(nFrame))
      .select(col("anchor_id"), col("anchor_source"), col("n_docs"),
        explode(sequence(lit(1L), lit(NegK))).as("k"))
      .withColumn("neg_id", expr(
        s"((anchor_id % $PriP) * $PriMult + k * $EpMult2) % $PriP % n_docs"))
      .join(docs.select(col("doc_id").as("neg_id"),
        col("source").as("neg_source")), "neg_id")
      .select(col("anchor_id"), col("k"), col("neg_id"),
        (col("neg_id") === col("anchor_id")).as("is_self"),
        (col("neg_source") === col("anchor_source")).as("same_source"))
  }

  val negativeSampleSql: String =
    s"""WITH n AS (SELECT count(*) AS n_docs FROM documents),
       |a AS (SELECT doc_id AS anchor_id, source AS anchor_source
       |      FROM documents WHERE doc_id % 10 = 0),
       |c AS (SELECT anchor_id, anchor_source,
       |        unnest(range(1, ${NegK + 1}))::BIGINT AS k FROM a),
       |x AS (
       |  SELECT anchor_id, k, anchor_source,
       |    ((anchor_id % $PriP) * $PriMult + k * $EpMult2) % $PriP % n.n_docs
       |      AS neg_id
       |  FROM c, n)
       |SELECT x.anchor_id, x.k, x.neg_id,
       |  x.neg_id = x.anchor_id AS is_self,
       |  d.source = x.anchor_source AS same_source
       |FROM x JOIN documents d ON d.doc_id = x.neg_id""".stripMargin

  /** Cumulative corpus-fraction cuts (%) for the saturation stages. */
  val SatCuts: Seq[Int] = Seq(10, 25, 50, 75)

  /** K110: N-GRAM SATURATION CURVE — the Heaps-law "how much does new
    * data add" read that sizes a crawl before training: docs are
    * assigned to 5 deterministic growth stages (hash-draw percent vs
    * [[SatCuts]] — the negative_sample multiplicative-hash family, so
    * the "corpus at 10%/25%/50%/75%/100%" prefixes are rerun-stable
    * and engine-portable), and each distinct 3-gram shingle is
    * credited to the FIRST stage containing it (min over its docs).
    * The stage histogram of first-appearances then yields, per stage:
    * docs/tokens/new-grams in the stage, their cumulatives, and the
    * integer new-grams-per-million-tokens rates whose decay IS the
    * saturation signal (flat rate = fresh corpus, collapsing rate =
    * you are re-crawling what you have).
    *
    * Scale: the only rows-scale shuffles are the gram-keyed
    * min(stage) aggregate (∝ distinct grams, map-side combine — the
    * ngram_novelty postings shape) and the 5-key doc aggregate; the
    * cumulative is a ≤5×5 broadcast range-join, never a global
    * window. Rates are exact BIGINT divisions (×10⁶ — the K80/K88
    * convention); at ≥10¹³-token scale the ×10⁶ products swap to
    * DECIMAL (the trend_fit note).
    *
    * Slope term, pinned (the r10 VERDICT ask — this op carried the
    * suite's worst sf0.01→sf0.1 warm ratio, 4.9 mid-bench): the
    * dominant growth is the LINEAR shingle-postings scan (tokens ×10
    * across that step), not gram-universe superlinearity and not the
    * stage grid. Measured on the driver corpus: distinct 3-grams grow
    * only 1.68× for the 10× token step (16,245 → 27,213 — the corpus
    * is already deep in its Heaps saturation regime, which is also
    * what the operator exists to report), and the stage join is a
    * constant ≤5×5. Three-SF probe (QProbe, warm min, idle box):
    * sf0.001 1.06 s / sf0.01 1.14 s / sf0.1 3.13 s — the first two
    * share the SAME 500-doc documents table, and their times are
    * equal within noise, ruling out any term that grows without the
    * corpus; the 10× step fits t ≈ 0.92 s fixed + 0.22 s·(tokens/27k)
    * exactly. A further 10× drives the ratio toward the asymptotic
    * 10 of any single-scan linear operator — the healthy shape; a
    * ratio ABOVE the data growth is what would mark a defect. */
  def saturationCurve(s: SparkSession, dir: String): DataFrame = {
    val pct = expr(s"(doc_id % $PriP) * $PriMult % $PriP % 100")
    val bucket = when(pct < SatCuts(0), 1L).when(pct < SatCuts(1), 2L)
      .when(pct < SatCuts(2), 3L).when(pct < SatCuts(3), 4L).otherwise(5L)
    val base = documents(s, dir).select(col("doc_id"), col("text"),
      bucket.as("bucket"),
      TextFns.wsTokenCount(col("text")).cast("long").as("toks"))
    val docAgg = base.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_toks"))
    val firstB = base
      .select(col("bucket"),
        explode(graft.functions.HashFns.shingles(col("text"))).as("gram"))
      .groupBy(col("gram")).agg(min(col("bucket")).as("bucket"))
    val gramHist = firstB.groupBy(col("bucket"))
      .agg(count(lit(1)).as("new_grams"))
    // ≤5 rows — materialize before the range self-join, else the
    // corpus-scale doc + gram aggregates execute once per side
    val per = docAgg.join(gramHist, Seq("bucket"), "left_outer")
      .na.fill(0L, Seq("new_grams"))
      .localCheckpoint()
    per.alias("a").join(broadcast(per.alias("b")),
        col("b.bucket") <= col("a.bucket"))
      .groupBy(col("a.bucket"))
      .agg(
        max(when(col("b.bucket") === col("a.bucket"), col("b.n_docs"))).as("n_docs"),
        sum(col("b.n_docs")).as("cum_docs"),
        max(when(col("b.bucket") === col("a.bucket"), col("b.n_toks"))).as("n_toks"),
        sum(col("b.n_toks")).as("cum_toks"),
        max(when(col("b.bucket") === col("a.bucket"), col("b.new_grams"))).as("new_grams"),
        sum(col("b.new_grams")).as("cum_grams"))
      .withColumn("new_per_mtok",
        expr("case when n_toks > 0 then new_grams * 1000000L div n_toks else 0L end"))
      .withColumn("cum_per_mtok",
        expr("case when cum_toks > 0 then cum_grams * 1000000L div cum_toks else 0L end"))
      .orderBy(col("bucket"))
  }

  val saturationCurveSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, text,
       |    len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS toks,
       |    (doc_id % $PriP) * $PriMult % $PriP % 100 AS pct
       |  FROM documents),
       |b AS (
       |  SELECT doc_id, text, toks,
       |    CASE WHEN pct < ${SatCuts(0)} THEN 1 WHEN pct < ${SatCuts(1)} THEN 2
       |         WHEN pct < ${SatCuts(2)} THEN 3 WHEN pct < ${SatCuts(3)} THEN 4
       |         ELSE 5 END AS bucket
       |  FROM t),
       |d AS (SELECT bucket, count(*) AS n_docs, sum(toks)::BIGINT AS n_toks
       |      FROM b GROUP BY 1),
       |lt AS (SELECT bucket,
       |         list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
       |       FROM b),
       |g AS (
       |  SELECT bucket, CASE WHEN len(toks) >= 3
       |    THEN list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
       |                        for i in range(1, len(toks) - 1)])
       |    ELSE [array_to_string(toks, ' ')] END AS gs
       |  FROM lt),
       |posts AS (SELECT bucket, unnest(gs) AS gram FROM g),
       |fb AS (SELECT gram, min(bucket) AS bucket FROM posts GROUP BY 1),
       |gh AS (SELECT bucket, count(*) AS new_grams FROM fb GROUP BY 1),
       |per AS (SELECT d.bucket, n_docs, n_toks,
       |          coalesce(gh.new_grams, 0) AS new_grams
       |        FROM d LEFT JOIN gh USING (bucket))
       |SELECT a.bucket,
       |  max(CASE WHEN b.bucket = a.bucket THEN b.n_docs END)::BIGINT AS n_docs,
       |  sum(b.n_docs)::BIGINT AS cum_docs,
       |  max(CASE WHEN b.bucket = a.bucket THEN b.n_toks END)::BIGINT AS n_toks,
       |  sum(b.n_toks)::BIGINT AS cum_toks,
       |  max(CASE WHEN b.bucket = a.bucket THEN b.new_grams END)::BIGINT AS new_grams,
       |  sum(b.new_grams)::BIGINT AS cum_grams,
       |  (CASE WHEN max(CASE WHEN b.bucket = a.bucket THEN b.n_toks END) > 0
       |     THEN max(CASE WHEN b.bucket = a.bucket THEN b.new_grams END) * 1000000
       |          // max(CASE WHEN b.bucket = a.bucket THEN b.n_toks END)
       |     ELSE 0 END)::BIGINT AS new_per_mtok,
       |  (CASE WHEN sum(b.n_toks) > 0
       |     THEN sum(b.new_grams) * 1000000 // sum(b.n_toks)
       |     ELSE 0 END)::BIGINT AS cum_per_mtok
       |FROM per a JOIN per b ON b.bucket <= a.bucket
       |GROUP BY a.bucket""".stripMargin

  /** Second multiplicative-hash lane — a DIFFERENT multiplier from
    * [[PriMult]] so the resampling draw is uncorrelated with the
    * bottom-k priorities and the saturation stages. */
  private val PriMult2 = 1103515245L

  /** K112: IMPORTANCE RESAMPLING — per-document probabilistic
    * acceptance with probability ∝ an integer quality weight (the
    * DCLM/FineWeb-style "sample by quality score, don't threshold"
    * curation move, vs G12 curate's hard cuts): weight w ∈ [0,100] is
    * the capped stopword-density percent (200·hits div tokens — the
    * E2 text_quality signal as an exact integer), and a doc is kept
    * iff its deterministic hash draw (mod 100) < w. No RNG: the draw
    * is the multiplicative-hash lane, so a resumed 100 TB curation
    * job keeps IDENTICAL documents (the epoch_shards contract) and
    * the oracle replays the acceptance in SQL. Per-source report:
    * docs/kept, token mass in/kept, and Σw (= 100× the expected keep
    * count, the calibration the spec checks the realized keeps
    * against). Map-only scoring + one source-keyed aggregate — no
    * shuffle wider than the report at any scale. */
  def importanceResample(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("source"), col("doc_id"),
        TextFns.wsTokenCount(col("text")).cast("long").as("toks"),
        TextFns.langScore(col("text"), "en").cast("long").as("hits"))
      .withColumn("w",
        expr("least(100L, (hits * 200L) div greatest(toks, 1L))"))
      .withColumn("draw",
        expr(s"(doc_id % $PriP) * $PriMult2 % $PriP % 100"))
      .withColumn("kept", col("draw") < col("w"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(col("w")).as("sum_w"),
        sum(col("toks")).as("toks_in"),
        sum(when(col("kept"), col("toks")).otherwise(0L)).as("toks_kept"))

  val importanceResampleSql: String = {
    val sw = TextFns.stopwords("en").map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH t AS (
       |  SELECT source, doc_id,
       |    len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS toks,
       |    len(list_filter(string_split(lower(text), ' '),
       |        x -> list_contains($sw, x)))::BIGINT AS hits
       |  FROM documents),
       |w AS (
       |  SELECT source, toks,
       |    least(100, (hits * 200) // greatest(toks, 1)) AS w,
       |    (doc_id % $PriP) * $PriMult2 % $PriP % 100 AS draw
       |  FROM t)
       |SELECT source, count(*) AS n_docs,
       |  sum(CASE WHEN draw < w THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       |  sum(w)::BIGINT AS sum_w,
       |  sum(toks)::BIGINT AS toks_in,
       |  sum(CASE WHEN draw < w THEN toks ELSE 0 END)::BIGINT AS toks_kept
       |FROM w GROUP BY source""".stripMargin
  }

  /** Span-corruption targets: ~15% of tokens in mean-3-token spans. */
  val ScRatePct = 15
  val ScMeanLen = 3
  /** Minimum tokens for a doc to receive spans. */
  val ScMinTok = 8

  /** K113: SPAN-CORRUPTION PLAN — the T5/UL2 denoising-objective data
    * prep as a deterministic, shuffle-free relational pass: per doc,
    * n_spans = max(1, n·[[ScRatePct]]% div [[ScMeanLen]]) spans of
    * hash-drawn length 2..4 (mean [[ScMeanLen]]), each placed inside
    * its own stride of the token range (stride = n div n_spans), so
    * spans are NON-OVERLAPPING BY CONSTRUCTION — no sort-and-adjust
    * pass, no cross-span coordination, every (doc, k) cell computes
    * independently map-side. Draws are the multiplicative hash chain
    * of (doc_id, k) — RNG-free (the random_walk/epoch_shards
    * contract): a resumed 100 TB masking job regenerates IDENTICAL
    * spans, and the oracle replays them in SQL. Output one row per
    * span (token offsets) — the downstream tokenizer consumes
    * (start, len) directly. Map-only explode; NO shuffle at any
    * scale. */
  def spanCorruption(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"),
        TextFns.wsTokenCount(col("text")).cast("long").as("n_tok"))
      .filter(col("n_tok") >= ScMinTok)
      .withColumn("n_spans",
        expr(s"greatest(1L, (n_tok * $ScRatePct) div ${100 * ScMeanLen})"))
      .withColumn("stride", expr("n_tok div n_spans"))
      .withColumn("k", explode(expr("sequence(0L, n_spans - 1)")))
      .withColumn("h1", expr(s"((doc_id % $PriP) * $PriMult + k) % $PriP"))
      .withColumn("span_len", expr("least(2L + h1 % 3, stride)"))
      .withColumn("off",
        expr(s"(h1 * $PriMult2 % $PriP) % (stride - span_len + 1)"))
      .select(col("doc_id"), col("n_tok"), col("n_spans"), col("k"),
        (col("k") * col("stride") + col("off")).as("span_start"),
        col("span_len"))

  val spanCorruptionSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS n_tok
       |  FROM documents),
       |e AS (
       |  SELECT doc_id, n_tok,
       |    greatest(1, (n_tok * $ScRatePct) // ${100 * ScMeanLen}) AS n_spans
       |  FROM t WHERE n_tok >= $ScMinTok),
       |c AS (
       |  SELECT doc_id, n_tok, n_spans, n_tok // n_spans AS stride,
       |    unnest(range(0, n_spans))::BIGINT AS k
       |  FROM e),
       |h AS (
       |  SELECT *, ((doc_id % $PriP) * $PriMult + k) % $PriP AS h1 FROM c),
       |l AS (
       |  SELECT *, least(2 + h1 % 3, stride) AS span_len FROM h)
       |SELECT doc_id, n_tok, n_spans, k,
       |  (k * stride + (h1 * $PriMult2 % $PriP) % (stride - span_len + 1))::BIGINT
       |    AS span_start,
       |  span_len::BIGINT AS span_len
       |FROM l""".stripMargin

  /** Min-token cutoff grid for the retention sweep. */
  val FsCuts: Seq[Long] = Seq(0L, 16L, 32L, 64L, 128L, 256L, 512L, 1024L)

  /** K115: FILTER-THRESHOLD SWEEP — the calibration read behind every
    * "min length L" cleaning rule (Gopher/CCNet pick L from exactly
    * this curve): for each cutoff in [[FsCuts]], the documents and
    * token mass RETAINED by `tokens ≥ cutoff`, absolute and as exact
    * per-million shares of the corpus. One curve answers "what does
    * tightening the gate cost" BEFORE committing a 100 TB filter run
    * — the marginal-loss complement of I13 filter_funnel's fixed
    * pipeline accounting. Shape: each doc emits the |grid| cutoffs
    * map-side (constant ×8 fanout, no join), one 8-key conditional
    * aggregate, then the 1-row corpus-totals frame broadcasts in for
    * the shares (integer ×10⁶ division — the K80 convention). No
    * shuffle wider than the 8-row report at any scale. */
  def filterSweep(s: SparkSession, dir: String): DataFrame = {
    // ONE corpus scan: the cutoff-0 cell IS the corpus total
    // (tokens >= 0 always holds), so the share denominators come from
    // the 8-row aggregate itself, not a second pass
    val agg = documents(s, dir)
      .select(TextFns.wsTokenCount(col("text")).cast("long").as("toks"))
      .withColumn("cutoff", explode(typedLit(FsCuts)))
      .groupBy(col("cutoff"))
      .agg(
        sum(when(col("toks") >= col("cutoff"), 1L).otherwise(0L)).as("n_docs_kept"),
        sum(when(col("toks") >= col("cutoff"), col("toks")).otherwise(0L)).as("toks_kept"))
      .localCheckpoint() // 8 rows; feeds both the report and its totals
    val totals = agg.filter(col("cutoff") === 0L)
      .select(col("n_docs_kept").as("total_docs"),
        col("toks_kept").as("total_toks"))
    agg
      .crossJoin(broadcast(totals)) // 1-row scalar frame
      .select(col("cutoff"), col("n_docs_kept"), col("toks_kept"),
        expr("(n_docs_kept * 1000000) div total_docs").as("docs_share_pm"),
        expr("(toks_kept * 1000000) div total_toks").as("toks_share_pm"))
      .orderBy(col("cutoff"))
  }

  val filterSweepSql: String = {
    val grid = FsCuts.mkString("[", ", ", "]")
    s"""WITH t AS (
       |  SELECT len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS toks
       |  FROM documents),
       |g AS (SELECT toks, unnest($grid)::BIGINT AS cutoff FROM t),
       |agg AS (
       |  SELECT cutoff,
       |    sum(CASE WHEN toks >= cutoff THEN 1 ELSE 0 END)::BIGINT AS n_docs_kept,
       |    sum(CASE WHEN toks >= cutoff THEN toks ELSE 0 END)::BIGINT AS toks_kept
       |  FROM g GROUP BY cutoff),
       |tot AS (SELECT n_docs_kept AS total_docs, toks_kept AS total_toks
       |        FROM agg WHERE cutoff = 0)
       |SELECT cutoff, n_docs_kept, toks_kept,
       |  (n_docs_kept * 1000000 // (SELECT total_docs FROM tot))::BIGINT AS docs_share_pm,
       |  (toks_kept * 1000000 // (SELECT total_toks FROM tot))::BIGINT AS toks_share_pm
       |FROM agg""".stripMargin
  }

  /** K127: QUALITY-FILTER AGREEMENT — before trusting any single
    * quality classifier as a 100 TB drop gate, measure how much two
    * INDEPENDENT scorers agree (the DCLM/ensemble-filtering audit;
    * the K115 filter_sweep sibling for the "which filter" decision
    * rather than "which threshold"): axis A is the stopword-density
    * weight (K112/K121's integer formula, bucketed by 8), axis B is
    * the corpus-bigram fluency score ([[CorpusClean.lmPerDoc]]'s
    * exact integer core, per-mille-bucketed — the SHARED helper, so
    * this op and lm_score cannot drift). Emits the 4×4 cross-tab
    * plus observed/expected agreement and Cohen's kappa, all exact
    * integers: po/pe per-million via the vocab_drift DECIMAL(38,0)
    * convention (pe's Σ row·col product overflows BIGINT past ~3e9
    * docs), kappa with the sign split off so Spark's truncating
    * `div` and DuckDB's floor `//` agree on negative values.
    * Shape: the two per-doc scans + one doc-keyed join, ONE 16-row
    * cell aggregate; every agreement statistic derives from the
    * checkpointed cells, never from a corpus re-scan. */
  def qualityAgreement(s: SparkSession, dir: String): DataFrame = {
    val q = documents(s, dir).select(col("doc_id"),
        TextFns.wsTokenCount(col("text")).cast("long").as("toks"),
        TextFns.langScore(col("text"), "en").cast("long").as("hits"))
      .withColumn("wq", expr("least(100L, (hits * 200L) div greatest(toks, 1L))"))
      .withColumn("a_bucket", expr("least(3L, wq div 8)"))
    val lm = CorpusClean.lmScoresArtifact(s, dir)
    val cells = q.join(lm, Seq("doc_id"), "left_outer")
      .withColumn("fq", coalesce(
        expr(s"(sum_q * 1000) div (n_bigrams * ${CorpusClean.LmScale}L)"), lit(0L)))
      // (fq-30) div 2: Spark truncates, DuckDB floors — they differ
      // only on negative operands, which greatest(0, ·) masks on both
      .withColumn("b_bucket", expr("least(3L, greatest(0L, (fq - 30) div 2))"))
      .groupBy(col("a_bucket"), col("b_bucket"))
      .agg(count(lit(1)).as("n_docs_cell"))
      .localCheckpoint() // ≤ 16 rows; all stats derive from here
    val ra = cells.groupBy(col("a_bucket").as("k"))
      .agg(sum(col("n_docs_cell")).as("ra"))
    val cb = cells.groupBy(col("b_bucket").as("k"))
      .agg(sum(col("n_docs_cell")).as("cb"))
    // coalesce: with disjoint marginal key sets the ra⋈cb join is
    // empty and the sum would be NULL — degrade to pe=0 (kappa = po)
    // rather than NULL-ing every agreement statistic (r10 advisory)
    val peNum = ra.join(broadcast(cb), "k")
      .agg(coalesce(sum(col("ra").cast("decimal(38,0)") * col("cb")),
        lit(0).cast("decimal(38,0)")).as("pe_num"))
    val stats = cells
      .agg(sum(col("n_docs_cell")).as("n_docs"),
        sum(when(col("a_bucket") === col("b_bucket"), col("n_docs_cell"))
          .otherwise(0L)).as("diag"))
      .crossJoin(broadcast(peNum))
      .withColumn("po6", expr("CAST(diag AS DECIMAL(38,0)) * 1000000"))
      .withColumn("nD", expr("CAST(n_docs AS DECIMAL(38,0))"))
      .withColumn("po_pm", expr("CAST((po6 - po6 % nD) / nD AS BIGINT)"))
      .withColumn("pe6", expr("pe_num * 1000000"))
      .withColumn("n2", expr("CAST(n_docs AS DECIMAL(38,0)) * n_docs"))
      .withColumn("pe_pm", expr("CAST((pe6 - pe6 % n2) / n2 AS BIGINT)"))
      .withColumn("kappa_pm", expr(
        """CASE WHEN pe_pm = 1000000 THEN 1000000
          |ELSE (CASE WHEN po_pm >= pe_pm THEN 1L ELSE -1L END)
          |  * ((abs(po_pm - pe_pm) * 1000000L) div (1000000L - pe_pm))
          |END""".stripMargin))
      .select(col("n_docs"), col("po_pm"), col("pe_pm"), col("kappa_pm"))
    cells.crossJoin(broadcast(stats)) // 1-row scalar frame
  }

  lazy val qualityAgreementSql: String = {
    val sw = TextFns.stopwords("en").map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH q AS (
       |  SELECT doc_id,
       |    len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS toks,
       |    len(list_filter(string_split(lower(text), ' '),
       |        x -> list_contains($sw, x)))::BIGINT AS hits
       |  FROM documents),
       |a AS (
       |  SELECT doc_id,
       |    least(3, least(100, (hits * 200) // greatest(toks, 1)) // 8) AS a_bucket
       |  FROM q),
       |toks AS (
       |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS w,
       |    generate_subscripts(list_filter(string_split(lower(text), ' '), x -> x <> ''), 1) AS pos
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, w, w1 FROM (
       |    SELECT doc_id, w, lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
       |    FROM toks)
       |  WHERE w1 IS NOT NULL),
       |cbg AS (SELECT w, w1, count(*) AS cbg FROM bg GROUP BY 1, 2),
       |cuni AS (SELECT w, count(*) AS cuni FROM toks GROUP BY 1),
       |perdoc AS (
       |  SELECT doc_id, count(*) AS n_bigrams, sum(q)::BIGINT AS sum_q
       |  FROM (
       |    SELECT bg.doc_id, (cbg.cbg * ${CorpusClean.LmScale}) // cuni.cuni AS q
       |    FROM bg JOIN cbg USING (w, w1) JOIN cuni USING (w))
       |  GROUP BY doc_id),
       |f AS (
       |  SELECT a.doc_id, a_bucket,
       |    coalesce(least(3, greatest(0,
       |      ((p.sum_q * 1000) // (p.n_bigrams * ${CorpusClean.LmScale}) - 30) // 2)), 0)
       |      AS b_bucket
       |  FROM a LEFT JOIN perdoc p USING (doc_id)),
       |cells AS (
       |  SELECT a_bucket, b_bucket, count(*) AS n_docs_cell FROM f GROUP BY 1, 2),
       |ra AS (SELECT a_bucket AS k, sum(n_docs_cell)::BIGINT AS ra FROM cells GROUP BY 1),
       |cb AS (SELECT b_bucket AS k, sum(n_docs_cell)::BIGINT AS cb FROM cells GROUP BY 1),
       |st AS (
       |  SELECT
       |    (SELECT sum(n_docs_cell) FROM cells)::BIGINT AS n_docs,
       |    (SELECT coalesce(sum(n_docs_cell), 0) FROM cells
       |     WHERE a_bucket = b_bucket)::BIGINT AS diag,
       |    (SELECT coalesce(sum(ra::HUGEINT * cb), 0)
       |     FROM ra JOIN cb USING (k)) AS pe_num),
       |kv AS (
       |  SELECT n_docs,
       |    (diag::HUGEINT * 1000000 // n_docs)::BIGINT AS po_pm,
       |    (pe_num * 1000000 // (n_docs::HUGEINT * n_docs))::BIGINT AS pe_pm
       |  FROM st),
       |k2 AS (
       |  SELECT n_docs, po_pm, pe_pm,
       |    CASE WHEN pe_pm = 1000000 THEN 1000000
       |         ELSE (CASE WHEN po_pm >= pe_pm THEN 1 ELSE -1 END)
       |           * ((abs(po_pm - pe_pm) * 1000000) // (1000000 - pe_pm))
       |    END::BIGINT AS kappa_pm
       |  FROM kv)
       |SELECT a_bucket, b_bucket, n_docs_cell, n_docs, po_pm, pe_pm, kappa_pm
       |FROM cells, k2""".stripMargin
  }

  val systematicSampleSql: String =
    s"""WITH t AS (
       |  SELECT source, doc_id,
       |    len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS toks
       |  FROM documents),
       |c AS (
       |  SELECT source, doc_id, toks,
       |    sum(toks) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum,
       |    sum(toks) OVER (PARTITION BY source)::BIGINT AS total
       |  FROM t),
       |s AS (
       |  SELECT source, doc_id, toks, cum, total // ${SysK} AS stride FROM c
       |  WHERE total // ${SysK} > 0)
       |SELECT source, doc_id, toks, cum, cum // stride AS bucket,
       |  cum // stride - (cum - toks) // stride AS n_buckets
       |FROM s
       |WHERE cum // stride - (cum - toks) // stride > 0""".stripMargin

  /** Hash-bucket count for the DSIR n-gram feature space. */
  val DsirB = 1024L
  /** Selected fraction: top quartile by importance score. */
  val DsirKeepQuarter = 4L

  /** K133: DSIR IMPORTANCE WEIGHTS — Data Selection via Importance
    * Resampling (Xie et al., NeurIPS 2023), the published
    * target-distribution selection step: score every raw document by
    * how much more likely its HASHED N-GRAM features are under a
    * target domain than under the raw pool, then select the
    * highest-weight subset. Target here is the lang='en' slice (the
    * paper's formal-English/Wikipedia target); features are unigrams
    * + space-joined bigrams hashed into [[DsirB]] buckets with the
    * portable polynomial fold ([[graft.functions.HashFns.strHash]]
    * mod B — the paper's hashed feature trick IS what makes the
    * method corpus-scale: the model is two B-sized histograms, never
    * a vocabulary).
    *
    * The paper's log-ratio Σ_f c_f·log(p_tgt(f)/p_raw(f)) is
    * transcendental — a cross-engine hash risk — so the weight is
    * computed in FLOOR-LOG2 fixed point: ilog2(x) = length(bin(x))−1
    * (exact integer in both engines), per-bucket contribution
    * llr(f) = ilog2(tgt_f+1) − ilog2(raw_f+1) + ilog2(R+1) −
    * ilog2(T+1) (the +1s are the paper's additive smoothing; R, T
    * the histogram masses), per-doc score Σ occurrences — the same
    * ordering signal at log2 granularity, exactly replayable in SQL.
    * Selection: kept = score ≥ the exact top-quartile threshold,
    * computed from the SCORE HISTOGRAM (a distinct-score cell
    * aggregate + a cell-bounded cumulative window — the quantile_bins
    * posture, never a corpus-rows window); threshold ties keep, so
    * the kept mass is ≥ N/[[DsirKeepQuarter]] and rerun-stable.
    *
    * Shape: gram build is map-side (one kernel pass per doc);
    * rows-scale shuffles are the ≤2·[[DsirB]]-key histogram
    * aggregates (map-side combine) and one doc-keyed score sum; the
    * llr table broadcasts (≤ [[DsirB]] rows). */
  def dsirWeights(s: SparkSession, dir: String): DataFrame = {
    // hashed features from [[graft.plans.TokenGramHashes]] — unigram
    // and bigram hashes in one code-point pass each, never
    // materializing a gram string; bit-identical to strHash of the
    // space-joined gram by the kernel's composition contract, and the
    // < 2-token guard masks its whole-doc fallback
    val t2 = lower(col("text"))
    val feats = documents(s, dir)
      .select(col("doc_id"), col("lang"),
        explode(concat(
          call_function("token_gram_hashes", t2, lit(1L)),
          when(TextFns.wsTokenCount(t2) >= 2,
            call_function("token_gram_hashes", t2, lit(2L)))
            .otherwise(array().cast("array<bigint>")))).as("gh"))
      .select(col("doc_id"), col("lang"),
        pmod(col("gh"), lit(DsirB)).as("f"))
    // raw and target bucket counts in ONE aggregate (ctgt as a
    // conditional sum), the ≤DsirB-row histogram checkpointed so the
    // masses and llr frames derive from it instead of re-running the
    // tokenize+explode lineage (the two-aggregate form re-scanned the
    // gram pipeline five times; OPTIMIZATION_r14.md rows 3 and 10)
    val cnt = feats.groupBy(col("f"))
      .agg(count(lit(1)).as("craw"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ctgt"))
      .localCheckpoint() // ≤ DsirB rows; masses + llr read it
    val masses = cnt.agg(sum(col("craw")).as("rtot"),
      sum(col("ctgt")).as("ttot")) // 1-row scalar frame
    val llr = cnt
      .crossJoin(broadcast(masses))
      .select(col("f"), expr(
        """(length(bin(ctgt + 1)) - 1) - (length(bin(craw + 1)) - 1)
          | + (length(bin(rtot + 1)) - 1) - (length(bin(ttot + 1)) - 1)"""
          .stripMargin).cast("long").as("llr"))
    val perDoc = feats.join(broadcast(llr), Seq("f"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_feats"), sum(col("llr")).as("dsir_score"))
    // exact top-quartile threshold from the distinct-score histogram
    val hist = perDoc.groupBy(col("dsir_score")).agg(count(lit(1)).as("ns"))
    val wDesc = Window.orderBy(col("dsir_score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thr = hist
      .withColumn("cum", sum(col("ns")).over(wDesc))
      .crossJoin(broadcast(hist.agg(sum(col("ns")).as("ntot"))))
      .filter(col("cum") * DsirKeepQuarter >= col("ntot"))
      .agg(max(col("dsir_score")).as("thr"))
    perDoc.crossJoin(broadcast(thr)) // 1-row scalar frame
      .select(col("doc_id"), col("lang"), col("n_feats"), col("dsir_score"),
        (col("dsir_score") >= col("thr")).as("kept"))
  }

  val dsirWeightsSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, lang, unnest(
       |    toks || CASE WHEN len(toks) >= 2
       |      THEN [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
       |      ELSE [] END) AS g
       |  FROM t),
       |ft AS (
       |  SELECT doc_id, lang, list_reduce(list_prepend(0::BIGINT,
       |      [ascii(c)::BIGINT for c in string_split(g, '')]),
       |    (a, x) -> (a * 31 + x) % 1000000007) % $DsirB AS f
       |  FROM g),
       |raw AS (SELECT f, count(*) AS craw FROM ft GROUP BY 1),
       |tgt AS (SELECT f, count(*) AS ctgt FROM ft WHERE lang = 'en' GROUP BY 1),
       |ms AS (SELECT (SELECT sum(craw) FROM raw) AS rtot,
       |              (SELECT sum(ctgt) FROM tgt) AS ttot),
       |llr AS (
       |  SELECT raw.f,
       |    ((length(bin(coalesce(ctgt, 0) + 1)) - 1) - (length(bin(craw + 1)) - 1)
       |     + (length(bin(rtot + 1)) - 1) - (length(bin(ttot + 1)) - 1))::BIGINT AS llr
       |  FROM raw LEFT JOIN tgt USING (f), ms),
       |pd AS (
       |  SELECT doc_id, lang, count(*)::BIGINT AS n_feats,
       |    sum(llr)::BIGINT AS dsir_score
       |  FROM ft JOIN llr USING (f) GROUP BY 1, 2),
       |h AS (SELECT dsir_score, count(*) AS ns FROM pd GROUP BY 1),
       |c AS (SELECT dsir_score,
       |        sum(ns) OVER (ORDER BY dsir_score DESC
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |      FROM h),
       |thr AS (
       |  SELECT max(dsir_score) AS thr FROM c
       |  WHERE cum * $DsirKeepQuarter >= (SELECT sum(ns) FROM h))
       |SELECT doc_id, lang, n_feats, dsir_score, dsir_score >= thr AS kept
       |FROM pd, thr""".stripMargin

  /** K136: TEMPERATURE-BASED LANGUAGE SAMPLING — the published
    * multilingual-mix step (Lample & Conneau, XLM, 2019 §3.1;
    * XLM-R/mT5 inherit it): a corpus's per-language sampling
    * probability is flattened from its raw token share, q_l ∝ p_l^α,
    * so low-resource languages are upsampled and the head language
    * stops dominating the batch mix. α = 1/2 — XLM's published
    * value — which matters HERE beyond fidelity: p^0.5 is sqrt, the
    * one exponent that is IEEE-correctly-rounded in both engines, so
    * the whole report stays on the hash gate where a pow(p, 0.3)
    * would drift in the last ulp.
    *
    * Portability of the float path: the only non-integer steps are
    * sqrt(tok_l) and the normalizer Σ_m sqrt(tok_m). Float addition
    * is order-sensitive, so the normalizer folds LEFT-TO-RIGHT IN
    * LANG ORDER on both engines (Spark: aggregate over the
    * lang-sorted collect_list; DuckDB: list_reduce over
    * list(ORDER BY lang)) — the keyness zip_with discipline applied
    * to a reduction. Emitted shares are then half-up-floored to
    * per-million BIGINTs; boost = q/p in exact integer per-mille.
    *
    * Shape: ONE lang-keyed aggregate (map-side combine), a ≤|langs|
    * broadcast normalizer row, map-side arithmetic — the report is
    * langs-sized at any corpus scale. */
  def langTemperature(s: SparkSession, dir: String): DataFrame = {
    val perLang = documents(s, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextFns.wsTokenCount(col("text")).cast("long")).as("n_toks"))
      .withColumn("s", sqrt(col("n_toks").cast("double")))
      .localCheckpoint() // ≤ |langs| rows; all shares derive from here
    val norm = perLang
      .agg(sum(col("n_toks")).as("ttot"),
        aggregate(
          transform(array_sort(collect_list(struct(col("lang"), col("s")))),
            x => x.getField("s")),
          lit(0.0), (acc, x) => acc + x).as("ssum"))
    perLang.crossJoin(broadcast(norm)) // 1-row scalar frame
      .select(col("lang"), col("n_docs"), col("n_toks"),
        expr("n_toks * 1000000 div ttot").as("p_pm"),
        floor(col("s") * 1000000 / col("ssum") + 0.5).cast("long").as("q_pm"))
      .withColumn("boost_pm",
        expr("case when p_pm > 0 then q_pm * 1000 div p_pm else 0L end"))
  }

  val langTemperatureSql: String =
    s"""WITH pl AS (
       |  SELECT lang, count(*)::BIGINT AS n_docs,
       |    sum(len(list_filter(string_split(text, ' '), x -> x <> '')))::BIGINT AS n_toks
       |  FROM documents GROUP BY 1),
       |pls AS (SELECT lang, n_docs, n_toks, sqrt(n_toks::DOUBLE) AS s FROM pl),
       |nm AS (
       |  SELECT (SELECT sum(n_toks) FROM pls) AS ttot,
       |    list_reduce(list_prepend(0.0::DOUBLE,
       |      (SELECT list(s ORDER BY lang) FROM pls)),
       |      (a, x) -> a + x) AS ssum)
       |SELECT lang, n_docs, n_toks,
       |  (n_toks * 1000000 // ttot)::BIGINT AS p_pm,
       |  CAST(floor(s * 1000000 / ssum + 0.5) AS BIGINT) AS q_pm,
       |  (CASE WHEN n_toks * 1000000 // ttot > 0
       |     THEN CAST(floor(s * 1000000 / ssum + 0.5) AS BIGINT) * 1000
       |          // (n_toks * 1000000 // ttot)
       |     ELSE 0 END)::BIGINT AS boost_pm
       |FROM pls, nm""".stripMargin

  /** UniMax per-language epoch cap (the paper's k: no language
    * repeats more than this many times). */
  val UnimaxEpochCap = 2L

  /** K144: UNIMAX BUDGET ALLOCATION — the UniMax sampler (Chung et
    * al., "UniMax: Fairer and More Effective Language Sampling", ICLR
    * 2023), the successor to K136's temperature flattening that mT5's
    * follow-ups adopted: allocate a total training-token budget
    * UNIFORMLY across languages, except no language may exceed
    * [[UnimaxEpochCap]] epochs of its own corpus — the water-filling
    * that gives tail languages a fair share without degenerate
    * repetition. Budget T = (3·total) div 2 (corpus-derived, so the
    * op is scale-free); caps sort ascending and the capped set is the
    * exact integer prefix test cap_i·(L−i+1) < T − Σ_{j<i}cap_j made
    * prefix-monotone by a cumulative AND; uncapped languages split
    * the residue by floor division. Per lang: docs, tokens, cap,
    * capped flag, allocation, epochs‰ — the spec replays sequential
    * water-filling and pins Σalloc ≤ T with the uniform-split
    * residue property.
    *
    * Shape: ONE lang-keyed corpus aggregate; the per-lang frame
    * localCheckpoints (≤|langs| rows — report-sized) so the ordering
    * windows, the capped-sum normalizer and the final projection all
    * derive from it without re-scanning the corpus; windows order a
    * langs-sized frame, never rows. */
  def unimaxBudget(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perLang = documents(s, dir)
      .select(col("lang"), graft.functions.TextFns.wsTokenCount(col("text"))
        .cast("long").as("tk"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tk")).as("n_toks"))
      .localCheckpoint() // <= |langs| rows; everything below derives from it
    val tot = perLang.agg(sum(col("n_toks")).as("tot"),
      count(lit(1)).as("nl"))
    val w = Window.orderBy(col("cap"), col("lang"))
    val flagged = perLang.crossJoin(broadcast(tot)) // 1-row scalar frame
      .withColumn("budget", expr("(3 * tot) div 2"))
      .withColumn("cap", col("n_toks") * UnimaxEpochCap)
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("cprev", coalesce(
        sum(col("cap")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("f",
        (col("cap") * (col("nl") - col("i") + 1) < col("budget") - col("cprev"))
          .cast("int"))
      .withColumn("capped",
        min(col("f")).over(w.rowsBetween(Window.unboundedPreceding, 0)) === 1)
    val sums = flagged.agg(
      coalesce(sum(when(col("capped"), col("cap"))), lit(0L)).as("csum"),
      coalesce(sum(when(!col("capped"), 1L)), lit(0L)).as("nun"))
    flagged.crossJoin(broadcast(sums)) // 1-row scalar frame
      .withColumn("alloc", when(col("capped"), col("cap"))
        .otherwise(expr("(budget - csum) div greatest(nun, 1)")))
      .select(col("lang"), col("n_docs"), col("n_toks"), col("cap"),
        col("capped"), col("alloc"),
        expr("(alloc * 1000) div n_toks").as("epochs_pm"))
  }

  val unimaxBudgetSql: String =
    s"""WITH pl AS (
       |  SELECT lang, count(*)::BIGINT AS n_docs,
       |    sum(len(list_filter(string_split(text, ' '), x -> x <> '')))::BIGINT AS n_toks
       |  FROM documents GROUP BY 1),
       |t AS (SELECT sum(n_toks)::BIGINT AS tot, count(*)::BIGINT AS nl FROM pl),
       |f AS (
       |  SELECT pl.*, t.tot, t.nl, (3 * t.tot) // 2 AS budget,
       |    n_toks * $UnimaxEpochCap AS cap,
       |    row_number() OVER (ORDER BY n_toks * $UnimaxEpochCap, lang) AS i,
       |    coalesce(sum(n_toks * $UnimaxEpochCap) OVER (
       |      ORDER BY n_toks * $UnimaxEpochCap, lang
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cprev
       |  FROM pl, t),
       |g AS (
       |  SELECT *, CASE WHEN cap * (nl - i + 1) < budget - cprev THEN 1 ELSE 0 END AS fl
       |  FROM f),
       |h AS (
       |  SELECT *, min(fl) OVER (ORDER BY cap, lang
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1 AS capped
       |  FROM g),
       |sums AS (
       |  SELECT coalesce(sum(CASE WHEN capped THEN cap END), 0)::BIGINT AS csum,
       |    coalesce(sum(CASE WHEN NOT capped THEN 1 END), 0)::BIGINT AS nun
       |  FROM h)
       |SELECT lang, n_docs, n_toks, cap::BIGINT AS cap, capped,
       |  (CASE WHEN capped THEN cap
       |        ELSE (budget - csum) // greatest(nun, 1) END)::BIGINT AS alloc,
       |  ((CASE WHEN capped THEN cap
       |         ELSE (budget - csum) // greatest(nun, 1) END) * 1000 // n_toks)::BIGINT
       |    AS epochs_pm
       |FROM h, sums""".stripMargin

  /** Conformal miscoverage levels, per-mille. */
  val ConformalAlphas: Seq[Long] = Seq(50L, 100L)

  /** K154: SPLIT-CONFORMAL GATE CALIBRATION — the distribution-free
    * threshold calibration (split conformal prediction — Vovk et
    * al.; Angelopoulos & Bates 2023 tutorial) for a quality gate:
    * instead of hand-picking a fluency floor, take the calibration
    * lane's k-th smallest score with k = ⌊α·(n_cal+1)⌋ — then
    * P(a fresh in-distribution doc scores below the floor) ≤ α by
    * exchangeability alone, NO model or distribution assumption.
    * Scores are the SHARED lmPerDoc integer fluency (the
    * ccnet_buckets fq — three consumers, one kernel); lanes are
    * sample_split's own multiplicative-hash lanes (calibrate on
    * val, report held-out coverage on test — the K130/K131 split
    * hygiene). Per [[ConformalAlphas]] level: calibration size, the
    * exact order-statistic rank, the threshold, and the test-lane
    * empirical coverage in per-mille (expected ≥ 1000−α, the
    * guarantee made measurable; k floors at 1 for vacuous-α sizes).
    *
    * Shape: ONE corpus scoring pass (persisted — the lanes and both
    * consumers read it); the order statistic cuts the DISTINCT-score
    * cum-histogram (quantile_bins posture, cells never rows); each α
    * is a 1-row broadcast threshold joined against the test lane —
    * |alphas| passes over a lane, never the corpus. */
  def conformalGate(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CorpusClean
    val scored = documents(s, dir).select(col("doc_id"))
      .join(CorpusClean.lmScoresArtifact(s, dir), Seq("doc_id"), "left_outer")
      .withColumn("fq", coalesce(
        expr(s"(sum_q * 1000) div (n_bigrams * ${CorpusClean.LmScale}L)"), lit(0L)))
      .withColumn("h", pmod(col("doc_id") * 2654435761L % 1000000007L, lit(100)))
      .select(col("doc_id"), col("fq"), col("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cal = scored.filter(col("h") >= 80 && col("h") < 90)
    val tst = scored.filter(col("h") >= 90)
    val nCal = cal.agg(count(lit(1)).as("n_cal"))
    val wCum = org.apache.spark.sql.expressions.Window.orderBy(col("fq"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = cal.groupBy(col("fq")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(wCum))
      .localCheckpoint() // distinct-score CELLS; one per alpha cut
    ConformalAlphas.map { a =>
      val kf = nCal.select(lit(a).as("alpha_pm"), col("n_cal"),
        greatest(expr(s"($a * (n_cal + 1)) div 1000"), lit(1L)).as("k"))
      val thr = cum.crossJoin(broadcast(kf)) // cells x 1 row
        .filter(col("cum") >= col("k"))
        .groupBy(col("alpha_pm"), col("n_cal"), col("k"))
        .agg(min(col("fq")).as("threshold"))
      tst.crossJoin(broadcast(thr)) // 1-row scalar frame
        .groupBy(col("alpha_pm"), col("n_cal"), col("k"), col("threshold"))
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("fq") >= col("threshold"), 1L).otherwise(0L)).as("n_keep"))
        .select(col("alpha_pm"), col("n_cal"), col("k"), col("threshold"),
          col("n_test"), col("n_keep"),
          expr("(n_keep * 1000) div n_test").as("coverage_pm"))
    }.reduce(_ unionByName _)
  }

  val conformalGateSql: String = {
    val alphaBlocks = ConformalAlphas.map { a =>
      s"""SELECT t.alpha_pm, t.n_cal, t.k, t.threshold,
         |  count(*)::BIGINT AS n_test,
         |  sum(CASE WHEN s.fq >= t.threshold THEN 1 ELSE 0 END)::BIGINT AS n_keep,
         |  (sum(CASE WHEN s.fq >= t.threshold THEN 1 ELSE 0 END) * 1000
         |    // count(*))::BIGINT AS coverage_pm
         |FROM (
         |  SELECT a.alpha_pm, a.n_cal, a.k, min(c.fq)::BIGINT AS threshold
         |  FROM (SELECT $a AS alpha_pm, n_cal,
         |          greatest(($a * (n_cal + 1)) // 1000, 1) AS k FROM n) a, cum c
         |  WHERE c.cum >= a.k GROUP BY 1, 2, 3) t, tst s
         |GROUP BY 1, 2, 3, 4"""
        .stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS w,
       |    generate_subscripts(list_filter(string_split(lower(text), ' '), x -> x <> ''), 1) AS pos
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, w, w1 FROM (
       |    SELECT doc_id, w, lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
       |    FROM toks)
       |  WHERE w1 IS NOT NULL),
       |cbg AS (SELECT w, w1, count(*) AS cbg FROM bg GROUP BY 1, 2),
       |cuni AS (SELECT w, count(*) AS cuni FROM toks GROUP BY 1),
       |perdoc AS (
       |  SELECT doc_id, count(*) AS n_bigrams, sum(q)::BIGINT AS sum_q
       |  FROM (
       |    SELECT bg.doc_id, (cbg.cbg * ${graft.operators.CorpusClean.LmScale}) // cuni.cuni AS q
       |    FROM bg JOIN cbg USING (w, w1) JOIN cuni USING (w))
       |  GROUP BY doc_id),
       |m AS (
       |  SELECT d.doc_id,
       |    coalesce((p.sum_q * 1000) // (p.n_bigrams * ${graft.operators.CorpusClean.LmScale}), 0) AS fq,
       |    (d.doc_id * 2654435761 % 1000000007) % 100 AS h
       |  FROM documents d LEFT JOIN perdoc p USING (doc_id)),
       |cal AS (SELECT fq FROM m WHERE h >= 80 AND h < 90),
       |tst AS (SELECT fq FROM m WHERE h >= 90),
       |n AS (SELECT count(*)::BIGINT AS n_cal FROM cal),
       |hist AS (SELECT fq, count(*)::BIGINT AS c FROM cal GROUP BY 1),
       |cum AS (
       |  SELECT fq, sum(c) OVER (ORDER BY fq ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM hist)
       |$alphaBlocks""".stripMargin
  }

  /** GPT-3 quality-sampling shape parameter (Brown et al. 2020,
    * Appendix A: `np.random.pareto(9)`) and the admission draw's LCG
    * multiplier (MINSTD, Park & Miller 1988 — a THIRD hash lane, so
    * the draw is uncorrelated with sample_split's PriMult lanes and
    * importance_resample's PriMult2 draw). */
  val PqAlpha = 9
  val PqMult = 48271L

  /** K157: PARETO QUALITY SAMPLING — the GPT-3 corpus admission rule
    * (Brown et al. 2020, Appendix A): a scored document is KEPT iff
    * `score > 1 − pareto(α=9)` — high-quality docs are near-certain
    * admits while low-quality docs keep a heavy-tailed lottery
    * ticket, preserving diversity a hard threshold destroys. The
    * published rule is exactly polynomial once inverted: with
    * u = (h+1)/P hash-uniform and the Lomax draw u^(−1/α) − 1,
    * keep ⟺ u^(−1/α) > 2 − s ⟺ u · (2−s)^α < 1 ⟺
    * (h+1) · (200 − s_pct)^α < P · 100^α for s quantized to percent —
    * EXACT DECIMAL(38) integer algebra (the clip_gate
    * cross-multiplication posture), no float, no transcendental:
    * P(keep | s) = (2−s)^−9, i.e. 100% at s=1, ~2.6% at s=0.5,
    * 2^−9 ≈ 0.2% at s=0. The quality score stand-in is the SHARED
    * lmPerDoc fluency passed through its own empirical CDF in
    * percent (s_pct = strictly-below mass ·100 div n — a
    * rank-calibrated probability, the documented swap point for a
    * real quality classifier's calibrated score; the raw per-mille
    * fluency spans only ~[29,38] on this corpus, carrying no percent
    * signal). The CDF is the DISTINCT-score cum-histogram (the
    * conformal_gate cells — never a corpus-global row window).
    * Output: per score decile — docs, kept docs, admission
    * per-mille, kept bigram mass.
    *
    * Shape: the lmPerDoc shuffles (∝ corpus tokens) + a doc-keyed
    * left join; the CDF is a ≤|distinct fq| cell frame broadcast
    * back; everything after is map-only integer algebra into a
    * ≤11-row decile aggregate — admission itself never shuffles. */
  def paretoQualityGate(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CorpusClean
    val base = documents(s, dir).select(col("doc_id"))
      .join(CorpusClean.lmScoresArtifact(s, dir), Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(expr(
          s"(sum_q * 1000) div (n_bigrams * ${CorpusClean.LmScale}L)"),
          lit(0L)).as("fq"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = base.agg(count(lit(1)).as("n_all"))
    val wCum = org.apache.spark.sql.expressions.Window.orderBy(col("fq"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cells = base.groupBy(col("fq")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(wCum))
      .crossJoin(broadcast(n)) // cells x 1 row
      .select(col("fq"), expr("((cum - c) * 100) div n_all").as("s_pct"))
      .localCheckpoint() // distinct-score CELLS
    val scored = base.join(broadcast(cells), "fq")
      .withColumn("h", expr(s"(doc_id % 1000000007L) * $PqMult % 1000000007L"))
      // (200 − s_pct)^9 by exact squaring chain; every step's
      // precision pinned so Spark never routes through double
      .withColumn("b", (lit(200L) - col("s_pct")).cast("decimal(4,0)"))
      .withColumn("b2", (col("b") * col("b")).cast("decimal(9,0)"))
      .withColumn("b4", (col("b2") * col("b2")).cast("decimal(19,0)"))
      .withColumn("b9",
        (col("b4") * col("b4") * col("b")).cast("decimal(38,0)"))
      .withColumn("keep",
        (col("h") + 1).cast("decimal(12,0)") * col("b9") <
          lit(new java.math.BigDecimal("1000000007000000000000000000")))
    val out = scored.withColumn("decile", expr("s_pct div 10"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("n_bigrams")).otherwise(0L))
          .as("kept_bigrams"))
      .withColumn("kept_pm", expr("(n_kept * 1000) div n_docs"))
      .select(col("decile"), col("n_docs"), col("n_kept"), col("kept_pm"),
        col("kept_bigrams"))
      .localCheckpoint() // ≤11 rows; release the scored frame
    base.unpersist()
    out
  }

  val paretoQualityGateSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS w,
       |    generate_subscripts(list_filter(string_split(lower(text), ' '), x -> x <> ''), 1) AS pos
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, w, w1 FROM (
       |    SELECT doc_id, w, lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
       |    FROM toks)
       |  WHERE w1 IS NOT NULL),
       |cbg AS (SELECT w, w1, count(*) AS cbg FROM bg GROUP BY 1, 2),
       |cuni AS (SELECT w, count(*) AS cuni FROM toks GROUP BY 1),
       |perdoc AS (
       |  SELECT doc_id, count(*) AS n_bigrams, sum(q)::BIGINT AS sum_q
       |  FROM (
       |    SELECT bg.doc_id, (cbg.cbg * ${graft.operators.CorpusClean.LmScale}) // cuni.cuni AS q
       |    FROM bg JOIN cbg USING (w, w1) JOIN cuni USING (w))
       |  GROUP BY doc_id),
       |m0 AS (
       |  SELECT d.doc_id,
       |    coalesce(p.n_bigrams, 0)::BIGINT AS n_bigrams,
       |    coalesce((p.sum_q * 1000) // (p.n_bigrams * ${graft.operators.CorpusClean.LmScale}), 0)::BIGINT AS fq
       |  FROM documents d LEFT JOIN perdoc p USING (doc_id)),
       |hist AS (SELECT fq, count(*)::BIGINT AS c FROM m0 GROUP BY 1),
       |cells AS (
       |  SELECT fq,
       |    ((sum(c) OVER (ORDER BY fq ROWS UNBOUNDED PRECEDING) - c) * 100)
       |      // (SELECT count(*) FROM m0) AS s_pct
       |  FROM hist),
       |m AS (
       |  SELECT m0.doc_id, m0.n_bigrams, cells.s_pct,
       |    (m0.doc_id % 1000000007) * $PqMult % 1000000007 AS h
       |  FROM m0 JOIN cells USING (fq)),
       |k AS (
       |  SELECT s_pct // 10 AS decile, n_bigrams,
       |    (h + 1)::HUGEINT * ((200 - s_pct)::HUGEINT * (200 - s_pct)
       |      * (200 - s_pct) * (200 - s_pct) * (200 - s_pct) * (200 - s_pct)
       |      * (200 - s_pct) * (200 - s_pct) * (200 - s_pct))
       |      < '1000000007000000000000000000'::HUGEINT AS keep
       |  FROM m)
       |SELECT decile::BIGINT AS decile, count(*)::BIGINT AS n_docs,
       |  sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       |  (sum(CASE WHEN keep THEN 1 ELSE 0 END) * 1000 // count(*))::BIGINT AS kept_pm,
       |  coalesce(sum(CASE WHEN keep THEN n_bigrams END), 0)::BIGINT AS kept_bigrams
       |FROM k GROUP BY 1""".stripMargin
}
