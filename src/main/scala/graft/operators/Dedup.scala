package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Portable.pround
import graft.functions.HashFns._
import graft.functions.VecFns
import graft.ingest.ArtifactCache.Artifact

/** Deduplication operators over `documents` / `embeddings`
  * (SURVEY.md §2 C*). The shared shape: signatures are computed
  * map-only (one scan), candidates come from a groupBy/join on
  * (band, bucket) keys — shuffle volume ∝ docs × bands, never
  * docs² — and only candidate pairs pay the exact-verify cost.
  */
object Dedup {

  /** Document-frequency cap on grams: grams shared by more than
    * [[DfCap]] docs are dropped from the postings (and from the
    * Jaccard universe, oracle included). A single stopword trigram
    * shared by 10⁴ docs otherwise produces 10⁸ rows on one join key —
    * the classic hot-key blowup of postings self-joins. The df filter
    * is itself one gram-keyed aggregate, the same shuffle the
    * self-join pays anyway. Max observed df at sf0.1 is 25, so the
    * cap is inert at verify scale (pairs identical, spec-checked);
    * it exists to bound per-key fanout at 100 TB. */
  val DfCap = 1000

  /** Per-doc DISTINCT 3-gram postings — the gram-dedup family's
    * shared input, one [[graft.plans.TokenGrams]] kernel pass: the
    * kernel dedups map-side (keep-first), so no distinct exchange and
    * no interpreted gram build. The map-side zip_with chain and the
    * r8-r9 window-lead build it replaced lost their ABProbe `gram`
    * A/Bs (OPTIMIZATION_r14.md row 8; SURVEY.md §4). Whole-doc gram
    * under 3 tokens, "" for an empty doc. */
  private def rawGramPosts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(graft.functions.HashFns.shingles(col("text"))).as("gram"))

  /** The un-checkpointed C2 pipeline for plan probing (the
    * ngramNoveltyFrame convention — [[dedupMinhashLsh]]'s
    * localCheckpoint hides the executed plan). */
  private[graft] def minhashLshFrame(s: SparkSession, dir: String): DataFrame =
    lshPairs(gramPosts(s, dir))

  private def gramPosts(s: SparkSession, dir: String): DataFrame = {
    val posts = rawGramPosts(documents(s, dir))
    val lowDf = posts.groupBy(col("gram"))
      .agg(count(lit(1)).as("df")).filter(col("df") <= DfCap)
      .select(col("gram"))
    posts.join(lowDf, "gram").select(col("doc_id"), col("gram"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Exact-Jaccard verify of (ia, ib) candidate pairs against gram
    * postings: constrain postings to the pair list first (pairs are
    * few), count common grams, join per-doc sizes. Pairs with zero
    * common grams drop out — they can't pass the 0.5 floor. */
  private def verifyJaccardPosts(cand: DataFrame, gp: DataFrame): DataFrame = {
    val sizes = gp.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    cand
      .join(gp.select(col("doc_id").as("ia"), col("gram")), "ia")
      .join(gp.select(col("doc_id").as("ib"), col("gram")), Seq("ib", "gram"))
      .groupBy(col("ia"), col("ib")).agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("ia"), col("sz").as("sa")), "ia")
      .join(sizes.select(col("doc_id").as("ib"), col("sz").as("sb")), "ib")
      .withColumn("j", col("inter").cast("double") / (col("sa") + col("sb") - col("inter")))
      .filter(col("j") >= 0.5)
      .select(col("ia"), col("ib"), pround(col("j"), 4).as("jaccard"))
  }

  /** C1: exact dedup — group on md5(text) (32-byte keys shuffle, not
    * full documents), keep the minimum doc_id per group. */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))

  val dedupExactSql: String =
    """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_dups
      |FROM documents GROUP BY 1""".stripMargin

  /** C2: MinHash + banded LSH near-dup pairs. Signature: map-only.
    * Candidates: self-join on exploded band keys (bounded fanout).
    * Verify: exact Jaccard over shingle sets, keep ≥ 0.5. At J ≥ 0.9
    * the 16×4 banding catches a pair w.p. 1-(1-0.9⁴)¹⁶ ≈ 1-4e-8, so
    * the oracle can be the exact all-pairs answer. */
  def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame = {
    val gp = gramPosts(s, dir)
    // materialize the pair-sized result, then release the cached
    // postings (the Graph.scala hygiene pattern: caches must not
    // outlive their operator across a 121-query session)
    val out = lshPairs(gp).localCheckpoint()
    gp.unpersist()
    out
  }

  /** The C2 pipeline from postings: MinHash signatures (scalar
    * min-aggregates — one doc-keyed shuffle, codegen'd), banded
    * candidates, exact-Jaccard verify. */
  private def lshPairs(gp: DataFrame): DataFrame = {
    val posts = gp.select(col("doc_id"), pmod(xxhash64(col("gram")), lit(P)).as("h"))
    val sig = minhashSigAgg(posts, "doc_id", "h")
    val bands = sig.select(col("doc_id"), explode(bandKeys(col("sig"))).as("bk"))
    val cand = bands.as("x")
      .join(bands.as("y"), col("x.bk") === col("y.bk") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("ia"), col("y.doc_id").as("ib"))
      .distinct()
    verifyJaccardPosts(cand, gp)
  }

  /** The materialized verified LSH pair list — the write-once
    * artifact K-line dedup_clusters reads (the lv_labels/purchase-pairs
    * lifecycle): cluster labeling is BY DEFINITION a pass over the
    * near-dup pair list, and before this artifact dedup_clusters
    * recomputed the entire C2 sweep (postings → signatures → banding
    * → exact-Jaccard verify, ~2.5 s of its 2.9 s warm) that
    * dedup_minhash_lsh had already run. dedup_minhash_lsh itself stays
    * a FRESH computation — it IS the pair sweep under eval (the
    * ann_ranked convention: per-path operators fresh, downstream
    * consumers read the artifact). */
  val LshPairs: Artifact = Artifact("lsh_pairs", Seq("documents"),
    s"minhash=${NumHashes}x$P;bands=$Bands;df=$DfCap;shingle=$ShingleWidth;j>=0.5;v1")

  def ensureLshPairs(s: SparkSession, dir: String): String =
    LshPairs.ensure(dir) { out =>
      val gp = gramPosts(s, dir)
      lshPairs(gp).write.mode("overwrite").parquet(out)
      gp.unpersist()
    }

  /** The PERSISTED (ia, ib, jaccard) pair list — set semantics. */
  private[graft] def lshPairsArtifact(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(ensureLshPairs(s, dir))

  /** The stand-in "today's arrivals" predicate for the incremental
    * family: doc_id ≡ 7 mod 10 is the daily batch, the rest is the
    * existing corpus. */
  private val isNewDoc = col("doc_id") % 10 === 7

  /** Constants whose change invalidates the persisted index: the
    * minhash family (hash count, modulus), shingle width, banding
    * geometry, df cap, and the batch-split predicate. */
  private def corpusIndexSig: String =
    s"minhash=${NumHashes}x$P;bands=$Bands;df=$DfCap;shingle=$ShingleWidth;newdoc=7%10"

  /** The materialized corpus LSH index, one dir per scale dir.
    * Lifecycle contract: [[buildCorpusIndex]] writes it;
    * [[dedupIncremental]] builds it once if absent and READS it
    * thereafter. */
  val CorpusIndex: Artifact = Artifact("corpus_index", Seq("documents"), corpusIndexSig)

  /** Build and PERSIST the corpus's LSH band index — the write-once
    * half of the incremental-dedup lifecycle. Three parquet tables
    * (the [[graft.queries.TextOps.buildIndexQ]] write shape: index =
    * plain keyed parquet a later job joins against):
    *   - `posts`: (doc_id, gram) corpus postings, df-capped — the
    *     verify side of the index;
    *   - `bands`: (doc_id, bk) exploded LSH band keys — the candidate
    *     side, keyed by bk;
    *   - `hot_grams`: grams whose CORPUS df exceeds [[DfCap]]
    *     (broadcast-sized; the batch side anti-joins it so both sides
    *     agree on the gram universe).
    * df is computed over the CORPUS ONLY — the honest incremental
    * semantics: at build time the future batches' dfs are unknown.
    * (At verify scales max df ≪ cap, so this equals the all-docs cap
    * of [[gramPosts]] — the recompute-equality spec leans on that.) */
  def buildCorpusIndex(s: SparkSession, dir: String, path: String): Unit = {
    val raw = rawGramPosts(documents(s, dir).filter(!isNewDoc))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hot = raw.groupBy(col("gram"))
      .agg(count(lit(1)).as("df")).filter(col("df") > DfCap)
      .select(col("gram"))
    hot.write.mode("overwrite").parquet(s"$path/hot_grams")
    val posts = raw.join(
      broadcast(s.read.parquet(s"$path/hot_grams")), Seq("gram"), "left_anti")
    posts.write.mode("overwrite").parquet(s"$path/posts")
    val stored = s.read.parquet(s"$path/posts")
    val sig = minhashSigAgg(
      stored.select(col("doc_id"), pmod(xxhash64(col("gram")), lit(P)).as("h")),
      "doc_id", "h")
    sig.select(col("doc_id"), explode(bandKeys(col("sig"))).as("bk"))
      .write.mode("overwrite").parquet(s"$path/bands")
    raw.unpersist()
  }

  def ensureCorpusIndex(s: SparkSession, dir: String): String =
    CorpusIndex.ensure(dir)(buildCorpusIndex(s, dir, _))

  /** The materialized cluster-label frame, one dir per scale dir —
    * the same write-once/read-thereafter lifecycle as [[CorpusIndex]],
    * for the CLUSTERING's output instead of the LSH index: (doc_id,
    * cluster_id, cluster_size) as plain keyed parquet.
    * [[dedupClusters]] is the job that produces it; downstream
    * consumers ([[dedupApply]]) join the persisted labels instead of
    * re-running LSH + union-find per query. */
  val ClusterLabels: Artifact = Artifact("cluster_labels", Seq("documents"),
    s"$corpusIndexSig;j>=0.5;unionfind")

  def ensureClusterLabels(s: SparkSession, dir: String): String =
    ClusterLabels.ensure(dir)(dedupClusters(s, dir).write.mode("overwrite").parquet(_))

  /** The DAILY-RUN half of incremental dedup: shingle ONLY today's
    * batch, anti-join the index's hot-gram list (broadcast), sign and
    * band the batch, then candidates come from batch-bands ⋈ the
    * PERSISTED corpus `bands` table and exact-Jaccard verify reads
    * the PERSISTED corpus `posts` — the corpus TEXT is never
    * rescanned (plan-spec'd: every documents.parquet scan in this
    * plan carries the batch filter). At 100 TB this is the whole
    * point of the lifecycle: the daily cost is ∝ batch size plus the
    * touched index buckets, not corpus size. Emits (new_id, dup_of,
    * jaccard ≥ 0.5) — the reject list for today's batch. */
  def dedupIncrementalFromIndex(s: SparkSession, dir: String, path: String): DataFrame = {
    val (daily, bposts) = incrementalDaily(s, dir, path)
    val out = daily.localCheckpoint() // pair-sized; release the cached batch postings
    bposts.unpersist()
    out
  }

  /** The daily-run frame pre-checkpoint (plan inspection needs the
    * live plan; the checkpoint above erases it) plus the cached batch
    * postings the caller must release after materializing. */
  private[graft] def incrementalDaily(
      s: SparkSession, dir: String, path: String): (DataFrame, DataFrame) = {
    val hot = s.read.parquet(s"$path/hot_grams")
    val bposts = rawGramPosts(documents(s, dir).filter(isNewDoc))
      .join(broadcast(hot), Seq("gram"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bsig = minhashSigAgg(
      bposts.select(col("doc_id"), pmod(xxhash64(col("gram")), lit(P)).as("h")),
      "doc_id", "h")
    val bbands = bsig.select(col("doc_id"), explode(bandKeys(col("sig"))).as("bk"))
    val ibands = s.read.parquet(s"$path/bands")
    val cand = bbands.as("x")
      .join(ibands.as("y"), col("x.bk") === col("y.bk"))
      .select(col("x.doc_id").as("ia"), col("y.doc_id").as("ib"))
      .distinct()
    val iposts = s.read.parquet(s"$path/posts")
    val bsizes = bposts.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val isizes = iposts.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val daily = cand
      .join(bposts.select(col("doc_id").as("ia"), col("gram")), "ia")
      .join(iposts.select(col("doc_id").as("ib"), col("gram")), Seq("ib", "gram"))
      .groupBy(col("ia"), col("ib")).agg(count(lit(1)).as("inter"))
      .join(bsizes.select(col("doc_id").as("ia"), col("sz").as("sa")), "ia")
      .join(isizes.select(col("doc_id").as("ib"), col("sz").as("sb")), "ib")
      .withColumn("j", col("inter").cast("double") / (col("sa") + col("sb") - col("inter")))
      .filter(col("j") >= 0.5)
      .select(col("ia").as("new_id"), col("ib").as("dup_of"),
        pround(col("j"), 4).as("jaccard"))
    (daily, bposts)
  }

  /** K-line: INCREMENTAL dedup — the form a daily pipeline actually
    * runs: a NEW batch of documents (doc_id ≡ 7 mod 10 stands in for
    * today's arrivals) is checked against the EXISTING corpus's
    * MATERIALIZED LSH band index ([[buildCorpusIndex]], built once),
    * not against itself and not by rescanning the corpus. */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame =
    dedupIncrementalFromIndex(s, dir, ensureCorpusIndex(s, dir))

  /** The retired recompute formulation (corpus signatures re-derived
    * from raw text on every run) — kept as the reference twin the
    * index-lifecycle equality spec replays. */
  def dedupIncrementalRecompute(s: SparkSession, dir: String): DataFrame = {
    val gp = gramPosts(s, dir)
    val posts = gp.select(col("doc_id"), pmod(xxhash64(col("gram")), lit(P)).as("h"))
    val sig = minhashSigAgg(posts, "doc_id", "h")
    val bands = sig.select(col("doc_id"), explode(bandKeys(col("sig"))).as("bk"))
    val cand = bands.filter(isNewDoc).as("x")
      .join(bands.filter(!isNewDoc).as("y"), col("x.bk") === col("y.bk"))
      .select(col("x.doc_id").as("ia"), col("y.doc_id").as("ib"))
      .distinct()
    val out = verifyJaccardPosts(cand, gp)
      .select(col("ia").as("new_id"), col("ib").as("dup_of"), col("jaccard"))
      .localCheckpoint() // pair-sized; release the cached postings
    gp.unpersist()
    out
  }

  /** DuckDB twin: the EXACT batch-vs-corpus pairs at j ≥ 0.5, with
    * the index's gram universe (df over the corpus only; hot grams
    * dropped from both sides — empty at verify scales). As with C2's
    * oracle, equality to the LSH path is CORPUS-DEPENDENT: 16×4
    * banding catches a pair w.p. 1-(1-j⁴)¹⁶ — ≈1-4e-8 at j ≥ 0.9 but
    * only ≈0.64 at j = 0.5, so exact-oracle equality additionally
    * relies on this corpus containing no mid-jaccard (0.5 ≤ j ≲ 0.8)
    * cross-batch pairs: its planted near-dups sit at j ≥ 0.9 and
    * organic pairs below 0.5 (the DedupSpec subset test re-checks
    * that per scale). A corpus where that fails needs the honest
    * banding-recall framing, not an exact oracle. */
  lazy val dedupIncrementalSql: String =
    gramsCte + """,
      |posts AS (SELECT doc_id, unnest(gs) AS gram FROM g),
      |hot AS (SELECT gram FROM posts WHERE doc_id % 10 <> 7
      |        GROUP BY gram HAVING count(*) > 1000),
      |p2 AS (SELECT doc_id, gram FROM posts
      |       WHERE gram NOT IN (SELECT gram FROM hot)),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM p2 GROUP BY 1),
      |jp AS (
      |  SELECT ia, ib, cnt::DOUBLE / (sa.sz + sb.sz - cnt) AS j
      |  FROM (SELECT b.doc_id AS ia, c.doc_id AS ib, count(*) AS cnt
      |        FROM p2 b JOIN p2 c ON b.gram = c.gram
      |        WHERE b.doc_id % 10 = 7 AND c.doc_id % 10 <> 7
      |        GROUP BY 1, 2) i
      |  JOIN sizes sa ON i.ia = sa.doc_id
      |  JOIN sizes sb ON i.ib = sb.doc_id)
      |SELECT ia AS new_id, ib AS dup_of,
      |  floor((j) * 10000.0 + 0.5) / 10000.0 AS jaccard
      |FROM jp WHERE j >= 0.5""".stripMargin

  /** DuckDB twin of the 3-gram shingling in [[graft.functions.HashFns.shingles]]. */
  private val gramsCte: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, CASE WHEN len(toks) >= 3
      |    THEN list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
      |                        for i in range(1, len(toks) - 1)])
      |    ELSE [array_to_string(toks, ' ')] END AS gs
      |  FROM toks)""".stripMargin

  /** DuckDB twin of the capped postings ([[gramPosts]]) + exact
    * Jaccard verify, as appendable CTEs: `jp` is (ia, ib, j) for all
    * pairs with ≥1 shared (low-df) gram. */
  private val pairsCtes: String =
    s""",
       |posts AS (SELECT doc_id, unnest(gs) AS gram FROM g),
       |keepg AS (SELECT gram FROM posts GROUP BY gram HAVING count(*) <= $DfCap),
       |p2 AS (SELECT doc_id, gram FROM posts JOIN keepg USING (gram)),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM p2 GROUP BY 1),
       |jp AS (
       |  SELECT ia, ib, cnt, sa.sz AS sz_a, sb.sz AS sz_b,
       |    cnt::DOUBLE / (sa.sz + sb.sz - cnt) AS j
       |  FROM (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS cnt
       |        FROM p2 a JOIN p2 b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |        GROUP BY 1, 2) i
       |  JOIN sizes sa ON i.ia = sa.doc_id
       |  JOIN sizes sb ON i.ib = sb.doc_id)""".stripMargin

  /** Exact Jaccard ≥ 0.5 pairs — the oracle for both the LSH path
    * (C2, recall ≈ 1 at the corpus's J levels) and the exact
    * postings-join path (C4). */
  private val jaccardPairsSql: String =
    gramsCte + pairsCtes + "\n" +
      "SELECT ia, ib, floor((j) * 10000.0 + 0.5) / 10000.0 AS jaccard FROM jp WHERE j >= 0.5"

  val dedupMinhashLshSql: String = jaccardPairsSql

  /** C4: exact n-gram Jaccard pairs via a postings self-join —
    * shuffle ∝ Σ posting-list sizes, not docs². Standalone exact twin
    * of C2's verify stage. */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    pairStats(s, dir)
      .filter(col("j") >= 0.5)
      .select(col("ia"), col("ib"), pround(col("j"), 4).as("jaccard"))

  val ngramJaccardSql: String = jaccardPairsSql

  /** Sweep floors for [[dedupSweep]] (the operating floor 0.5 sits
    * mid-curve). */
  val SweepThresholds: Seq[Double] = (3 to 9).map(_ / 10.0)

  /** K-line: dedup THRESHOLD SWEEP — pair volume and affected-doc
    * count at each candidate Jaccard floor, from ONE capped postings
    * join (the C4 shuffle; the sweep itself is a broadcast-literal
    * explode + one aggregate). The curve a curator reads before
    * picking the dedup floor on a new corpus: where it elbows, real
    * duplication ends and near-miss noise begins — the
    * threshold-side calibration next to minhash_est's estimator-side
    * one. j is the same double in both engines, so every ≥-comparison
    * replays exactly. */
  def dedupSweep(s: SparkSession, dir: String): DataFrame =
    pairStats(s, dir)
      .select(col("ia"), col("ib"), col("j"),
        explode(array(SweepThresholds.map(lit): _*)).as("threshold"))
      .filter(col("j") >= col("threshold"))
      .select(col("threshold"), col("ia"), col("ib"),
        explode(array(col("ia"), col("ib"))).as("d"))
      .groupBy(col("threshold"))
      .agg((count(lit(1)) / 2).cast("long").as("n_pairs"),
        count_distinct(col("d")).as("n_docs"))

  val dedupSweepSql: String = {
    val ts = SweepThresholds.mkString("[", ", ", "]")
    gramsCte + pairsCtes + s""",
      |sw AS (
      |  SELECT t.threshold, ia, ib FROM jp
      |  CROSS JOIN (SELECT CAST(unnest($ts) AS DOUBLE) AS threshold) t
      |  WHERE j >= t.threshold),
      |d AS (SELECT threshold, unnest([ia, ib]) AS d FROM sw)
      |SELECT threshold, (count(*) // 2)::BIGINT AS n_pairs,
      |  count(DISTINCT d) AS n_docs
      |FROM d GROUP BY 1""".stripMargin
  }

  /** J-line: cross-source duplication matrix — for every near-dup
    * pair (exact Jaccard ≥ 0.5, the C4 pair set), which SOURCE pair
    * produced it. The report a corpus curator reads before deciding
    * which feeds to drop or de-prioritize ([[mixSources]] is the
    * enforcement half). Reuses the capped postings join; one extra
    * broadcast-size join to doc sources + a matrix-sized aggregate. */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val src = documents(s, dir).select(col("doc_id"), col("source"))
    ngramJaccard(s, dir).select(col("ia"), col("ib"))
      .join(broadcast(src.select(col("doc_id").as("ia"), col("source").as("sa"))), "ia")
      .join(broadcast(src.select(col("doc_id").as("ib"), col("source").as("sb"))), "ib")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("cross_source", col("source_a") =!= col("source_b"))
  }

  val sourceOverlapSql: String =
    gramsCte + pairsCtes + """
      |SELECT least(da.source, db.source) AS source_a,
      |  greatest(da.source, db.source) AS source_b,
      |  count(*) AS n_pairs,
      |  least(da.source, db.source) <> greatest(da.source, db.source) AS cross_source
      |FROM jp
      |JOIN documents da ON jp.ia = da.doc_id
      |JOIN documents db ON jp.ib = db.doc_id
      |WHERE j >= 0.5
      |GROUP BY 1, 2""".stripMargin

  /** K-line: APPLY the dedup decision — the manifest of the deduped
    * corpus a pipeline actually writes after [[dedupClusters]]: one
    * row per cluster with the kept representative (the cluster
    * minimum, same canonical choice as C1), how many members merged
    * into it, the provenance source set, and the byte accounting
    * (kept vs removed chars) that feeds the dataset card. Labels come
    * from the PERSISTED frame of [[ensureClusterLabels]] — the
    * clustering (LSH pairs + union-find) runs once per corpus, and
    * this query is only the consumer: one join of labels to doc
    * metadata + one cluster-keyed aggregate. At 100 TB the aggregate
    * shuffles (cluster, partial) rows, and singleton clusters
    * dominate so the output is ≈ corpus-sized, written back out as
    * the new corpus manifest; the expensive clustering is never
    * re-paid by downstream consumers. */
  def dedupApply(s: SparkSession, dir: String): DataFrame = {
    // (doc_id, cluster_id, cluster_size), materialized once per corpus
    val clu = s.read.parquet(ensureClusterLabels(s, dir))
    val docs = documents(s, dir).select(col("doc_id"), col("source"), col("n_chars"))
    clu.join(docs, "doc_id")
      .groupBy(col("cluster_id").as("keep_id"))
      .agg(count(lit(1)).as("n_merged"),
        concat_ws("|", array_sort(collect_set(col("source")))).as("sources"),
        sum(when(col("doc_id") === col("cluster_id"), col("n_chars"))
          .otherwise(0L)).as("kept_chars"),
        sum(when(col("doc_id") =!= col("cluster_id"), col("n_chars"))
          .otherwise(0L)).as("chars_removed"))
  }

  // lazy: interpolates dedupClustersSql, which is declared further down
  lazy val dedupApplySql: String =
    s"""SELECT cluster_id AS keep_id, count(*) AS n_merged,
       |  array_to_string(list_sort(list_distinct(list(source))), '|') AS sources,
       |  sum(CASE WHEN doc_id = cluster_id THEN n_chars ELSE 0 END)::BIGINT AS kept_chars,
       |  sum(CASE WHEN doc_id <> cluster_id THEN n_chars ELSE 0 END)::BIGINT AS chars_removed
       |FROM ($dedupClustersSql) clu JOIN documents USING (doc_id)
       |GROUP BY 1""".stripMargin

  /** K78: DUPLICATION PROFILE — the cluster-size histogram read
    * BEFORE choosing a keep-one-per-cluster policy: per cluster size,
    * how many clusters, how many documents they hold, how many of
    * those are excess copies, and the exact chars the merge would
    * reclaim. Like [[dedupApply]] this is a pure CONSUMER of the
    * persisted [[ensureClusterLabels]] frame (the clustering is never
    * re-paid): one labels ⋈ doc-metadata join + one cluster-keyed and
    * one size-keyed aggregate; output is bounded by the largest
    * cluster size, so the report is tiny at any corpus scale. */
  def dupClusterStats(s: SparkSession, dir: String): DataFrame = {
    val clu = s.read.parquet(ensureClusterLabels(s, dir))
    val docs = documents(s, dir).select(col("doc_id"), col("n_chars"))
    clu.join(docs, "doc_id")
      .groupBy(col("cluster_id"), col("cluster_size"))
      .agg(sum(when(col("doc_id") =!= col("cluster_id"), col("n_chars"))
        .otherwise(0L)).as("excess_chars"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        (count(lit(1)) * col("cluster_size")).as("n_docs"),
        (count(lit(1)) * (col("cluster_size") - 1)).as("n_excess_docs"),
        sum(col("excess_chars")).as("excess_chars"))
      .select(col("cluster_size"), col("n_clusters"), col("n_docs"),
        col("n_excess_docs"), col("excess_chars"))
  }

  // lazy: interpolates dedupClustersSql, declared further down
  lazy val dupClusterStatsSql: String =
    s"""WITH per AS (
       |  SELECT cluster_id, cluster_size,
       |    sum(CASE WHEN doc_id <> cluster_id THEN n_chars ELSE 0 END)::BIGINT
       |      AS excess_chars
       |  FROM ($dedupClustersSql) clu JOIN documents USING (doc_id)
       |  GROUP BY 1, 2)
       |SELECT cluster_size, count(*) AS n_clusters,
       |  (count(*) * cluster_size)::BIGINT AS n_docs,
       |  (count(*) * (cluster_size - 1))::BIGINT AS n_excess_docs,
       |  sum(excess_chars)::BIGINT AS excess_chars
       |FROM per GROUP BY 1""".stripMargin

  /** K117: DEDUP QUALITY-BIAS AUDIT — the curation sanity check "is
    * dedup deleting my best documents": cross-tab of quality bucket
    * (the K112 capped stopword-density percent, folded to 5 integer
    * buckets of 20) × duplicate status (member of a PERSISTED
    * cluster of size ≥ 2), with doc and token mass per cell and the
    * exact integer dup-per-mille rate whose TILT across buckets is
    * the bias signal (boilerplate duplicates cluster in the
    * low-quality buckets on a healthy corpus; a flat or inverted
    * tilt means the dedup threshold is eating content). Reads the
    * write-once cluster-labels artifact — the clustering never
    * reruns per audit; quality scoring is map-side; one doc-keyed
    * equi-join + a 5-key aggregate. */
  def dedupQualityAudit(s: SparkSession, dir: String): DataFrame = {
    val tq = documents(s, dir).select(col("doc_id"),
        graft.functions.TextFns.wsTokenCount(col("text")).cast("long").as("toks"),
        graft.functions.TextFns.langScore(col("text"), "en").cast("long").as("hits"))
      .withColumn("w", expr("least(100L, (hits * 200L) div greatest(toks, 1L))"))
      .withColumn("q_bucket", expr("least(4L, w div 20L)"))
    val clu = s.read.parquet(ensureClusterLabels(s, dir))
      .select(col("doc_id"), (col("cluster_size") > 1).as("is_dup"))
    tq.join(clu, "doc_id")
      .groupBy(col("q_bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup"),
        sum(col("toks")).as("toks"),
        sum(when(col("is_dup"), col("toks")).otherwise(0L)).as("toks_dup"))
      .withColumn("dup_per_mille", expr("(n_dup * 1000) div n_docs"))
      .orderBy(col("q_bucket"))
  }

  lazy val dedupQualityAuditSql: String = {
    val sw = graft.functions.TextFns.stopwords("en")
      .map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH q AS (
       |  SELECT doc_id,
       |    len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS toks,
       |    len(list_filter(string_split(lower(text), ' '),
       |        x -> list_contains($sw, x)))::BIGINT AS hits
       |  FROM documents),
       |qb AS (
       |  SELECT doc_id, toks,
       |    least(4, least(100, (hits * 200) // greatest(toks, 1)) // 20) AS q_bucket
       |  FROM q),
       |clu AS (SELECT doc_id, cluster_size FROM ($dedupClustersSql)),
       |j AS (
       |  SELECT q_bucket, toks, cluster_size > 1 AS is_dup
       |  FROM qb JOIN clu USING (doc_id))
       |SELECT q_bucket, count(*) AS n_docs,
       |  sum(CASE WHEN is_dup THEN 1 ELSE 0 END)::BIGINT AS n_dup,
       |  sum(toks)::BIGINT AS toks,
       |  sum(CASE WHEN is_dup THEN toks ELSE 0 END)::BIGINT AS toks_dup,
       |  (sum(CASE WHEN is_dup THEN 1 ELSE 0 END) * 1000 // count(*))::BIGINT
       |    AS dup_per_mille
       |FROM j GROUP BY q_bucket""".stripMargin
  }

  /** K121: CANONICAL-DOCUMENT ELECTION — dedup that keeps the BEST
    * copy, not the first: per dup cluster (persisted labels, size
    * ≥ 2), elect the member with the highest integer quality weight
    * (K112's stopword-density percent; ties → longer doc → smaller
    * id), and report the quality GAIN over K3 dedup_apply's
    * first-seen (min-id) baseline — the number that justifies
    * quality-aware election in a curation review. The argmax is the
    * hard_negatives fold (max(struct(w, toks, −id)) — no rank
    * window); one doc-keyed equi-join against the label artifact +
    * one cluster-keyed aggregate, both ∝ dup-cluster members, never
    * corpus². */
  def dedupCanonical(s: SparkSession, dir: String): DataFrame = {
    val clu = s.read.parquet(ensureClusterLabels(s, dir))
      .filter(col("cluster_size") > 1)
      .select(col("doc_id"), col("cluster_id"))
    val q = documents(s, dir).select(col("doc_id"),
        graft.functions.TextFns.wsTokenCount(col("text")).cast("long").as("toks"),
        graft.functions.TextFns.langScore(col("text"), "en").cast("long").as("hits"))
      .withColumn("w", expr("least(100L, (hits * 200L) div greatest(toks, 1L))"))
    clu.join(q, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("w"), col("toks"), (-col("doc_id")).as("nid"))).as("e"),
        // the min-id member IS the cluster label (canonical = min(b))
        max(when(col("doc_id") === col("cluster_id"), col("w"))).as("w_first"))
      .select(col("cluster_id"), col("n_members"),
        (-col("e.nid")).as("keep_id"), col("e.w").as("w_kept"),
        col("w_first"), (col("e.w") - col("w_first")).as("quality_gain"))
  }

  lazy val dedupCanonicalSql: String = {
    val sw = graft.functions.TextFns.stopwords("en")
      .map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH q AS (
       |  SELECT doc_id,
       |    len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS toks,
       |    len(list_filter(string_split(lower(text), ' '),
       |        x -> list_contains($sw, x)))::BIGINT AS hits
       |  FROM documents),
       |w AS (
       |  SELECT doc_id, toks,
       |    least(100, (hits * 200) // greatest(toks, 1)) AS w
       |  FROM q),
       |m AS (
       |  SELECT c.cluster_id, c.doc_id, w.w, w.toks
       |  FROM ($dedupClustersSql) c JOIN w USING (doc_id)
       |  WHERE c.cluster_size > 1),
       |e AS (
       |  SELECT cluster_id, doc_id AS keep_id, w AS w_kept FROM (
       |    SELECT cluster_id, doc_id, w,
       |      row_number() OVER (PARTITION BY cluster_id
       |        ORDER BY w DESC, toks DESC, doc_id) AS rn
       |    FROM m) WHERE rn = 1),
       |f AS (SELECT cluster_id, w AS w_first FROM m WHERE doc_id = cluster_id),
       |n AS (SELECT cluster_id, count(*) AS n_members FROM m GROUP BY 1)
       |SELECT cluster_id, n_members, keep_id,
       |  w_kept::BIGINT AS w_kept, w_first::BIGINT AS w_first,
       |  (w_kept - w_first)::BIGINT AS quality_gain
       |FROM e JOIN f USING (cluster_id) JOIN n USING (cluster_id)""".stripMargin
  }

  /** K130: SPLIT-LEAKAGE AUDIT — near-dup pairs CROSSING the
    * train/val/test boundary (the measurement behind "Deduplicating
    * Training Data Makes Language Models Better": an eval doc with a
    * train-side near-duplicate is contamination that n-gram
    * decontamination by exact match can miss, and the reason dedup
    * runs BEFORE splitting). Pairs are the persisted verified
    * near-dup set ([[ensurePairStats]], exact J ≥ 0.5 — join-cost,
    * never a re-mine); splits are G8 sample_split's hash lanes, so
    * this audits exactly the split the pipeline ships. Each pair is
    * oriented by split precedence (train < val < test) and the
    * report is per (split_a, split_b): pair count, distinct docs on
    * each side (the (train, test) row's n_docs_b IS the count of
    * contaminated test docs), per-mille share. One tiny aggregate
    * over the pair artifact + a 1-row total broadcast. */
  def splitLeakage(s: SparkSession, dir: String): DataFrame = {
    def lane(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val h = pmod(c * 2654435761L % 1000000007L, lit(100))
      when(h < 80, 0).when(h < 90, 1).otherwise(2)
    }
    val name = (c: org.apache.spark.sql.Column) =>
      when(c === 0, "train").when(c === 1, "val").otherwise("test")
    val fwd = col("xa") <= col("xb")
    val cells = pairStats(s, dir).filter(col("j") >= 0.5)
      .select(col("ia"), col("ib"))
      .withColumn("xa", lane(col("ia"))).withColumn("xb", lane(col("ib")))
      .select(
        name(when(fwd, col("xa")).otherwise(col("xb"))).as("split_a"),
        name(when(fwd, col("xb")).otherwise(col("xa"))).as("split_b"),
        when(fwd, col("ia")).otherwise(col("ib")).as("doc_a"),
        when(fwd, col("ib")).otherwise(col("ia")).as("doc_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("doc_a")).as("n_docs_a"),
        countDistinct(col("doc_b")).as("n_docs_b"))
      .localCheckpoint() // ≤ 6 rows; the total derives from it
    val tot = cells.agg(sum(col("n_pairs")).as("n_total"))
    cells.crossJoin(broadcast(tot)) // 1-row scalar frame
      .select(col("split_a"), col("split_b"), col("n_pairs"),
        col("n_docs_a"), col("n_docs_b"),
        expr("(n_pairs * 1000) div n_total").as("share_permille"))
  }

  lazy val splitLeakageSql: String =
    gramsCte + pairsCtes + """,
      |pr AS (SELECT ia, ib FROM jp WHERE j >= 0.5),
      |m AS (
      |  SELECT ia, ib,
      |    CASE WHEN (ia * 2654435761 % 1000000007) % 100 < 80 THEN 0
      |         WHEN (ia * 2654435761 % 1000000007) % 100 < 90 THEN 1
      |         ELSE 2 END AS xa,
      |    CASE WHEN (ib * 2654435761 % 1000000007) % 100 < 80 THEN 0
      |         WHEN (ib * 2654435761 % 1000000007) % 100 < 90 THEN 1
      |         ELSE 2 END AS xb
      |  FROM pr),
      |o AS (
      |  SELECT CASE WHEN xa <= xb THEN xa ELSE xb END AS qa,
      |         CASE WHEN xa <= xb THEN xb ELSE xa END AS qb,
      |         CASE WHEN xa <= xb THEN ia ELSE ib END AS doc_a,
      |         CASE WHEN xa <= xb THEN ib ELSE ia END AS doc_b
      |  FROM m),
      |cells AS (
      |  SELECT CASE qa WHEN 0 THEN 'train' WHEN 1 THEN 'val' ELSE 'test' END AS split_a,
      |         CASE qb WHEN 0 THEN 'train' WHEN 1 THEN 'val' ELSE 'test' END AS split_b,
      |         count(*) AS n_pairs,
      |         count(DISTINCT doc_a)::BIGINT AS n_docs_a,
      |         count(DISTINCT doc_b)::BIGINT AS n_docs_b
      |  FROM o GROUP BY 1, 2),
      |t AS (SELECT sum(n_pairs)::BIGINT AS n_total FROM cells)
      |SELECT split_a, split_b, n_pairs, n_docs_a, n_docs_b,
      |  (n_pairs * 1000 // n_total)::BIGINT AS share_permille
      |FROM cells, t""".stripMargin

  /** K-line: MinHash accuracy report — for every true near-dup pair
    * (exact Jaccard ≥ 0.5, the C4 set), the signature-agreement
    * estimate ĵ = |{k : sig_a[k] = sig_b[k]}| / 64 next to the exact
    * j. The calibration check a pipeline runs before trusting C2's
    * banding thresholds on a new corpus (E[ĵ] = j per MinHash theory;
    * matches/64 is an exact dyadic double, so cross-engine safe).
    * Gram hashes are the portable [[graft.functions.HashFns.strHash]]
    * so the oracle replays signatures bit-for-bit; signatures and
    * pairs reuse ONE persisted postings frame — no second shingle
    * scan. */
  /** The materialized shared-gram PAIR-STATS frame
    * (ia, ib, inter, sa, sb): the capped-postings self-join that
    * FIVE operators verify against (ngram_jaccard, dedup_sweep,
    * containment_pairs, minhash_est, minhash_band_tune — each with
    * its own threshold/denominator over the same intersections).
    * At 100 TB the postings self-join is the expensive stage; a
    * dedup pipeline materializes it once and every report derives
    * by column arithmetic (the corpus-index lifecycle). */
  val PairStats: Artifact = Artifact("pair_stats", Seq("documents"),
    s"dfCap=$DfCap;shingle=$ShingleWidth")

  def ensurePairStats(s: SparkSession, dir: String): String =
    PairStats.ensure(dir) { out =>
      val gp = gramPosts(s, dir)
      val sizes = gp.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      gp.as("x")
        .join(gp.as("y"), col("x.gram") === col("y.gram") && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("ia"), col("y.doc_id").as("ib"))
        .agg(count(lit(1)).as("inter"))
        .join(sizes.select(col("doc_id").as("ia"), col("sz").as("sa")), "ia")
        .join(sizes.select(col("doc_id").as("ib"), col("sz").as("sb")), "ib")
        .write.mode("overwrite").parquet(out)
      gp.unpersist()
    }

  /** The persisted pair stats with the exact Jaccard derived — the
    * shared verify base for the whole exact-similarity family. */
  private def pairStats(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(ensurePairStats(s, dir))
      .withColumn("j", col("inter").cast("double") / (col("sa") + col("sb") - col("inter")))

  /** The materialized PORTABLE MinHash signatures (doc_id,
    * sig: array<bigint>) — the strHash-laned signature the
    * oracle-replayable estimators (minhash_est, minhash_band_tune)
    * share; built once from the capped postings (the pair-stats
    * lifecycle; C2's production path keeps its own xxhash64 index in
    * [[CorpusIndex]]). */
  val MinhashSig: Artifact = Artifact("minhash_sig", Seq("documents"),
    s"dfCap=$DfCap;shingle=$ShingleWidth;lanes=$NumHashes;hash=strPoly31")

  def ensureMinhashSig(s: SparkSession, dir: String): String =
    MinhashSig.ensure(dir) { out =>
      val gp = gramPosts(s, dir)
      minhashSigAgg(gp.select(col("doc_id"), strHash(col("gram")).as("h")),
        "doc_id", "h")
        .write.mode("overwrite").parquet(out)
      gp.unpersist()
    }

  private def portableSig(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(ensureMinhashSig(s, dir))

  def minhashEst(s: SparkSession, dir: String): DataFrame = {
    val sig = portableSig(s, dir)
    val pairs = pairStats(s, dir)
      .filter(col("j") >= 0.5)
    val out = pairs
      .join(sig.select(col("doc_id").as("ia"), col("sig").as("siga")), "ia")
      .join(sig.select(col("doc_id").as("ib"), col("sig").as("sigb")), "ib")
      .withColumn("eq", aggregate(
        zip_with(col("siga"), col("sigb"), (a, b) => when(a === b, 1L).otherwise(0L)),
        lit(0L), (acc, x) => acc + x))
      .select(col("ia"), col("ib"), pround(col("j"), 4).as("jaccard"),
        col("eq").as("sig_matches"),
        pround(col("eq") / 64.0, 4).as("est_jaccard"))
    out
  }

  val minhashEstSql: String = {
    val aList = graft.functions.HashFns.A.mkString("[", ", ", "]")
    val bList = graft.functions.HashFns.B.mkString("[", ", ", "]")
    gramsCte + pairsCtes + s""",
      |th AS (
      |  SELECT doc_id, list_reduce(list_prepend(0::BIGINT,
      |      [ascii(c)::BIGINT for c in string_split(gram, '')]),
      |    (a, x) -> (a * 31 + x) % 1000000007) AS h
      |  FROM p2),
      |sig AS (
      |  SELECT doc_id, k, min(($aList[k+1] * h + $bList[k+1]) % ${graft.functions.HashFns.P}) AS m
      |  FROM th, (SELECT unnest(range(${graft.functions.HashFns.NumHashes})) AS k)
      |  GROUP BY 1, 2),
      |eqs AS (
      |  SELECT ia, ib, sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END)::BIGINT AS eq
      |  FROM (SELECT ia, ib FROM jp WHERE j >= 0.5) pr
      |  JOIN sig sa ON sa.doc_id = pr.ia
      |  JOIN sig sb ON sb.doc_id = pr.ib AND sb.k = sa.k
      |  GROUP BY 1, 2)
      |SELECT pr.ia, pr.ib, floor((j) * 10000.0 + 0.5) / 10000.0 AS jaccard,
      |  eq AS sig_matches,
      |  floor((eq / 64.0) * 10000.0 + 0.5) / 10000.0 AS est_jaccard
      |FROM jp pr JOIN eqs ON pr.ia = eqs.ia AND pr.ib = eqs.ib
      |WHERE j >= 0.5""".stripMargin
  }

  /** Band/row geometries swept by [[minhashBandTune]] — all factor
    * the same 64-lane signature, so one signature pass feeds every
    * geometry. */
  val TuneGeoms: Seq[(Int, Int)] = Seq((32, 2), (16, 4), (8, 8))

  /** Band-fold multiplier (the docFingerprint outer-fold constant —
    * distinct from the lane family, only collision-noise-relevant). */
  val TuneFoldMult = 131L

  /** K95: LSH GEOMETRY TUNING — the empirical S-curve table behind
    * C2's banding choice: for each (bands, rows) factoring of the
    * SAME 64-lane MinHash signature, the measured candidate-pair
    * count, true-positive count (exact Jaccard ≥ 0.5 on the capped
    * postings — the K4 truth set), and per-million recall/precision.
    * This is the knob-calibration read a pipeline runs on a NEW
    * corpus before committing a banding geometry (theory says
    * P(candidate) = 1−(1−j^r)^b; this table is what the corpus
    * actually does). One signature pass (the [[minhashSigAgg]]
    * TypedImperativeAggregate) feeds all geometries: band values are
    * integer folds of r consecutive lanes, candidates come from the
    * standard (geometry, band, value)-keyed equi-join — shuffle ∝
    * docs × Σbands, never docs² — and the exact-j verify joins the
    * SAME shared-gram pair frame [[minhashEst]] trusts. Everything
    * that reaches the hash gate is integer (counts and per-million
    * ratios). */
  def minhashBandTune(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.HashFns.P
    val sig = portableSig(s, dir)
    val jp = pairStats(s, dir)
    val nExact = jp.filter(col("j") >= 0.5).agg(count(lit(1)).as("n_exact"))
    val bandFrames = TuneGeoms.map { case (b, r) =>
      val bvs = (0 until b).map { i =>
        (0 until r).foldLeft(lit(0L)) { (acc, k) =>
          pmod(acc * TuneFoldMult + element_at(col("sig"), i * r + k + 1), lit(P))
        }
      }
      sig.select(col("doc_id"), lit(b).as("bands"), lit(r).as("rows_per_band"),
          posexplode(array(bvs: _*)).as(Seq("band_idx", "bv")))
    }
    val bands = bandFrames.reduce(_ unionByName _)
    val cand = bands.as("x")
      .join(bands.as("y"),
        col("x.bands") === col("y.bands") &&
          col("x.band_idx") === col("y.band_idx") &&
          col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.bands").as("bands"), col("x.rows_per_band").as("rows_per_band"),
        col("x.doc_id").as("ia"), col("y.doc_id").as("ib"))
      .distinct()
    val out = cand
      .join(jp.select(col("ia"), col("ib"), col("j")), Seq("ia", "ib"), "left_outer")
      .groupBy(col("bands"), col("rows_per_band"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("j") >= 0.5, 1L).otherwise(0L)).as("n_true"))
      .crossJoin(broadcast(nExact))
      .select(col("bands"), col("rows_per_band"), col("n_candidates"),
        col("n_true"), col("n_exact"),
        expr("(n_true * 1000000) div nullif(n_exact, 0)").as("recall_pm"),
        expr("(n_true * 1000000) div nullif(n_candidates, 0)").as("precision_pm"))
    out
  }

  lazy val minhashBandTuneSql: String = {
    val aList = graft.functions.HashFns.A.mkString("[", ", ", "]")
    val bList = graft.functions.HashFns.B.mkString("[", ", ", "]")
    val geomCtes = TuneGeoms.map { case (b, r) =>
      s"""bands_${b} AS (
         |  SELECT doc_id, $b AS bands, $r AS rows_per_band,
         |    k // $r AS band_idx,
         |    list_reduce(list_prepend(0::BIGINT, list(m ORDER BY k)),
         |      (a, x) -> (a * $TuneFoldMult + x) % ${graft.functions.HashFns.P}) AS bv
         |  FROM sig GROUP BY doc_id, k // $r)""".stripMargin
    }.mkString(",\n")
    val allBands = TuneGeoms.map { case (b, _) => s"SELECT * FROM bands_$b" }
      .mkString("\nUNION ALL ")
    gramsCte + pairsCtes + s""",
      |th AS (
      |  SELECT doc_id, list_reduce(list_prepend(0::BIGINT,
      |      [ascii(c)::BIGINT for c in string_split(gram, '')]),
      |    (a, x) -> (a * 31 + x) % 1000000007) AS h
      |  FROM p2),
      |sig AS (
      |  SELECT doc_id, k, min(($aList[k+1] * h + $bList[k+1]) % ${graft.functions.HashFns.P}) AS m
      |  FROM th, (SELECT unnest(range(${graft.functions.HashFns.NumHashes})) AS k)
      |  GROUP BY 1, 2),
      |$geomCtes,
      |allb AS ($allBands),
      |cand AS (
      |  SELECT DISTINCT x.bands, x.rows_per_band, x.doc_id AS ia, y.doc_id AS ib
      |  FROM allb x JOIN allb y ON x.bands = y.bands AND x.band_idx = y.band_idx
      |    AND x.bv = y.bv AND x.doc_id < y.doc_id),
      |ne AS (SELECT count(*) AS n_exact FROM jp WHERE j >= 0.5),
      |agg AS (
      |  SELECT c.bands, c.rows_per_band, count(*) AS n_candidates,
      |    sum(CASE WHEN jp.j >= 0.5 THEN 1 ELSE 0 END)::BIGINT AS n_true
      |  FROM cand c LEFT JOIN jp ON jp.ia = c.ia AND jp.ib = c.ib
      |  GROUP BY 1, 2)
      |SELECT bands, rows_per_band, n_candidates, n_true, ne.n_exact,
      |  (n_true * 1000000) // nullif(ne.n_exact, 0) AS recall_pm,
      |  (n_true * 1000000) // nullif(n_candidates, 0) AS precision_pm
      |FROM agg, ne""".stripMargin
  }

  /** Containment floor for [[containmentPairs]]. */
  val ContainMin = 0.8

  /** J-line: asymmetric CONTAINMENT pairs — |A∩B| / min(|A|,|B|) ≥
    * [[ContainMin]] — the quote/subset detector Jaccard misses: a
    * short doc fully embedded in a long one has high containment but
    * low Jaccard (union-dominated). Same capped postings join as C4
    * (shuffle ∝ postings, never docs²), different denominator. */
  def containmentPairs(s: SparkSession, dir: String): DataFrame =
    pairStats(s, dir)
      .withColumn("cont",
        col("inter").cast("double") / least(col("sa"), col("sb")))
      .filter(col("cont") >= ContainMin)
      .select(col("ia"), col("ib"), col("inter"),
        col("sa").as("sz_a"), col("sb").as("sz_b"),
        pround(col("cont"), 4).as("containment"))

  val containmentPairsSql: String =
    gramsCte + pairsCtes + "\n" +
      s"""SELECT ia, ib, cnt AS inter, sz_a, sz_b,
         |  floor((cnt::DOUBLE / least(sz_a, sz_b)) * 10000.0 + 0.5) / 10000.0 AS containment
         |FROM jp WHERE cnt::DOUBLE / least(sz_a, sz_b) >= $ContainMin""".stripMargin

  /** C3: SimHash near-dup pairs at hamming ≤ 7. 8×8-bit bands are
    * both the sketch and the LSH bucket keys; any pair at hamming ≤ 7
    * shares ≥1 band (pigeonhole), so candidate generation is exact
    * for the emitted set. Token hashes and bit extraction are the
    * PORTABLE family ([[graft.functions.HashFns.strHash]] +
    * [[graft.functions.HashFns.simBit]]), so the driver's DuckDB
    * oracle replays the sketch bit-for-bit — this was rows-only when
    * the bits came from xxhash64. Recall vs the planted near-dups
    * stays spec-checked. */
  def dedupSimhash(s: SparkSession, dir: String): DataFrame = {
    // sketch via explode + scalar sum-aggregates; persisted (tiny:
    // numBands longs/doc) since it feeds both sides of the self-join
    val toks = documents(s, dir).select(col("doc_id"),
      explode(graft.functions.TextFns.wsTokens(lower(col("text")))).as("t"))
      .select(col("doc_id"), strHash(col("t")).as("h"))
    val sigs = simhashBandsAggPortable(toks, "doc_id", "h", 64, 8)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // carry the full sketch through the band explode so the verify
    // stage needs no extra joins back to sigs
    val bands = sigs.select(col("doc_id"), col("sb"), posexplode(col("sb")))
      .toDF("doc_id", "sb", "idx", "v")
    // hamming BEFORE the dedup shuffle: the skewed buckets of a
    // low-entropy corpus emit millions of candidates, and the 8-xor
    // hamming kills most of them map-side
    val out = bands.as("x")
      .join(bands.as("y"),
        col("x.idx") === col("y.idx") && col("x.v") === col("y.v") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("ia"), col("y.doc_id").as("ib"),
        col("x.sb").as("sba"), col("y.sb").as("sbb"))
      .withColumn("hamming", bandHamming(col("sba"), col("sbb")))
      .filter(col("hamming") <= 7)
      .dropDuplicates("ia", "ib")
      .select(col("ia"), col("ib"), col("hamming"))
      .localCheckpoint() // pair-sized; release the cached sketch
    sigs.unpersist()
    out
  }

  /** C3-wide: the 128-bit simhash variant — 8 bands of 16 bits
    * (65536 buckets per band vs the 64-bit form's 256). The hamming
    * radius scales with the sketch (15/128 ≈ 7/64, the same
    * similarity threshold): radius ≤ 7 is still pigeonhole-guaranteed
    * by the 8 bands; 8-15 is probabilistic (a clean band must exist)
    * with high empirical recall — the Manku-style trade a web-scale
    * corpus makes to keep buckets fine where 16×8-bit banding would
    * fall back to 256 values per band. The 128 bits come from 128
    * portable (SimA, SimB) extractors over one [[graft.functions.HashFns.strHash]]
    * token hash, so this is fully oracle-replayable too (was
    * rows-only under the two xxhash64 lanes); recall vs planted
    * near-dups stays spec-checked like C3's. */
  def dedupSimhashWide(s: SparkSession, dir: String): DataFrame = {
    val toks = documents(s, dir).select(col("doc_id"),
        explode(graft.functions.TextFns.wsTokens(lower(col("text")))).as("t"))
      .select(col("doc_id"), strHash(col("t")).as("h"))
    val sigs = simhashBandsAggPortable(toks, "doc_id", "h", 128, 8)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = sigs.select(col("doc_id"), col("sb"), posexplode(col("sb")))
      .toDF("doc_id", "sb", "idx", "v")
    val out = bands.as("x")
      .join(bands.as("y"),
        col("x.idx") === col("y.idx") && col("x.v") === col("y.v") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("ia"), col("y.doc_id").as("ib"),
        col("x.sb").as("sba"), col("y.sb").as("sbb"))
      .withColumn("hamming", bandHamming(col("sba"), col("sbb")))
      .filter(col("hamming") <= 15)
      .dropDuplicates("ia", "ib")
      .select(col("ia"), col("ib"), col("hamming"))
      .localCheckpoint() // pair-sized; release the cached sketch
    sigs.unpersist()
    out
  }

  /** DuckDB twin of the portable simhash pipeline: token hashes via
    * list_reduce (= [[graft.functions.HashFns.strHash]]), the
    * (SimA, SimB) parity bits as literal arrays, band fold, band-key
    * self-join, per-band xor/bit_count hamming — the same plan the
    * Spark side runs, row for row. */
  private def simhashSql(totalBits: Int, numBands: Int, radius: Int): String = {
    val r = totalBits / numBands
    val aList = graft.functions.HashFns.SimA.take(totalBits).mkString("[", ", ", "]")
    val bList = graft.functions.HashFns.SimB.take(totalBits).mkString("[", ", ", "]")
    val ham = (1 to numBands).map(i => s"bit_count(xor(sba[$i], sbb[$i]))").mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS t
       |  FROM documents),
       |th AS (
       |  SELECT doc_id, list_reduce(list_prepend(0::BIGINT,
       |      [ascii(c)::BIGINT for c in string_split(t, '')]),
       |    (a, x) -> (a * 31 + x) % 1000000007) AS h
       |  FROM toks),
       |bits AS (
       |  SELECT doc_id, k,
       |    sum(CASE WHEN (g * g) % 1000000007 % 2 = 1 THEN 1 ELSE -1 END) AS s
       |  FROM (SELECT doc_id, k, ($aList[k+1] * h + $bList[k+1]) % 1000000007 AS g
       |        FROM th, (SELECT unnest(range($totalBits)) AS k))
       |  GROUP BY 1, 2),
       |bandv AS (
       |  SELECT doc_id, k // $r AS idx,
       |    CAST(sum(CASE WHEN s > 0
       |      THEN (1::BIGINT << CAST(${r - 1} - (k % $r) AS INT)) ELSE 0 END) AS BIGINT) AS v
       |  FROM bits GROUP BY 1, 2),
       |sigs AS (SELECT doc_id, list(v ORDER BY idx) AS sb FROM bandv GROUP BY 1),
       |bands AS (SELECT b.doc_id, sg.sb, b.idx, b.v FROM bandv b JOIN sigs sg USING (doc_id)),
       |cand AS (
       |  SELECT x.doc_id AS ia, y.doc_id AS ib, x.sb AS sba, y.sb AS sbb
       |  FROM bands x JOIN bands y ON x.idx = y.idx AND x.v = y.v AND x.doc_id < y.doc_id)
       |SELECT DISTINCT ia, ib, CAST($ham AS BIGINT) AS hamming
       |FROM cand WHERE ($ham) <= $radius""".stripMargin
  }

  val dedupSimhashSql: String = simhashSql(64, 8, 7)

  val dedupSimhashWideSql: String = simhashSql(128, 8, 15)

  /** C6: near-dup CLUSTERS — connected components over the verified
    * MinHash pairs, then a canonical keeper per cluster (min doc_id).
    * Iterative min-label propagation: each round is a distributed
    * join + min-aggregate; the driver only checks convergence (label
    * changes = 0), it never holds data. Rounds needed = component
    * diameter — near-dup clusters are shallow, so this converges in
    * 2-4 rounds; the hard cap is a runaway guard. */
  /** Edge-count bound under which the converged-component finish
    * runs as a driver-side union-find instead of distributed rounds.
    * Rationale (measured at sf0.1): near-dup components are tiny and
    * shallow — 256 pairs — while ONE distributed label-propagation
    * round costs ~10 s of fixed scheduling/codegen overhead
    * regardless of data. Real CC implementations finish their
    * contracted graphs the same way; past the bound (edge list no
    * longer trivially driver-sized) the iterative path engages. */
  val LocalClusterEdges: Long = 2000000L

  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    dedupClustersOn(s, dir, lshPairsArtifact(s, dir), LocalClusterEdges)

  /** dedup_clusters over a fresh in-query C2 pair sweep, with the
    * local/distributed finish chosen by `localLimit` (DedupSpec drives
    * the distributed rounds with 0). */
  private[graft] def dedupClustersImpl(s: SparkSession, dir: String,
                                       localLimit: Long): DataFrame = {
    val gp = gramPosts(s, dir)
    val out = dedupClustersOn(s, dir, lshPairs(gp), localLimit)
    gp.unpersist()
    out
  }

  private def dedupClustersOn(s: SparkSession, dir: String,
                              pairsIn: DataFrame,
                              localLimit: Long): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val pairs = pairsIn.select(col("ia"), col("ib")).persist(lvl)
    val nPairs = pairs.count() // materialize so upstream caches can go now

    if (nPairs <= localLimit) {
      // driver union-find over the (small) edge list; min id per
      // component for the deterministic canonical label
      val es = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
      pairs.unpersist()
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val members = es.flatMap { case (a, b) => Seq(a, b) }.distinct
      val labelRows = members.map(m => (m, find(m)))
      import s.implicits._
      val fin = labelRows.toSeq.toDF("doc_id", "cluster_id")
      return withSingletons(s, dir, fin)
    }

    val edges = pairs
      .unionByName(pairs.select(col("ib").as("ia"), col("ia").as("ib")))
    // propagate only over pair endpoints — non-members can never
    // change label, so the per-round join/convergence frames shrink
    // from corpus-sized to component-member-sized
    var labels = edges.select(col("ia").as("doc_id")).distinct()
      .withColumn("cluster_id", col("doc_id"))
      .persist(lvl)
    var converged = false
    var rounds = 0
    while (!converged && rounds < 20) {
      val viaNeighbor = edges
        .join(labels.select(col("doc_id").as("ib"), col("cluster_id").as("nl")), "ib")
        .groupBy(col("ia").as("doc_id")).agg(min(col("nl")).as("nl"))
      val next = labels.join(viaNeighbor, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          least(col("cluster_id"), coalesce(col("nl"), col("cluster_id"))).as("cluster_id"))
        .persist(lvl)
      val changed = next.join(labels.withColumnRenamed("cluster_id", "old"), "doc_id")
        .filter(col("cluster_id") =!= col("old")).count() // materializes next
      labels.unpersist() // superseded — next no longer needs it
      labels = next
      if (rounds % 4 == 3) {
        // truncate the accumulated join lineage so plan size and
        // recovery cost stay O(1) across rounds
        val cp = labels.localCheckpoint()
        labels.unpersist()
        labels = cp
      }
      converged = changed == 0
      rounds += 1
    }
    // converged labels are component-member-sized (small); checkpoint
    // them eagerly so every upstream cache can be released before the
    // caller ever materializes the result
    val fin = labels.localCheckpoint()
    labels.unpersist()
    pairs.unpersist()
    withSingletons(s, dir, fin)
  }

  /** Rejoin singleton docs (cluster = own id) and attach sizes. */
  private def withSingletons(s: SparkSession, dir: String, labels: DataFrame): DataFrame = {
    val all = documents(s, dir).select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    val sizes = all.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
    all.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
  }

  val dedupClustersSql: String =
    gramsCte.replaceFirst("WITH ", "WITH RECURSIVE ") + pairsCtes + "," + """
      |p AS (SELECT ia, ib FROM jp WHERE j >= 0.5),
      |e AS (SELECT ia, ib FROM p UNION ALL SELECT ib, ia FROM p),
      |reach AS (
      |  SELECT doc_id AS a, doc_id AS b FROM documents
      |  UNION
      |  SELECT reach.a, e.ib FROM reach JOIN e ON reach.b = e.ia),
      |lab AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a)
      |SELECT doc_id, cluster_id,
      |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
      |FROM lab""".stripMargin

  /** G15: cross-source near-dup resolution — when two docs from
    * different sources are near-duplicates (exact Jaccard ≥ 0.5,
    * same pair set as C2/C4), keep the copy from the
    * higher-priority source (numeric suffix of `source`, lower =
    * higher priority; ties → keep the smaller doc_id). A doc that
    * loses ANY pair is dropped. This is the "prefer curated over
    * crawled" merge a multi-source corpus build runs after pairwise
    * dedup. Emits per-source survivor counts. Shape: the C4 postings
    * join + one broadcast-size join to doc sources + one anti-join —
    * nothing beyond the dedup shuffles it reuses. */
  def mixSources(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val src = docs.select(col("doc_id"),
      col("source").substr(lit(4), lit(8)).cast("int").as("pri"))
    val pairs = ngramJaccard(s, dir).select(col("ia"), col("ib"))
      .join(src.select(col("doc_id").as("ia"), col("pri").as("pa")), "ia")
      .join(src.select(col("doc_id").as("ib"), col("pri").as("pb")), "ib")
    val losers = pairs.select(
      when(col("pa") < col("pb"), col("ib"))
        .when(col("pa") > col("pb"), col("ia"))
        .otherwise(col("ib")) // same priority: keep smaller id (ia < ib)
        .as("doc_id")).distinct()
    docs.join(losers, Seq("doc_id"), "left_anti")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
  }

  val mixSourcesSql: String =
    gramsCte + pairsCtes + "," + """
      |pr AS (SELECT doc_id, CAST(substr(source, 4) AS INT) AS pri, source, n_chars
      |       FROM documents),
      |losers AS (
      |  SELECT DISTINCT CASE WHEN a.pri < b.pri THEN jp.ib
      |                       WHEN a.pri > b.pri THEN jp.ia
      |                       ELSE jp.ib END AS doc_id
      |  FROM jp JOIN pr a ON jp.ia = a.doc_id
      |          JOIN pr b ON jp.ib = b.doc_id
      |  WHERE jp.j >= 0.5)
      |SELECT source, count(*) AS n_docs, sum(n_chars)::BIGINT AS n_chars
      |FROM documents
      |WHERE doc_id NOT IN (SELECT doc_id FROM losers)
      |GROUP BY source""".stripMargin

  /** C5 cosine threshold, blocking factor, and LSH band geometry.
    *
    * Regime math (drives which candidate generator the operator
    * uses): at the verify threshold 0.4 (θ ≈ 66.4°, per-plane agree
    * p ≈ 0.631) recall-1 banding needs 2-bit × 32 bands (per-pair
    * miss ≈ 9e-8) — but a random near-orthogonal pair then still
    * collides in ≥1 band w.p. ≈ 1-(1-0.25)³² ≈ 0.9999, i.e. LSH
    * CANNOT prune a weak threshold (measured at sf0.1: 2.0M of 2.0M
    * pairs survived banding, and the band join + distinct cost 25 s
    * to prune nothing). So the exact operator generates each pair
    * exactly ONCE via a balanced blocked equi-join; the banded-LSH
    * form ([[dedupEmbeddingLsh]]) is the scale path for thresholds
    * high enough to prune (≥ ~0.7, where 8×8 banding kills random
    * pairs at ~1e-5 per band). */
  val CosFloor = 0.4
  val CosBlocks = 32
  val CosBandBits = 2
  val CosBands = 32

  /** C5: embedding-cosine near-dup pairs ≥ [[CosFloor]], exact.
    *
    * All-pairs expressed as a BALANCED COMPOSITE-KEY EQUI-JOIN, not
    * a nested loop: a deterministic vec_id hash assigns each vector
    * to one of [[CosBlocks]] blocks; the left side replicates each
    * vector to keys (its block, b ≥ it), the right side to keys
    * (b ≤ it, its block), so an unordered pair meets on exactly one
    * (block-low, block-high) key — no distinct, no fanout skew
    * (every key yields ≈ (N/blocks)² rows), shuffle ∝ N·blocks.
    * Cosine is computed in double with left-to-right accumulation —
    * bit-identical to the all-pairs oracle. (Exact all-pairs is
    * Θ(N²) dots no matter the plan; this shape makes the work
    * distribute with bounded per-task memory, and CosBlocks scales
    * with N — keep block size ≈ a few hundred. A corpus where N²
    * itself is infeasible uses [[dedupEmbeddingLsh]] at a pruning
    * threshold instead.) */
  def dedupEmbedding(s: SparkSession, dir: String): DataFrame = {
    // norms once per vector (N sqrt-dots), not once per pair (N²/2 ×3):
    // sqrt(dot(a,a))·sqrt(dot(b,b)) is the same doubles either way,
    // so the oracle still matches bit-for-bit
    val e = embeddings(s, dir).select(col("vec_id"), col("embedding"))
      .withColumn("nrm", VecFns.norm(col("embedding")))
      .withColumn("blk", pmod(col("vec_id") * 2654435761L % 1000000007L, lit(CosBlocks)))
    val lhs = e.select(
      col("vec_id").as("va"), col("embedding").as("ea"), col("nrm").as("na"),
      col("blk").as("ba"), explode(sequence(col("blk"), lit(CosBlocks - 1L))).as("bb"))
    val rhs = e.select(
      col("vec_id").as("vb"), col("embedding").as("eb"), col("nrm").as("nb"),
      explode(sequence(lit(0L), col("blk"))).as("ba"), col("blk").as("bb"))
    val denom = col("na") * col("nb")
    // same-block pairs appear in both orders (dedup with va < vb);
    // cross-block pairs appear exactly once, in block order — restore
    // id order with least/greatest (cos is symmetric)
    lhs.join(rhs, Seq("ba", "bb"))
      .filter(col("ba") =!= col("bb") || col("va") < col("vb"))
      .withColumn("cos", when(denom === 0, lit(0.0))
        .otherwise(VecFns.dot(col("ea"), col("eb")) / denom))
      .filter(col("cos") >= CosFloor)
      .select(least(col("va"), col("vb")).as("va"),
        greatest(col("va"), col("vb")).as("vb"),
        pround(col("cos"), 4).as("cos"))
  }

  /** K2 banded-LSH geometry and scenario constants.
    *
    * The r8 lesson (SURVEY §4, r8 VERDICT #3): at the 0.4 verify
    * floor sign-LSH provably cannot prune — any recall-1 band
    * geometry passes ~100% of random pairs, so the band join was
    * pure overhead over C5's blocked exact join (6.7 s warm, slope
    * 8.0, degenerating toward docs² at 100×). The banded operator is
    * therefore REGISTERED where LSH earns its keep: a ≥ [[CosLshFloor]]
    * near-dup hunt with [[CosLshBits]]×[[CosLshBands]] selective
    * bands (planted near-dups at cos ≈ 0.998 collide per band w.p.
    * ≈ 0.7 → miss ≈ 5e-7 over 12 bands — spec-measured FULL recall;
    * random-pair survival ≈ 12/2⁸ ≈ 4.6% — a ~20× candidate cut
    * that widens with narrower thresholds). Because this corpus's
    * organic pairs top out at cos ≈ 0.51, the query runs the
    * scenario such a floor exists for: RE-ENCODE DRIFT dedup —
    * every vector also appears as a re-quantized copy (0.025 grid ≈
    * a 10-bit re-encode, cos ≈ 0.998 against its original, id
    * shifted by [[ReencOffset]]), and the operator must recover
    * original↔re-encode matches from the union corpus WITHOUT
    * touching the N² organic pairs. (Sign-plane agreement runs
    * BELOW the Gaussian 1-θ/π estimate on these Rademacher planes —
    * measured 0.845 vs 0.93 predicted at cos 0.975, recall 97% at a
    * 0.1 grid — hence the tighter grid rather than more bands.) The
    * 0.4-floor recall-1 equality against C5 stays a spec-only study
    * (DedupSpec). */
  val CosLshFloor = 0.7
  val CosLshBits = 8
  val CosLshBands = 12
  val ReencGrid = 40.0
  val ReencOffset = 10000000L

  /** Exact-cosine verify of (va, vb) candidate rows against a
    * (vec_id, embedding) frame — codegen'd [[VecFns.dot]], one
    * double division, pround(…, 4). Norms compute once per side. */
  private def verifyCosPairs(cand: DataFrame, e: DataFrame,
                             floor: Double): DataFrame = {
    val en = e.withColumn("nrm", VecFns.norm(col("embedding")))
    val ex = en.select(col("vec_id").as("va"), col("embedding").as("ea"), col("nrm").as("na"))
    val ey = en.select(col("vec_id").as("vb"), col("embedding").as("eb"), col("nrm").as("nb"))
    val denom = col("na") * col("nb")
    cand.join(ex, "va").join(ey, "vb")
      .withColumn("cos", when(denom === 0, lit(0.0))
        .otherwise(VecFns.dot(col("ea"), col("eb")) / denom))
      .filter(col("cos") >= floor)
      .select(col("va"), col("vb"), pround(col("cos"), 4).as("cos"))
  }

  /** Shared banded sign-LSH cosine pair kernel in its PERMISSIVE-
    * geometry form: portable (t, b) bucket collisions → DISTINCT
    * candidates → exact cosine ≥ floor. Dedup-before-verify is the
    * right order here because permissive bands (the 2-bit × 32
    * recall-1 study geometry) collide nearly every surviving pair in
    * MANY bands — multiplicity ≈ bands — so deduping first saves
    * ~bands× of the verify. The registered selective-band operator
    * ([[dedupEmbeddingLsh]]) makes the OPPOSITE call — see its note.
    * Buckets are [[VecFns.portableBuckets]] (integer-quantized
    * projections, portable signs), so the DuckDB oracle replays the
    * LSH itself — band misses land identically on both engines
    * instead of flaking the gate. */
  private[graft] def bandedCosPairs(e: DataFrame, bits: Int, bands: Int,
                                    floor: Double): DataFrame = {
    // vectors×bands rows (tiny); materialize so the self-join's two
    // sides don't each re-run the bands-wide projection aggregate
    val keys = VecFns.portableBuckets(e, "vec_id", "embedding", bits, bands)
      .localCheckpoint()
    val cand = keys.as("x")
      .join(keys.as("y"),
        col("x.t") === col("y.t") && col("x.b") === col("y.b") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("va"), col("y.vec_id").as("vb"))
      .distinct()
    verifyCosPairs(cand, e, floor)
  }

  /** The original ∪ re-encoded union corpus for [[dedupEmbeddingLsh]]
    * (float-array roundtrip on the quantized copy, mirrored by the
    * oracle's ::FLOAT[] cast). */
  private def reencCorpus(s: SparkSession, dir: String): DataFrame = {
    val orig = embeddings(s, dir).select(col("vec_id"), col("embedding"))
    orig.unionByName(orig.select(
      (col("vec_id") + ReencOffset).as("vec_id"),
      transform(col("embedding"), x =>
        (floor(x.cast("double") * ReencGrid + 0.5) / ReencGrid).cast("float"))
        .as("embedding")))
  }

  /** Per-(t, b) bucket membership cap for [[dedupEmbeddingLsh]] —
    * the JaccAdjCap convention applied to LSH buckets: a degenerate
    * bucket (a tight sub-threshold cluster all sharing one
    * signature) otherwise costs |bucket|² collisions. Rank is a
    * pair-INVARIANT hash of vec_id mod [[ReencOffset]] salted by
    * (t, b), so an original and its re-encode are kept or cut
    * TOGETHER and each band is an independent draw: a planted pair
    * in an n > cap bucket survives that band w.p. ≈ cap/n — even at
    * n = 2·cap the 12-band miss is (1/2)¹² ≈ 2e-4. */
  val BucketCap = 512

  /** K2: banded sign-LSH near-dup pairs at [[CosLshFloor]] over the
    * re-encode-drift union corpus — see the regime note on
    * [[CosLshFloor]]. THE 100 TB path for thresholds that prune.
    *
    * Two deliberate inversions of the permissive-band kernel
    * ([[bandedCosPairs]]), both scale calls:
    * - BUCKET CAP [[BucketCap]] (pair-invariant hash rank) bounds
    *   the quadratic cost of degenerate buckets — without it one
    *   tight cluster sharing a signature costs |cluster|² per band.
    * - VERIFY-THEN-DEDUP: selective bands leave candidate
    *   multiplicity low (≈ 2-3 here), and the codegen'd 64-MAC dot
    *   is cheaper per row than pushing the collision stream through
    *   a distinct exchange — so collisions flow straight from the
    *   bucket join through broadcast-attached vectors into the dot
    *   + floor filter in ONE stage, and only the ~matches-sized
    *   survivor set pays a distinct. (Measured at sf0.1: 6.0M raw
    *   collisions; distinct-first spent ~2.5 s exchanging them,
    *   verify-first runs the whole chain in ~1 s.) With permissive
    *   bands (multiplicity ≈ bands) the trade flips — which is why
    *   the study kernel keeps dedup-first. */
  def dedupEmbeddingLsh(s: SparkSession, dir: String): DataFrame = {
    val corpus = reencCorpus(s, dir)
    val keys = VecFns.portableBuckets(corpus, "vec_id", "embedding",
      CosLshBits, CosLshBands).localCheckpoint()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("t"), col("b"))
      .orderBy(col("hk"), col("vec_id"))
    val capped = keys
      .withColumn("hk",
        ((col("vec_id") % ReencOffset) + col("t") * 1009L + col("b") * 9176L)
          * 2654435761L % 1000000007L)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= BucketCap)
      .select(col("vec_id"), col("t"), col("b"))
    val collisions = capped.as("x")
      .join(capped.as("y"),
        col("x.t") === col("y.t") && col("x.b") === col("y.b") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("va"), col("y.vec_id").as("vb"))
    verifyCosPairs(collisions, corpus, CosLshFloor).distinct()
  }

  /** DuckDB twin of [[dedupEmbeddingLsh]]: the same union corpus,
    * portable buckets, (t, b) collision candidates, exact cosine ≥
    * [[CosLshFloor]]. */
  val dedupEmbeddingLshSql: String =
    s"""WITH corpus AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + $ReencOffset,
       |    list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE) * $ReencGrid + 0.5) / $ReencGrid AS FLOAT))
       |  FROM embeddings),
       |${VecFns.portableBucketsSql(CosLshBits, CosLshBands, "corpus")},
       |ranked AS (
       |  SELECT vec_id, t, b, row_number() OVER (PARTITION BY t, b
       |    ORDER BY ((vec_id % $ReencOffset) + t * 1009 + b * 9176)
       |      * 2654435761 % 1000000007, vec_id) AS rn
       |  FROM buckets),
       |capped AS (SELECT vec_id, t, b FROM ranked WHERE rn <= $BucketCap),
       |cand AS (
       |  SELECT x.vec_id AS va, y.vec_id AS vb
       |  FROM capped x JOIN capped y
       |    ON x.t = y.t AND x.b = y.b AND x.vec_id < y.vec_id
       |  GROUP BY 1, 2)
       |SELECT va, vb, floor((c) * 10000.0 + 0.5) / 10000.0 AS cos FROM (
       |  SELECT va, vb,
       |    list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
       |      (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
       |       sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS c
       |  FROM cand JOIN corpus a ON a.vec_id = cand.va
       |  JOIN corpus b ON b.vec_id = cand.vb)
       |WHERE c >= $CosLshFloor""".stripMargin

  val dedupEmbeddingSql: String =
    """SELECT va, vb, floor((c) * 10000.0 + 0.5) / 10000.0 AS cos FROM (
      |  SELECT a.vec_id AS va, b.vec_id AS vb,
      |    list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
      |      (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
      |       sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS c
      |  FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id)
      |WHERE c >= 0.4""".stripMargin

  /** SemDeDup-style SEMANTIC dedup (Abbas et al. 2023's economy:
    * cluster first, compare only within clusters): k-means labels
    * from [[KMeansIter.assignments]] (two unrolled Lloyd rounds over
    * INTEGER-quantized coordinates — labels replay hash-exact in
    * DuckDB, the I4 trick) block the pair generation, then exact
    * cosine (codegen'd vec_dot, same arithmetic as C5) keeps pairs ≥
    * [[CosFloor]]. Candidate volume is Σ_c |c|² ≈ N²/K instead of
    * N² — the join is cid-keyed (each vector shuffles once, keyed by
    * its cluster), and K grows with N to hold cluster sizes (≈ a few
    * hundred) constant. The price is
    * RECALL: a near-dup pair split across cluster boundaries is
    * missed — the standard SemDeDup trade, bought deliberately where
    * C5's N² blocked join stops being feasible. How much is lost is
    * CORPUS-DEPENDENT (the spec measures it against the exact C5 pair
    * set): this synthetic corpus's pairs are all WEAK (max cos ≈
    * 0.55, barely above the 0.4 floor — the regime LSH provably can't
    * prune either, see [[CosFloor]]), so boundary losses dominate and
    * measured recall sits near 0.3; in SemDeDup's intended regime —
    * true semantic dups, cos → 1 — recall approaches 1 because
    * near-identical vectors get near-identical distances to every
    * centroid and share the argmin (identical vectors provably
    * co-cluster: assignment is a deterministic function of the
    * quantized coordinates). */
  def dedupSemantic(s: SparkSession, dir: String): DataFrame = {
    val lab = KMeansIter.assignments(s, dir).select(col("vec_id"), col("cid"))
    val e = embeddings(s, dir).select(col("vec_id"), col("embedding"))
      .withColumn("nrm", VecFns.norm(col("embedding")))
      .join(lab, "vec_id")
    val lhs = e.select(col("cid"), col("vec_id").as("va"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val rhs = e.select(col("cid"), col("vec_id").as("vb"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    val denom = col("na") * col("nb")
    lhs.join(rhs, Seq("cid"))
      .filter(col("va") < col("vb"))
      .withColumn("cos", when(denom === 0, lit(0.0))
        .otherwise(VecFns.dot(col("ea"), col("eb")) / denom))
      .filter(col("cos") >= CosFloor)
      .select(col("cid"), col("va"), col("vb"), pround(col("cos"), 4).as("cos"))
  }

  /** DuckDB twin: the same integer k-means labels (shared CTEs), the
    * same within-cluster exact cosine. */
  val dedupSemanticSql: String =
    KMeansIter.kmeansCtes + s"""
      |SELECT cid, va, vb, floor((c) * 10000.0 + 0.5) / 10000.0 AS cos FROM (
      |  SELECT la.cid AS cid, a.vec_id AS va, b.vec_id AS vb,
      |    list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
      |      (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
      |       sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS c
      |  FROM a2 la JOIN a2 lb ON la.cid = lb.cid AND la.vec_id < lb.vec_id
      |  JOIN embeddings a ON a.vec_id = la.vec_id
      |  JOIN embeddings b ON b.vec_id = lb.vec_id)
      |WHERE c >= $CosFloor""".stripMargin

  /** dedup_edit blocking-prefix length (chars). */
  val EditPrefix = 16
  /** Per-prefix-block membership cap — the [[DfCap]] convention
    * applied to prefix blocks: a template-generated corpus can put
    * millions of docs behind one 16-char prefix, and an uncapped
    * within-block self-join is quadratic in that block. Deterministic
    * (doc_id-ranked) and inert at verify scale (max block = 10). */
  val EditBlockCap = 1000
  /** Candidate pre-filter: |len(a) − len(b)| ≤ this — edit distance
    * is lower-bounded by the length difference, so larger gaps can
    * never pass the 20% threshold on this corpus' 44-577-char docs. */
  val EditMaxLenDiff = 20
  /** Banded-DP cutoff passed to Spark's 3-arg `levenshtein`: cost
    * O(len·cap) instead of O(len²); any true distance above it
    * surfaces as −1. Chosen ≥ every per-pair threshold reachable at
    * max doc length (577/5 = 115 < 128), so the cutoff never changes
    * the result set — it only bounds the verify cost. */
  val EditBandCap = 128

  /** K-line: EDIT-DISTANCE NEAR-DUP — pairs whose Levenshtein
    * distance is ≤ 20% of the longer text (5·ed ≤ max_len, the
    * integer form). The character-level complement of C4's
    * set-of-shingles Jaccard: catches small in-place edits that keep
    * ordering (typo/boilerplate-patch dups) and is the classic
    * suffix of a blocking pipeline. Candidates block on the first
    * [[EditPrefix]] chars + the length-difference bound, capped at
    * [[EditBlockCap]] docs per block; only candidates pay the
    * banded-DP verify. Recall is corpus-dependent (the C2 framing):
    * edit-dups whose edits touch the first 16 chars are missed by
    * prefix blocking — on this corpus every ≤20% pair shares the
    * prefix (probed at sf0.01: 25/25), so the oracle equality is
    * exact here. Cross-engine note: DuckDB's levenshtein counts
    * BYTES where Spark counts code points — identical on this
    * all-ASCII corpus (probed: 0 non-ASCII docs at sf0.1), which the
    * spec pins; non-ASCII corpora would need a transliteration
    * normalizer first. */
  def dedupEdit(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val d = documents(s, dir)
      .select(col("doc_id"), col("text"), col("n_chars"),
        substring(col("text"), 1, EditPrefix).as("pfx"))
    val capped = d
      .withColumn("rk", row_number().over(
        w.partitionBy(col("pfx")).orderBy(col("doc_id"))))
      .filter(col("rk") <= EditBlockCap).drop("rk")
    // candidate-sized barrier BEFORE the DP: without it Catalyst
    // pushes the edit-distance filter INTO the join condition, where
    // it lands AHEAD of the cheap doc_id/length conjuncts — every
    // same-prefix crossing then pays the full banded DP before the
    // O(1) checks can reject it (measured 8.3 s → 1.5 s at sf0.1).
    // The checkpoint pins the two-phase contract: blocking join
    // first, verify strictly on survivors.
    val cand = capped.as("a")
      .join(capped.as("b"),
        col("a.pfx") === col("b.pfx") && col("a.doc_id") < col("b.doc_id") &&
          abs(col("a.n_chars") - col("b.n_chars")) <= EditMaxLenDiff)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.text").as("ta"), col("b.text").as("tb"),
        greatest(col("a.n_chars"), col("b.n_chars")).as("max_len"))
      .localCheckpoint()
    cand
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("ta"), col("tb"), EditBandCap).as("edit_dist"),
        col("max_len"))
      .filter(col("edit_dist") >= 0 && col("edit_dist") * 5 <= col("max_len"))
  }

  val dedupEditSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, text, n_chars, substr(text, 1, $EditPrefix) AS pfx,
       |    row_number() OVER (PARTITION BY substr(text, 1, $EditPrefix)
       |                       ORDER BY doc_id) AS rk
       |  FROM documents),
       |c AS (SELECT * FROM d WHERE rk <= $EditBlockCap)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  levenshtein(a.text, b.text)::INT AS edit_dist,
       |  greatest(a.n_chars, b.n_chars) AS max_len
       |FROM c a JOIN c b ON a.pfx = b.pfx AND a.doc_id < b.doc_id
       |  AND abs(a.n_chars - b.n_chars) <= $EditMaxLenDiff
       |WHERE levenshtein(a.text, b.text) * 5 <= greatest(a.n_chars, b.n_chars)""".stripMargin

  /** Soft-dedup weight floor, per-mille (every doc keeps a positive
    * sampling weight -- the method down-weights, never removes). */
  val SoftWFloor = 100L

  /** K141: SOFT DEDUPLICATION -- the SoftDeDup reweighting (Xia et
    * al., ACL 2024): instead of REMOVING near-duplicates, down-weight
    * each document's sampling probability by its "data commonness" --
    * how corpus-frequent its n-grams are -- so duplicated mass trains
    * less without the hard-dedup cliff (the paper reports equal-loss
    * speedups over exact removal). Commonness rides the SAME distinct
    * 3-gram postings the C2 family builds ([[rawGramPosts]] -- one
    * kernel, multiple consumers): per doc, the mean floor-log2
    * document frequency of its grams in per-mille
    * (c_pm = Sigma ilog2(df) * 1000 div n_grams, ilog2(x) =
    * length(bin(x)) - 1 -- the dsir_weights fixed-point idiom, exact
    * in both engines; df >= 1 so the log is total). The published
    * monotone-decreasing reweighting maps the corpus commonness range
    * linearly onto [[[SoftWFloor]], 1000] per-mille:
    * w_pm = floor + (cmax - c_pm) * (1000 - floor) div
    * max(cmax - cmin, 1) -- unique docs sample at full weight,
    * the most-common doc at the floor, all exact integers.
    *
    * Scale shape: gram build map-side; the df aggregate and the
    * postings-df join are gram-keyed combining shuffles (the family's
    * documented rows-scale shuffle, carrying 24-byte keys + counters);
    * one doc-keyed sum; the (cmin, cmax) normalizer is a 1-row
    * broadcast scalar frame. Nothing pairwise -- this is the whole
    * point: soft dedup costs ONE postings pass where hard dedup pays
    * candidate generation + verify. */
  def softDedup(s: SparkSession, dir: String): DataFrame = {
    // two consumers (df aggregate + the postings-df join) — persist
    // so the gram build runs once (the gramPosts convention)
    val posts = rawGramPosts(documents(s, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val df = posts.groupBy(col("gram")).agg(count(lit(1)).as("df"))
    val perDoc = posts.join(df, "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(expr("length(bin(df)) - 1")).as("c_sum"))
      .withColumn("commonness_pm", expr("(c_sum * 1000) div n_grams"))
    val range = perDoc.agg(min(col("commonness_pm")).as("cmin"),
      max(col("commonness_pm")).as("cmax"))
    perDoc.crossJoin(broadcast(range)) // 1-row scalar frame
      .select(col("doc_id"), col("n_grams"), col("commonness_pm"),
        expr(s"$SoftWFloor + ((cmax - commonness_pm) * ${1000 - SoftWFloor}) div greatest(cmax - cmin, 1)")
          .cast("long").as("weight_pm"))
  }

  val softDedupSql: String =
    s"""$gramsCte,
       |posts AS (SELECT doc_id, unnest(gs) AS gram FROM g),
       |dfq AS (SELECT gram, count(*) AS df FROM posts GROUP BY 1),
       |per AS (
       |  SELECT doc_id, count(*)::BIGINT AS n_grams,
       |    sum(length(bin(df)) - 1)::BIGINT AS c_sum
       |  FROM posts JOIN dfq USING (gram) GROUP BY 1),
       |pm AS (
       |  SELECT doc_id, n_grams,
       |    (c_sum * 1000 // n_grams)::BIGINT AS commonness_pm
       |  FROM per),
       |r AS (
       |  SELECT min(commonness_pm) AS cmin, max(commonness_pm) AS cmax FROM pm)
       |SELECT doc_id, n_grams, commonness_pm,
       |  ($SoftWFloor + ((cmax - commonness_pm) * ${1000 - SoftWFloor})
       |    // greatest(cmax - cmin, 1))::BIGINT AS weight_pm
       |FROM pm, r""".stripMargin

  /** CDC window (bytes of rolling context) and boundary mask modulus
    * (expected chunk length ≈ the modulus). */
  val CdcWin = 8
  val CdcMask = 32L

  /** K147: CONTENT-DEFINED CHUNKING — the LBFS/Rabin chunking
    * (Muthitacharoen et al., SOSP 2001) that restic/borg-class blob
    * stores and dataset-snapshot systems run under every large
    * corpus: cut each payload where a rolling window hash hits a
    * mask (h mod [[CdcMask]] = 0 over the trailing [[CdcWin]]
    * bytes), so boundaries follow CONTENT — an insertion reshifts
    * only its own chunk's cuts, and identical spans across documents
    * land in identical chunks (fixed-size blocks would lose
    * alignment after one byte). FastCDC's min/max-size
    * normalization is the production refinement deliberately
    * dropped here: it makes cuts sequential; the bare mask keeps
    * every boundary an independent map-side predicate. Chunks then
    * dedup by content hash — the corpus-level CAS ledger: chunks,
    * unique chunks, bytes, reclaimable duplicate bytes, the hottest
    * chunk's copy count, mean chunk length in per-mille bytes.
    *
    * Scale shape: boundary detection and chunk slicing are map-ONLY
    * array algebra per document (window hash = the shared
    * str_poly_hash fold over an 8-byte slice; chunk partition proven
    * by Σlen = payload len, spec-pinned); the ONLY rows-scale
    * shuffle is the (hash)-keyed combining aggregate over 16-byte
    * keys + counters — payloads never shuffle, exactly the mm_dedup
    * posture at chunk granularity. */
  def cdcChunks(s: SparkSession, dir: String): DataFrame = {
    val t = col("t")
    // the codegen'd [[graft.plans.CdcBoundaries]] prefix-hash kernel:
    // bit-identical to the per-position HOF-filter scan (DedupSpec's
    // oracle), without its substring allocation per position
    val bounds = call_function("cdc_boundaries", t, lit(CdcWin.toLong), lit(CdcMask))
    val chunks = documents(s, dir)
      .select(col("doc_id"), col("text").as("t"),
        length(col("text")).cast("long").as("len"))
      .withColumn("cuts", concat(array(lit(0L)), bounds, array(col("len"))))
      .select(col("doc_id"), t,
        explode(zip_with(
          slice(col("cuts"), lit(1), size(col("cuts")) - 1),
          slice(col("cuts"), lit(2), size(col("cuts")) - 1),
          (a, b) => struct(a.as("a"), b.as("b")))).as("c"))
      .select(col("doc_id"),
        md5(t.substr((col("c.a") + 1).cast("int"),
          (col("c.b") - col("c.a")).cast("int")).cast("binary")).as("h"),
        (col("c.b") - col("c.a")).as("l"))
    val byHash = chunks.groupBy(col("h"))
      .agg(count(lit(1)).as("copies"), sum(col("l")).as("bytes_all"),
        min(col("l")).as("bytes_one"))
    byHash.agg(
      sum(col("copies")).as("n_chunks"),
      count(lit(1)).as("n_unique"),
      sum(col("bytes_all")).as("total_bytes"),
      sum(col("bytes_all") - col("bytes_one")).as("dup_bytes"),
      max(col("copies")).as("max_copies"))
      .select(col("n_chunks"), col("n_unique"), col("total_bytes"),
        col("dup_bytes"), col("max_copies"),
        expr("(total_bytes * 1000) div n_chunks").as("avg_chunk_len_pm"))
  }

  val cdcChunksSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, text AS t, length(text)::BIGINT AS len FROM documents),
       |b AS (
       |  SELECT doc_id, t, len,
       |    [0::BIGINT] ||
       |    [i for i in range($CdcWin::BIGINT, len) if
       |       list_reduce(list_prepend(0::BIGINT,
       |         [ascii(c)::BIGINT for c in list_filter(
       |            string_split(substr(t, (i - ${CdcWin - 1})::INT, $CdcWin), ''),
       |            c -> c <> '')]),
       |         (a, x) -> (a * 31 + x) % 1000000007) % $CdcMask = 0]
       |    || [len] AS cuts
       |  FROM d),
       |ci AS (
       |  SELECT doc_id, t, cuts, unnest(range(1, len(cuts)))::BIGINT AS i FROM b),
       |ch AS (
       |  SELECT doc_id,
       |    md5(substr(t, (cuts[i] + 1)::INT, (cuts[i + 1] - cuts[i])::INT)) AS h,
       |    cuts[i + 1] - cuts[i] AS l
       |  FROM ci),
       |g AS (
       |  SELECT h, count(*) AS copies, sum(l)::BIGINT AS bytes_all,
       |    min(l) AS bytes_one
       |  FROM ch GROUP BY 1)
       |SELECT sum(copies)::BIGINT AS n_chunks, count(*)::BIGINT AS n_unique,
       |  sum(bytes_all)::BIGINT AS total_bytes,
       |  sum(bytes_all - bytes_one)::BIGINT AS dup_bytes,
       |  max(copies)::BIGINT AS max_copies,
       |  (sum(bytes_all) * 1000 // sum(copies))::BIGINT AS avg_chunk_len_pm
       |FROM g""".stripMargin
}
