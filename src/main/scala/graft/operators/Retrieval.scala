package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Portable.pround
import graft.functions.VecFns
import graft.queries.TextOps

/** Hybrid-retrieval rank fusion (SURVEY.md §2 K109) — the RAG-stack
  * consumer that ties the text family (G10 BM25) to the vector family
  * (D1 exact cosine): retrieve top-[[RfDepth]] candidates per leg for
  * one query (keyword terms for the lexical leg, a query embedding
  * for the semantic leg), then fuse with Reciprocal Rank Fusion
  * (Cormack et al., SIGIR'09): score(d) = Σ_legs 1/(k + rank_leg(d)).
  *
  * Engine-portability: RRF contributions are EXACT INTEGERS —
  * [[RrfScale]] div (k + rank) in BIGINT on both engines (the
  * cross-multiplied-threshold convention) — so the fused order and
  * the hash never touch a float; leg ranks order by the ×10⁴-rounded
  * leg scores with doc_id tiebreak, making the candidate cuts
  * deterministic too.
  *
  * Scale: per-leg retrieval is the indexable stage — at 100 TB the
  * lexical leg reads the persisted inverted index (K5 build_index)
  * and the vector leg swaps to IVF/PQ (D3/K72) exactly as H7→K1
  * swaps kNN legs; this operator's exact legs are the oracle-able
  * baselines (the D1 contract). Fusion itself is candidate-sized:
  * a 2×[[RfDepth]]-row union, one rank window partitioned by leg
  * (≤ [[RfDepth]] rows per partition), one group-by-doc pivot, and a
  * TakeOrderedAndProject cut — nothing after the legs scales with the
  * corpus. Each leg's own cut plans as TakeOrderedAndProject
  * (per-partition heaps), not a global sort.
  */
object Retrieval {

  /** Candidate depth per retrieval leg. */
  val RfDepth = 50
  /** RRF smoothing constant (the standard k = 60). */
  val RrfK = 60
  /** Integer RRF scale: contribution = RrfScale div (RrfK + rank). */
  val RrfScale = 1000000000L
  /** Fused result size. */
  val FusedK = 20
  /** The query: [[TextOps.Bm25Query]] terms lexically; this vector's
    * embedding semantically (its doc is excluded from both legs). */
  val QVec = 0

  /** K109: RRF fusion of the BM25 and cosine top-[[RfDepth]] lists. */
  def rankFusion(s: SparkSession, dir: String): DataFrame = {
    val lexTop = TextOps.bm25Scored(s, dir)
      .filter(col("doc_id") =!= QVec)
      .orderBy(col("score").desc, col("doc_id")).limit(RfDepth)
      .select(col("doc_id"), col("score"), lit("lex").as("leg"))
    val q = embeddings(s, dir).filter(col("vec_id") === QVec)
      .select(col("embedding").as("qe"),
        VecFns.norm(col("embedding")).as("qn"))
    // query-norm multiplies FIRST (qn * ‖e‖) — the oracle's operand
    // order, so the cosine doubles agree bit-for-bit
    val vecTop = embeddings(s, dir).filter(col("vec_id") =!= QVec)
      .crossJoin(broadcast(q)) // 1-row scalar frame
      .select(col("vec_id").as("doc_id"),
        pround(VecFns.dot(col("qe"), col("embedding")) /
          (col("qn") * VecFns.norm(col("embedding"))), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(RfDepth)
      .select(col("doc_id"), col("score"), lit("vec").as("leg"))
    // one pass: rank within each leg, then pivot ranks per doc — the
    // union is evaluated once (a per-leg re-filter would re-run the
    // corpus-scale BM25 plan twice)
    val ranked = lexTop.unionByName(vecTop)
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("leg"))
          .orderBy(col("score").desc, col("doc_id"))))
    ranked.groupBy(col("doc_id"))
      .agg(
        coalesce(max(when(col("leg") === "lex", col("rnk"))), lit(0))
          .cast("long").as("lex_rank"),
        coalesce(max(when(col("leg") === "vec", col("rnk"))), lit(0))
          .cast("long").as("vec_rank"))
      .withColumn("rrf_q",
        expr(s"(case when lex_rank > 0 then ${RrfScale}L div ($RrfK + lex_rank) else 0L end)" +
          s" + (case when vec_rank > 0 then ${RrfScale}L div ($RrfK + vec_rank) else 0L end)"))
      .orderBy(col("rrf_q").desc, col("doc_id"))
      .limit(FusedK)
      .select(col("doc_id"), col("lex_rank"), col("vec_rank"), col("rrf_q"))
  }

  val rankFusionSql: String =
    s"""WITH ${TextOps.bm25ScoredCtes},
       |lexl AS (
       |  SELECT doc_id, rnk FROM (
       |    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
       |    FROM bscore WHERE doc_id <> $QVec)
       |  WHERE rnk <= $RfDepth),
       |vsc AS (
       |  SELECT e.vec_id AS doc_id,
       |    floor((list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) /
       |      (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
       |       sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])))) * 10000.0 + 0.5) / 10000.0 AS score
       |  FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = $QVec) q
       |  WHERE e.vec_id <> $QVec),
       |vecl AS (
       |  SELECT doc_id, rnk FROM (
       |    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
       |    FROM vsc)
       |  WHERE rnk <= $RfDepth),
       |u AS (SELECT doc_id, 'lex' AS leg, rnk FROM lexl
       |      UNION ALL SELECT doc_id, 'vec' AS leg, rnk FROM vecl),
       |f AS (
       |  SELECT doc_id,
       |    coalesce(max(CASE WHEN leg = 'lex' THEN rnk END), 0)::BIGINT AS lex_rank,
       |    coalesce(max(CASE WHEN leg = 'vec' THEN rnk END), 0)::BIGINT AS vec_rank
       |  FROM u GROUP BY doc_id)
       |SELECT doc_id, lex_rank, vec_rank,
       |  ((CASE WHEN lex_rank > 0 THEN $RrfScale // ($RrfK + lex_rank) ELSE 0 END)
       | + (CASE WHEN vec_rank > 0 THEN $RrfScale // ($RrfK + vec_rank) ELSE 0 END))::BIGINT AS rrf_q
       |FROM f ORDER BY rrf_q DESC, doc_id LIMIT $FusedK""".stripMargin

  /** bitext_mine neighborhood size (the paper's k). */
  val BtK = 4
  /** y-side block count for the balanced cross-pair equi-join. */
  val BtBlocks = 16
  /** Margin admission floor, per-mille: 1000 = the candidate's cosine
    * clears the average of the two points' own top-[[BtK]]
    * neighborhoods (ratio ≥ 1) — measured on the driver corpus the
    * best-per-y margins span 907-1426‰, so the floor splits
    * mismatches from genuine nearest pairs. */
  val BtMarginFloor = 1000L

  /** K135: MARGIN-BASED BITEXT MINING — the published CCMatrix /
    * WikiMatrix pair-mining step (Artetxe & Schwenk, ACL 2019;
    * Schwenk et al., 2021) that built the largest public translation
    * corpora: a cross-lingual pair (x, y) is a translation candidate
    * not when its cosine is high absolutely, but when it is high
    * RELATIVE to each point's own neighborhood — margin(x,y) =
    * cos(x,y) / (mean of x's top-k cosines + mean of y's top-k)/2,
    * which cancels the hubness that wrecks raw-threshold mining.
    * Sides here: lang='en' docs vs every non-en doc (embeddings
    * aligned by vec_id = doc_id, the K109 convention); each non-en
    * doc reports its best en candidate, admitted iff margin ≥
    * [[BtMarginFloor]].
    *
    * Portability: candidates are the cos > 0 pairs (a non-positive
    * cosine is never a translation hypothesis), scored on the ×10⁴
    * half-up lattice c4 — so every sum, rank and division downstream
    * is non-negative-integer (margin_pm = 2k·c4·1000 div
    * (Σtop-k(x) + Σtop-k(y)): truncation = floor, engines agree),
    * and ranks tie-break on ids. cos itself is the vec_dot double
    * with the oracle's operand order.
    *
    * Scale shape: the exact all-pairs scoring is the DECLARED Θ(N²)
    * oracle baseline of the D-family contract (the registered scale
    * path swaps candidate generation to the K1/K2 banded-LSH or D3
    * IVF forms); it distributes via the C5 trick adapted to a
    * BIPARTITE set — y hashes to [[BtBlocks]] blocks, x replicates
    * across them, so every pair meets on exactly one key, every key
    * carries ≈ |pairs|/blocks rows, shuffle ∝ Nx·blocks + Ny. The
    * pair frame persists once and feeds both neighborhood windows
    * and the final rank (the multi-consumer lineage rule). */
  def bitextMine(s: SparkSession, dir: String): DataFrame = {
    val lang = documents(s, dir).select(col("doc_id"), col("lang"))
    val e = embeddings(s, dir).join(lang, col("vec_id") === col("doc_id"))
      .select(col("vec_id"), col("embedding"), col("lang"),
        VecFns.norm(col("embedding")).as("nrm"))
    val xs = e.filter(col("lang") === "en").select(
      col("vec_id").as("va"), col("embedding").as("ea"), col("nrm").as("na"),
      explode(sequence(lit(0L), lit(BtBlocks - 1L))).as("bb"))
    val ys = e.filter(col("lang") =!= "en").select(
      col("vec_id").as("vb"), col("embedding").as("eb"), col("nrm").as("nb"),
      col("lang"),
      pmod(col("vec_id") * 2654435761L % 1000000007L, lit(BtBlocks)).as("bb"))
    val denom = col("na") * col("nb")
    val pairs = xs.join(ys, Seq("bb"))
      .withColumn("cos", when(denom === 0, lit(0.0))
        .otherwise(VecFns.dot(col("ea"), col("eb")) / denom))
      .withColumn("c4", floor(col("cos") * 10000 + 0.5).cast("long"))
      .filter(col("c4") > 0)
      .select(col("va"), col("vb"), col("lang"), col("c4"))
    marginMine(pairs)
  }

  /** The CCMatrix margin computation over a (va, vb, lang, c4)
    * candidate-pair frame — the SHARED downstream both candidate
    * legs feed (the H7→K1 swap contract): [[bitextMine]]'s exact
    * bipartite blocked join and [[bitextMineLsh]]'s sign-LSH bucket
    * collisions produce the same pair schema, and everything from
    * the top-k neighborhood sums to the per-y best-margin admission
    * is this one function. The ∝-non-en-docs result is
    * localCheckpointed. */
  private[graft] def marginMine(pairsIn: DataFrame): DataFrame =
    marginFrame(pairsIn).localCheckpoint() // ∝ non-en docs

  /** The un-checkpointed [[marginMine]] plan. Each side's top-[[BtK]]
    * neighborhood sum is a conditional window sum SHARING the rank
    * window's partition key, and the best-margin pick rides the vb
    * partitioning the syb window just established — the pair frame
    * flows ONCE through hash(va) then hash(vb) (2 exchanges, 0 joins,
    * no persist) where the rank-filter-group-rejoin form paid 5
    * pair-frame exchanges plus a cache round-trip (r13 ABProbe
    * `margin`; plans/r13/bitext_mine_lsh_*.txt). sum(c4 | rank ≤ K)
    * over the partition equals the filtered groupBy. */
  private[graft] def marginFrame(pairsIn: DataFrame): DataFrame = {
    val wxO = Window.partitionBy(col("va")).orderBy(col("c4").desc, col("vb"))
    val wxA = Window.partitionBy(col("va"))
    val wyO = Window.partitionBy(col("vb")).orderBy(col("c4").desc, col("va"))
    val wyA = Window.partitionBy(col("vb"))
    val wBest = Window.partitionBy(col("vb"))
      .orderBy(col("margin_pm").desc, col("va"))
    pairsIn
      .withColumn("rx", row_number().over(wxO))
      .withColumn("sxa", sum(when(col("rx") <= BtK, col("c4"))).over(wxA))
      .withColumn("ry", row_number().over(wyO))
      .withColumn("syb", sum(when(col("ry") <= BtK, col("c4"))).over(wyA))
      .withColumn("margin_pm",
        expr(s"(${2 * BtK}L * c4 * 1000) div (sxa + syb)"))
      .withColumn("r", row_number().over(wBest))
      .filter(col("r") === 1 && col("margin_pm") >= BtMarginFloor)
      .select(col("vb"), col("lang"), col("va"),
        col("c4").as("cos_q4"), col("margin_pm"))
  }

  /** K135-LSH: the REGISTERED index-side swap for [[bitextMine]]
    * (r11 VERDICT item 4 — every other D/K-family exact baseline has
    * one): candidate (x, y) pairs come from shared (table, bucket)
    * sign-LSH keys ([[VecFns.portableBuckets]], the D2/K1 bucket
    * pipeline) instead of the Θ(Nx·Ny) bipartite blocked join;
    * scoring, the top-[[BtK]] neighborhood sums and the per-y
    * best-margin admission are the UNCHANGED [[marginMine]]. The
    * neighborhoods are computed over the RETRIEVED candidates —
    * exactly how the published pipelines deploy (CCMatrix mines
    * margins over FAISS-retrieved neighborhoods, never all pairs) —
    * so margins can differ from the exact leg where a bucket misses
    * a neighbor; the recall spec pins how much. Candidate volume is
    * Σ_t Σ_b n_b(x)·n_b(y) — bounded by bucket occupancy, not the
    * bipartite product; at 100 TB widen [[graft.operators.Ann.LshBits]]
    * / add tables exactly as the K1 contract documents. Buckets for
    * BOTH sides come from ONE projection pass over the corpus (the
    * vectors×tables frame is tiny — localCheckpoint'd, the K1
    * convention), and the DuckDB oracle replays the whole pipeline
    * since the buckets are the portable integer projections. */
  def bitextMineLsh(s: SparkSession, dir: String): DataFrame =
    marginMine(bitextLshPairs(s, dir))

  private[graft] def bitextLshPairs(s: SparkSession, dir: String): DataFrame = {
    val lang = documents(s, dir).select(col("doc_id"), col("lang"))
    val e = embeddings(s, dir).join(lang, col("vec_id") === col("doc_id"))
      .select(col("vec_id"), col("embedding"), col("lang"),
        VecFns.norm(col("embedding")).as("nrm"))
    val b = VecFns.portableBuckets(e, "vec_id", "embedding",
        Ann.LshBits, Ann.LshTables)
      .join(e.select(col("vec_id"), col("lang")), "vec_id")
      .localCheckpoint() // vectors×tables rows (tiny)
    val cand = b.filter(col("lang") === "en").as("x")
      .join(b.filter(col("lang") =!= "en").as("y"),
        col("x.t") === col("y.t") && col("x.b") === col("y.b"))
      .select(col("x.vec_id").as("va"), col("y.vec_id").as("vb"))
      .distinct()
    val xs = e.filter(col("lang") === "en").select(
      col("vec_id").as("va"), col("embedding").as("ea"), col("nrm").as("na"))
    val ys = e.filter(col("lang") =!= "en").select(
      col("vec_id").as("vb"), col("embedding").as("eb"), col("nrm").as("nb"),
      col("lang"))
    val denom = col("na") * col("nb")
    val pairs = cand.join(xs, "va").join(ys, "vb")
      .withColumn("cos", when(denom === 0, lit(0.0))
        .otherwise(VecFns.dot(col("ea"), col("eb")) / denom))
      .withColumn("c4", floor(col("cos") * 10000 + 0.5).cast("long"))
      .filter(col("c4") > 0)
      .select(col("va"), col("vb"), col("lang"), col("c4"))
    pairs
  }

  /** Margin-tail CTEs shared by both oracle legs — the literal
    * replay of [[marginMine]]; expects a CTE `p` with
    * (va, vb, lang, c4). */
  private lazy val bitextMarginSqlTail: String =
    s"""pp AS (SELECT * FROM p WHERE c4 > 0),
       |sx AS (
       |  SELECT va, sum(c4)::BIGINT AS sxa FROM (
       |    SELECT va, c4, row_number() OVER (PARTITION BY va ORDER BY c4 DESC, vb) AS r
       |    FROM pp)
       |  WHERE r <= $BtK GROUP BY 1),
       |sy AS (
       |  SELECT vb, sum(c4)::BIGINT AS syb FROM (
       |    SELECT vb, c4, row_number() OVER (PARTITION BY vb ORDER BY c4 DESC, va) AS r
       |    FROM pp)
       |  WHERE r <= $BtK GROUP BY 1),
       |m AS (
       |  SELECT pp.vb, pp.lang, pp.va, pp.c4,
       |    (${2 * BtK} * c4 * 1000) // (sxa + syb) AS margin_pm
       |  FROM pp JOIN sx USING (va) JOIN sy USING (vb))
       |SELECT vb, lang, va, c4 AS cos_q4, margin_pm FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vb ORDER BY margin_pm DESC, va) AS r
       |  FROM m)
       |WHERE r = 1 AND margin_pm >= $BtMarginFloor""".stripMargin

  lazy val bitextMineSql: String =
    s"""WITH docs AS (SELECT doc_id, lang FROM documents),
       |x AS (
       |  SELECT vec_id AS va, embedding AS ea FROM embeddings
       |  JOIN docs ON doc_id = vec_id WHERE lang = 'en'),
       |y AS (
       |  SELECT vec_id AS vb, embedding AS eb, lang FROM embeddings
       |  JOIN docs ON doc_id = vec_id WHERE lang <> 'en'),
       |p AS (
       |  SELECT va, vb, lang,
       |    CAST(floor(list_dot_product(ea::DOUBLE[], eb::DOUBLE[]) /
       |      (sqrt(list_dot_product(ea::DOUBLE[], ea::DOUBLE[])) *
       |       sqrt(list_dot_product(eb::DOUBLE[], eb::DOUBLE[])))
       |      * 10000 + 0.5) AS BIGINT) AS c4
       |  FROM x, y),
       |$bitextMarginSqlTail""".stripMargin

  lazy val bitextMineLshSql: String =
    s"""WITH ${VecFns.portableBucketsSql(Ann.LshBits, Ann.LshTables)},
       |docs AS (SELECT doc_id, lang FROM documents),
       |x AS (
       |  SELECT vec_id AS va, embedding AS ea FROM embeddings
       |  JOIN docs ON doc_id = vec_id WHERE lang = 'en'),
       |y AS (
       |  SELECT vec_id AS vb, embedding AS eb, lang FROM embeddings
       |  JOIN docs ON doc_id = vec_id WHERE lang <> 'en'),
       |cand AS (
       |  SELECT bx.vec_id AS va, bb.vec_id AS vb
       |  FROM buckets bx JOIN buckets bb ON bx.t = bb.t AND bx.b = bb.b
       |  JOIN docs dx ON dx.doc_id = bx.vec_id
       |  JOIN docs dy ON dy.doc_id = bb.vec_id
       |  WHERE dx.lang = 'en' AND dy.lang <> 'en'
       |  GROUP BY 1, 2),
       |p AS (
       |  SELECT va, vb, lang,
       |    CAST(floor(list_dot_product(ea::DOUBLE[], eb::DOUBLE[]) /
       |      (sqrt(list_dot_product(ea::DOUBLE[], ea::DOUBLE[])) *
       |       sqrt(list_dot_product(eb::DOUBLE[], eb::DOUBLE[])))
       |      * 10000 + 0.5) AS BIGINT) AS c4
       |  FROM cand JOIN x USING (va) JOIN y USING (vb)),
       |$bitextMarginSqlTail""".stripMargin

  /** MMR: λ in tenths (0.7 relevance / 0.3 diversity — the paper's
    * headline setting), picks per query, candidate pool depth. */
  val MmrLambda10 = 7L
  val MmrK = 5
  val MmrC = 20

  /** K148: MMR DIVERSIFICATION — Maximal Marginal Relevance
    * (Carbonell & Goldstein, SIGIR 1998), the result-diversification
    * step RAG stacks run between retrieval and the context window:
    * from each query's top-[[MmrC]] cosine candidates, greedily pick
    * [[MmrK]] maximizing λ·rel(c) − (1−λ)·max_{s∈S} sim(c,s) — the
    * first pick is pure relevance, every later pick is penalized by
    * its similarity to what is ALREADY in the context, so near-dup
    * passages stop crowding out coverage. All arithmetic on the ×10⁴
    * half-up lattice (the bitext_mine convention): score =
    * [[MmrLambda10]]·rel4 − 3·maxsim4 in BIGINT, argmax tie-broken
    * by nb — engine-exact, so the greedy TRAJECTORY (not just the
    * set) rides the hash gate. The greedy loop is inherently
    * sequential in [[MmrK]]; it unrolls as [[MmrK]] dataframe rounds
    * (the bpe_train iterative contract — K is a constant, never
    * data-scale).
    *
    * Shape: candidate generation is the D-family exact baseline
    * (probes broadcast, one corpus scan; IVF/PQ swap at scale);
    * candidates AND their pairwise sims persist once
    * (probe-set-sized: ≤ C·|probes| and C²·|probes| rows), and every
    * round is an integer join + argmax window over those persisted
    * frames — nothing after the scan touches the corpus. */
  def mmrDiversify(s: SparkSession, dir: String): DataFrame = {
    // the candidate scores and their pairwise sims are ≤ C·|probes|
    // and C·(C−1)·|probes| rows BY CONSTRUCTION, corpus-size-free
    // after the top-C window, so the [[MmrK]]-round greedy argmax runs
    // locally over them (the markov_attribution bounded-collect
    // convention). ALL float math stays distributed; only the integer
    // greedy moves, so rows match the relational greedy (MmrK
    // sequential join+window+checkpoint barriers, RetrievalSpec's
    // oracle) bit-for-bit.
    val (cands, pairs) = mmrCandsPairs(s, dir)
    val out = mmrGreedyLocal(s,
      cands.select(col("qid"), col("nb"), col("rel4")), pairs)
    cands.unpersist(); pairs.unpersist()
    out
  }

  /** The distributed half of [[mmrDiversify]] — top-[[MmrC]]
    * cosine candidates per probe (broadcast probes, one corpus scan)
    * and their pairwise sims, both persisted (probe-set-sized). */
  private[graft] def mmrCandsPairs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import graft.operators.Ann
    val lat = (c: org.apache.spark.sql.Column) =>
      floor(c * 10000 + 0.5).cast("long")
    // top-C cosine candidates per probe, embeddings kept for sims
    val qs = embeddings(s, dir).filter(col("vec_id") < Ann.NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .withColumn("qn", VecFns.norm(col("qe")))
    val scored = embeddings(s, dir)
      .select(col("vec_id").as("nb"), col("embedding").as("ne"))
      .withColumn("nn", VecFns.norm(col("ne")))
      .join(broadcast(qs), col("nb") =!= col("qid"))
      .withColumn("cos", when(col("qn") * col("nn") === 0, lit(0.0))
        .otherwise(VecFns.dot(col("qe"), col("ne")) / (col("qn") * col("nn"))))
    val wq = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nb"))
    val cands = scored
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= MmrC)
      .select(col("qid"), col("nb"), lat(col("cos")).as("rel4"), col("ne"), col("nn"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = cands.select(col("qid"), col("nb").as("a"),
      col("ne").as("ea"), col("nn").as("na"))
    val b = cands.select(col("qid"), col("nb").as("b"),
      col("ne").as("eb"), col("nn").as("nb2"))
    val pairs = a.join(b, Seq("qid")).filter(col("a") =!= col("b"))
      .withColumn("sim4", lat(when(col("na") * col("nb2") === 0, lit(0.0))
        .otherwise(VecFns.dot(col("ea"), col("eb")) / (col("na") * col("nb2")))))
      .select(col("qid"), col("a"), col("b"), col("sim4"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (cands, pairs)
  }

  /** Driver-side twin of the [[MmrK]]-round greedy over the SAME
    * prepared (qid, nb, rel4) candidates and (qid, a, b, sim4) sims:
    * identical integer lattice, identical (score DESC, nb ASC)
    * argmax, identical round-r pool algebra — returns the same
    * (qid, nb, rnk, score) rows. */
  private[graft] def mmrGreedyLocal(s: SparkSession, cands: DataFrame,
                                    pairs: DataFrame): DataFrame = {
    import s.implicits._
    val cs = cands.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nb"), r.getAs[Long]("rel4")))
    val ps = pairs.collect()
      .map(r => ((r.getAs[Long]("qid"), r.getAs[Long]("a"), r.getAs[Long]("b")),
        r.getAs[Long]("sim4"))).toMap
    val byQid = cs.groupBy(_._1)
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]()
    for ((qid, all) <- byQid) {
      val selected = scala.collection.mutable.ArrayBuffer[Long]()
      for (r <- 1 to MmrK) {
        val pool = all.filterNot { case (_, nb, _) => selected.contains(nb) }
        if (pool.nonEmpty) {
          val scored = pool.map { case (_, nb, rel4) =>
            val ms =
              if (r == 1) 0L // round 1 is pure relevance (S empty)
              else selected.map(b => ps.getOrElse((qid, nb, b), 0L)).max
            (nb, MmrLambda10 * rel4 - (10 - MmrLambda10) * ms)
          }
          val (nb, score) = scored.minBy { case (n, sc) => (-sc, n) }
          out += ((qid, nb, r.toLong, score))
          selected += nb
        }
      }
    }
    out.sortBy(t => (t._1, t._3)).toSeq.toDF("qid", "nb", "rnk", "score")
  }

  val mmrDiversifySql: String = {
    val rounds = (2 to MmrK).map { r =>
      s"""m$r AS (
         |  SELECT p.qid, p.a AS nb, max(p.sim4) AS ms
         |  FROM pairs p JOIN sel${r - 1} s ON p.qid = s.qid AND p.b = s.nb
         |  GROUP BY 1, 2),
         |c$r AS (
         |  SELECT c.qid, c.nb,
         |    $MmrLambda10 * c.rel4 - ${10 - MmrLambda10} * coalesce(m.ms, 0) AS score
         |  FROM cands c LEFT JOIN m$r m USING (qid, nb)
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} s
         |                    WHERE s.qid = c.qid AND s.nb = c.nb)),
         |p$r AS (
         |  SELECT qid, nb, $r AS rnk, score FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY score DESC, nb) AS rn FROM c$r)
         |  WHERE rn = 1),
         |sel$r AS (SELECT qid, nb FROM sel${r - 1}
         |          UNION ALL SELECT qid, nb FROM p$r)"""
        .stripMargin
    }.mkString(",\n")
    val out = (1 to MmrK)
      .map(r => s"SELECT qid, nb, rnk, score FROM p$r").mkString("\n|UNION ALL ")
    s"""WITH q AS (
       |  SELECT vec_id AS qid, embedding AS qe FROM embeddings
       |  WHERE vec_id < ${graft.operators.Ann.NumQueries}),
       |sc AS (
       |  SELECT qid, e.vec_id AS nb, e.embedding AS ne,
       |    CASE WHEN sqrt(list_dot_product(qe::DOUBLE[], qe::DOUBLE[]))
       |              * sqrt(list_dot_product(ne::DOUBLE[], ne::DOUBLE[])) = 0 THEN 0.0
       |         ELSE list_dot_product(qe::DOUBLE[], ne::DOUBLE[]) /
       |           (sqrt(list_dot_product(qe::DOUBLE[], qe::DOUBLE[])) *
       |            sqrt(list_dot_product(ne::DOUBLE[], ne::DOUBLE[]))) END AS c
       |  FROM q, (SELECT vec_id, embedding FROM embeddings) e(vec_id, embedding)
       |  WHERE e.vec_id <> qid),
       |cands AS (
       |  SELECT qid, nb, ne,
       |    CAST(floor(c * 10000 + 0.5) AS BIGINT) AS rel4
       |  FROM (SELECT *, row_number() OVER (PARTITION BY qid
       |          ORDER BY c DESC, nb) AS rn FROM sc)
       |  WHERE rn <= $MmrC),
       |pairs AS (
       |  SELECT a.qid, a.nb AS a, b.nb AS b,
       |    CAST(floor((CASE WHEN sqrt(list_dot_product(a.ne::DOUBLE[], a.ne::DOUBLE[]))
       |                          * sqrt(list_dot_product(b.ne::DOUBLE[], b.ne::DOUBLE[])) = 0
       |                     THEN 0.0
       |                     ELSE list_dot_product(a.ne::DOUBLE[], b.ne::DOUBLE[]) /
       |                       (sqrt(list_dot_product(a.ne::DOUBLE[], a.ne::DOUBLE[])) *
       |                        sqrt(list_dot_product(b.ne::DOUBLE[], b.ne::DOUBLE[]))) END)
       |         * 10000 + 0.5) AS BIGINT) AS sim4
       |  FROM cands a JOIN cands b ON a.qid = b.qid AND a.nb <> b.nb),
       |p1 AS (
       |  SELECT qid, nb, 1 AS rnk, $MmrLambda10 * rel4 AS score FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid
       |      ORDER BY $MmrLambda10 * rel4 DESC, nb) AS rn FROM cands)
       |  WHERE rn = 1),
       |sel1 AS (SELECT qid, nb FROM p1),
       |$rounds
       |$out""".stripMargin
  }
}
