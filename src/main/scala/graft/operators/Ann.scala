package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Portable.pround
import graft.functions.VecFns

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (SURVEY.md §2 D*). Probe set = `vec_id < NumQueries` (broadcast);
  * k = [[K]] neighbors per probe, ranked by cosine with vec_id
  * tiebreak so every engine orders identically.
  *
  * Scale shape: probes broadcast to every scan task (map-side
  * scoring, no shuffle of the big side for scoring); top-k runs in
  * two phases — a partition-local rank first, so only k rows per
  * (query, partition) reach the final per-query rank instead of the
  * whole corpus funneling through #queries reducers.
  */
object Ann {

  val K = 5
  val NumQueries = 10
  val IvfCentroids = 16
  val IvfProbes = 2
  val LshTables = 8
  val LshBits = 4

  private def vecs(s: SparkSession, dir: String): DataFrame =
    embeddings(s, dir).select(col("vec_id"), col("embedding"),
      VecFns.norm(col("embedding")).as("nn"))

  private def probes(s: SparkSession, dir: String): DataFrame =
    vecs(s, dir).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nn").as("qn"))

  /** Pairwise cosine from precomputed norms — same doubles as
    * recomputing sqrt(dot(v,v)) per pair, at 1/3 the dot products. */
  private def pairCos(a: Column, b: Column, na: Column, nb: Column): Column =
    when(na * nb === 0, lit(0.0)).otherwise(VecFns.dot(a, b) / (na * nb))

  /** Two-phase top-k: partition-local rank (spreads across all
    * reducers), then the global per-query rank sees ≤ k rows per
    * upstream partition. */
  private def topK(scored: DataFrame): DataFrame = {
    val partial = Window.partitionBy(col("qid"), col("pid"))
      .orderBy(col("cos").desc, col("nb"))
    val full = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nb"))
    scored
      .withColumn("pid", spark_partition_id())
      .withColumn("prk", row_number().over(partial))
      .filter(col("prk") <= K)
      .withColumn("rnk", row_number().over(full))
      .filter(col("rnk") <= K)
      .select(col("qid"), col("nb"), col("rnk"), pround(col("cos"), 4).as("cos"))
  }

  /** Shared cosine expression (double, left-to-right — matches the
    * oracle bit-for-bit). */
  private val cosSql: String =
    """list_dot_product(qe::DOUBLE[], ne::DOUBLE[]) /
      |      (sqrt(list_dot_product(qe::DOUBLE[], qe::DOUBLE[])) *
      |       sqrt(list_dot_product(ne::DOUBLE[], ne::DOUBLE[])))""".stripMargin

  /** Exact top-[[K]] scoring of a GIVEN probe frame
    * (qid, qe, qn = norm) against the corpus — the kernel D1 and the
    * streaming search path ([[graft.streaming.StreamAnn]]) share:
    * probes broadcast, corpus scans once per call, identical doubles
    * to the all-in-one form. */
  private[graft] def bruteforceFor(s: SparkSession, dir: String,
                                   probeFrame: DataFrame): DataFrame = {
    val scored = vecs(s, dir)
      .join(broadcast(probeFrame), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nb"),
        pairCos(col("qe"), col("embedding"), col("qn"), col("nn")).as("cos"))
    topK(scored)
  }

  /** Probe shape (qid, qe, qn) from raw (vec_id, embedding) rows. */
  private[graft] def asProbes(df: DataFrame): DataFrame =
    df.select(col("vec_id").as("qid"), col("embedding").as("qe"),
      VecFns.norm(col("embedding")).as("qn"))

  /** D1: exact top-k cosine neighbors — the recall baseline. */
  def annBruteforce(s: SparkSession, dir: String): DataFrame =
    bruteforceFor(s, dir, probes(s, dir))

  val annBruteforceSql: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < $NumQueries),
       |s AS (SELECT qid, e.vec_id AS nb, $cosSql AS c
       |      FROM q, (SELECT vec_id, embedding AS ne FROM embeddings) e
       |      WHERE e.vec_id <> qid)
       |SELECT qid, nb, rnk, floor((c) * 10000.0 + 0.5) / 10000.0 AS cos FROM (
       |  SELECT qid, nb, c, row_number() OVER (PARTITION BY qid ORDER BY c DESC, nb) AS rnk
       |  FROM s) WHERE rnk <= $K""".stripMargin

  /** D2/H7-LSH bucket keys — [[VecFns.portableBuckets]] at this
    * module's (bits, tables); see there for the integer-exactness
    * argument that makes these oracle-replayable. */
  private def portableBuckets(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    VecFns.portableBuckets(df, idCol, vecCol, LshBits, LshTables)

  /** D2: random-hyperplane LSH. Each vector lands in [[LshTables]]
    * buckets ([[LshBits]] sign bits each); candidates are bucket
    * collisions with any probe — an equi-join on (table, bucket), so
    * scoring touches ~1/2^bits of the corpus per table instead of all
    * of it. Buckets come from [[portableBuckets]] (integer-quantized
    * projections, portable signs), so the driver's DuckDB oracle
    * replays the whole pipeline — this was rows-only when the
    * hyperplanes were seeded floats. Recall vs D1 stays spec-checked. */
  def annLsh(s: SparkSession, dir: String): DataFrame = {
    val v = vecs(s, dir)
    val p = probes(s, dir)
    val qb = portableBuckets(p, "qid", "qe").join(p, "qid")
    val eb = portableBuckets(v, "vec_id", "embedding").join(v, "vec_id")
    val cand = qb.join(eb, Seq("t", "b"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("qe"), col("qn"),
        col("vec_id").as("nb"), col("embedding"), col("nn"))
      .dropDuplicates("qid", "nb")
    val scored = cand.select(col("qid"), col("nb"),
      pairCos(col("qe"), col("embedding"), col("qn"), col("nn")).as("cos"))
    topK(scored)
  }

  private val bucketsCtes: String = VecFns.portableBucketsSql(LshBits, LshTables)

  val annLshSql: String =
    s"""WITH $bucketsCtes,
       |cand AS (
       |  SELECT qb.vec_id AS qid, eb.vec_id AS nb
       |  FROM buckets qb JOIN buckets eb ON qb.t = eb.t AND qb.b = eb.b
       |  WHERE qb.vec_id < $NumQueries AND eb.vec_id <> qb.vec_id
       |  GROUP BY 1, 2),
       |s AS (
       |  SELECT qid, nb, $cosSql AS c
       |  FROM (SELECT qid, nb, q.embedding AS qe, e.embedding AS ne
       |        FROM cand JOIN embeddings q ON q.vec_id = cand.qid
       |        JOIN embeddings e ON e.vec_id = cand.nb))
       |SELECT qid, nb, rnk, floor((c) * 10000.0 + 0.5) / 10000.0 AS cos FROM (
       |  SELECT qid, nb, c, row_number() OVER (PARTITION BY qid ORDER BY c DESC, nb) AS rnk
       |  FROM s) WHERE rnk <= $K""".stripMargin

  /** D3: IVF — inverted file over [[IvfCentroids]] deterministic seed
    * centroids (vec_id < 16, one assignment pass: "k-means-ish").
    * Assignment is a broadcast join + per-vector argmax; queries
    * probe their [[IvfProbes]] nearest cells and only those cells'
    * vectors are scored. Fully oracle-able: seeds are deterministic
    * and assignment arithmetic is the same double cosine. */
  /** Top-n nearest IVF cells per row of `df`, with the cell rank
    * `crn` retained — shared by [[annIvf]] (which drops the rank)
    * and [[annProbeSweep]] (which sweeps it). */
  private def nearestCells(s: SparkSession, dir: String, df: DataFrame,
                           idCol: String, vecCol: String, nCol: String,
                           n: Int): DataFrame = {
    val cent = vecs(s, dir).filter(col("vec_id") < IvfCentroids)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("nn").as("cn"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("ccos").desc, col("cid"))
    df.join(broadcast(cent), lit(true))
      .withColumn("ccos", pairCos(col(vecCol), col("ce"), col(nCol), col("cn")))
      .withColumn("crn", row_number().over(w))
      .filter(col("crn") <= n)
      .select(col(idCol), col(vecCol), col(nCol), col("cid"), col("crn"))
  }

  def annIvf(s: SparkSession, dir: String): DataFrame = {
    val assign = nearestCells(s, dir, vecs(s, dir), "vec_id", "embedding", "nn", 1)
      .drop("crn")
    val qcells = nearestCells(s, dir, probes(s, dir), "qid", "qe", "qn", IvfProbes)
      .drop("crn")
    // assignment is unique per vector (rn = 1), so (qid, nb) can't
    // repeat across probed cells — no dedup shuffle needed
    val scored = qcells.join(assign, "cid")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nb"),
        pairCos(col("qe"), col("embedding"), col("qn"), col("nn")).as("cos"))
    topK(scored)
  }

  val annIvfSql: String = {
    val centCos =
      """list_dot_product(ve::DOUBLE[], ce::DOUBLE[]) /
        |        (sqrt(list_dot_product(ve::DOUBLE[], ve::DOUBLE[])) *
        |         sqrt(list_dot_product(ce::DOUBLE[], ce::DOUBLE[])))""".stripMargin
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < $IvfCentroids),
       |assign AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, cid,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY $centCos DESC, cid) AS rn
       |    FROM (SELECT vec_id, embedding AS ve FROM embeddings) e, cent) WHERE rn = 1),
       |qcells AS (
       |  SELECT qid, qe, cid FROM (
       |    SELECT q.qid, q.qe, cid,
       |      row_number() OVER (PARTITION BY q.qid ORDER BY
       |        list_dot_product(qe::DOUBLE[], ce::DOUBLE[]) /
       |        (sqrt(list_dot_product(qe::DOUBLE[], qe::DOUBLE[])) *
       |         sqrt(list_dot_product(ce::DOUBLE[], ce::DOUBLE[]))) DESC, cid) AS rn
       |    FROM (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < $NumQueries) q, cent)
       |  WHERE rn <= $IvfProbes),
       |cand AS (
       |  SELECT qid, qe, e.vec_id AS nb, e.embedding AS ne
       |  FROM qcells JOIN assign a ON a.cid = qcells.cid
       |  JOIN embeddings e ON e.vec_id = a.vec_id
       |  WHERE a.vec_id <> qid)
       |SELECT qid, nb, rnk, floor((c) * 10000.0 + 0.5) / 10000.0 AS cos FROM (
       |  SELECT qid, nb, c, row_number() OVER (PARTITION BY qid ORDER BY c DESC, nb) AS rnk
       |  FROM (SELECT qid, nb, $cosSql AS c FROM cand))
       |WHERE rnk <= $K""".stripMargin
  }

  /** nprobe grid swept by [[annProbeSweep]] (out of [[IvfCentroids]]
    * cells). */
  val ProbeGrid: Seq[Int] = Seq(1, 2, 4, 8)

  /** K129: IVF PROBE SWEEP — the index-tuning curve behind D3's
    * fixed [[IvfProbes]]: recall@[[K]] against the exact baseline
    * AND candidate volume (the cost axis) for every nprobe in
    * [[ProbeGrid]] — the recall-vs-compute trade an ANN deployment
    * reads before fixing nprobe (K18 ann_recall gives the single
    * operating point; this is the curve through it). Candidates are
    * scored ONCE with the cell rank retained and checkpointed; each
    * grid point is a filter + rank window over that frame (the
    * filter_sweep grid convention), so the expensive cosine work is
    * nprobe-independent. Recall denominator is the full exact top-K
    * set (|probes|·K). At 100 TB the probe set is a sample and the
    * sweep costs one max-nprobe IVF search — not |grid| searches. */
  def annProbeSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val assign = nearestCells(s, dir, vecs(s, dir), "vec_id", "embedding", "nn", 1)
      .drop("crn")
    val qc = nearestCells(s, dir, probes(s, dir), "qid", "qe", "qn", ProbeGrid.max)
    val cand = qc.join(assign, "cid")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("crn"), col("vec_id").as("nb"),
        pairCos(col("qe"), col("embedding"), col("qn"), col("nn")).as("c"))
      .localCheckpoint() // scored once; every grid point re-reads it
    val grid = ProbeGrid.map(_.toLong).toDF("p")
    val expl = cand.crossJoin(broadcast(grid)).filter(col("crn") <= col("p"))
      .localCheckpoint() // ≤ |grid|× candidates; counted AND ranked
    val wqp = Window.partitionBy(col("qid"), col("p"))
      .orderBy(col("c").desc, col("nb"))
    val topp = expl.withColumn("rnk", row_number().over(wqp))
      .filter(col("rnk") <= K)
    val gt = annBruteforce(s, dir).select(col("qid"), col("nb"))
    val hits = topp.join(gt, Seq("qid", "nb"), "left_semi")
      .groupBy(col("p")).agg(count(lit(1)).as("n_hits"))
    val cost = expl.groupBy(col("p")).agg(count(lit(1)).as("n_cand"))
    cost.join(hits, Seq("p"), "left_outer")
      .na.fill(0L, Seq("n_hits"))
      .select(col("p"), lit(NumQueries.toLong).as("n_queries"), col("n_cand"),
        col("n_hits"),
        expr(s"(n_hits * 1000000) div (${NumQueries}L * ${K}L)").as("recall_pm"))
      .orderBy(col("p"))
  }

  lazy val annProbeSweepSql: String = {
    val centCos =
      """list_dot_product(ve::DOUBLE[], ce::DOUBLE[]) /
        |        (sqrt(list_dot_product(ve::DOUBLE[], ve::DOUBLE[])) *
        |         sqrt(list_dot_product(ce::DOUBLE[], ce::DOUBLE[])))""".stripMargin
    val grid = ProbeGrid.mkString("[", ", ", "]")
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < $IvfCentroids),
       |assign AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, cid,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY $centCos DESC, cid) AS rn
       |    FROM (SELECT vec_id, embedding AS ve FROM embeddings) e, cent) WHERE rn = 1),
       |qc AS (
       |  SELECT qid, qe, cid, rn AS crn FROM (
       |    SELECT q.qid, q.qe, cid,
       |      row_number() OVER (PARTITION BY q.qid ORDER BY
       |        list_dot_product(qe::DOUBLE[], ce::DOUBLE[]) /
       |        (sqrt(list_dot_product(qe::DOUBLE[], qe::DOUBLE[])) *
       |         sqrt(list_dot_product(ce::DOUBLE[], ce::DOUBLE[]))) DESC, cid) AS rn
       |    FROM (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < $NumQueries) q, cent)
       |  WHERE rn <= ${ProbeGrid.max}),
       |cand AS (
       |  SELECT qid, crn, nb, $cosSql AS c FROM (
       |    SELECT qc.qid, qc.crn, qc.qe, e.vec_id AS nb, e.embedding AS ne
       |    FROM qc JOIN assign a ON a.cid = qc.cid
       |    JOIN embeddings e ON e.vec_id = a.vec_id
       |    WHERE a.vec_id <> qc.qid)),
       |g AS (SELECT unnest($grid)::BIGINT AS p),
       |x AS (SELECT p, qid, nb, c FROM cand, g WHERE crn <= p),
       |r AS (
       |  SELECT p, qid, nb,
       |    row_number() OVER (PARTITION BY qid, p ORDER BY c DESC, nb) AS rnk
       |  FROM x),
       |topp AS (SELECT p, qid, nb FROM r WHERE rnk <= $K),
       |gt AS (SELECT qid, nb FROM ($annBruteforceSql)),
       |h AS (SELECT p, count(*) AS n_hits FROM topp JOIN gt USING (qid, nb) GROUP BY p),
       |cn AS (SELECT p, count(*) AS n_cand FROM x GROUP BY p)
       |SELECT cn.p, $NumQueries AS n_queries, cn.n_cand,
       |  coalesce(h.n_hits, 0)::BIGINT AS n_hits,
       |  (coalesce(h.n_hits, 0) * 1000000 // (${NumQueries} * $K))::BIGINT AS recall_pm
       |FROM cn LEFT JOIN h ON h.p = cn.p""".stripMargin
  }

  /** H7: k-NN JOIN — top-[[K]] cosine neighbors for EVERY vector, not
    * just a probe set (the pairwise step of dedup-graph / kNN-graph
    * builds). All-pairs cosine via the C5 balanced blocked equi-join
    * (each unordered pair computed ONCE — half the dot products of
    * the naive directed join, no nested loop, bounded per-task
    * fanout), symmetrized, then the shared two-phase top-k. Exact by
    * construction; a corpus where N² dots are infeasible swaps the
    * pair generator for the banded-LSH candidates at a pruning
    * threshold — the ranking stages are unchanged. */
  /** Root for the materialized exact top-[[K]] neighbor lists — the
    * O(N²)-by-declaration recall oracle that TWO operators consume
    * (H7's ranking itself and K81's label eval): at 100 TB an exact
    * ranking is a batch job whose output every eval joins, never an
    * inline recompute (the pair-stats lifecycle). Subdir embeds an
    * [[graft.ingest.ArtifactCache]] token over the embeddings table
    * + the ranking constants. */
  val KnnTopkRoot = "target/graft_knn_topk"

  def knnTopkPath(dir: String): String =
    s"$KnnTopkRoot/${new java.io.File(dir).getName}_" +
      graft.ingest.ArtifactCache.token(dir, Seq("embeddings"),
        s"k=$K;blocks=${Dedup.CosBlocks}")

  def ensureKnnTopk(s: SparkSession, dir: String): String = {
    val path = knnTopkPath(dir)
    graft.ingest.ArtifactCache.ensure(path) {
      knnJoinFresh(s, dir).write.mode("overwrite").parquet(path)
    }
  }

  def knnJoin(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(ensureKnnTopk(s, dir))

  /** The from-scratch exact ranking — the artifact builder. */
  private[graft] def knnJoinFresh(s: SparkSession, dir: String): DataFrame = {
    val blocks = Dedup.CosBlocks
    val e = vecs(s, dir)
      .withColumn("blk", pmod(col("vec_id") * 2654435761L % 1000000007L, lit(blocks)))
    val lhs = e.select(
      col("vec_id").as("va"), col("embedding").as("ea"), col("nn").as("na"),
      col("blk").as("ba"), explode(sequence(col("blk"), lit(blocks - 1L))).as("bb"))
    val rhs = e.select(
      col("vec_id").as("vb"), col("embedding").as("eb"), col("nn").as("nb_"),
      explode(sequence(lit(0L), col("blk"))).as("ba"), col("blk").as("bb"))
    val pairs = lhs.join(rhs, Seq("ba", "bb"))
      .filter(col("ba") =!= col("bb") || col("va") < col("vb"))
      .select(col("va"), col("vb"),
        pairCos(col("ea"), col("eb"), col("na"), col("nb_")).as("cos"))
    // IEEE dot/mul are commutative, so both directions of a pair see
    // the identical double — symmetrize instead of recomputing
    val directed = pairs.unionByName(
      pairs.select(col("vb").as("va"), col("va").as("vb"), col("cos")))
    topK(directed.select(col("va").as("qid"), col("vb").as("nb"), col("cos")))
      .withColumnRenamed("qid", "vec_id")
  }

  val knnJoinSql: String =
    s"""WITH s AS (
       |  SELECT a.vec_id, b.vec_id AS nb,
       |    list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
       |      (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
       |       sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS c
       |  FROM embeddings a, embeddings b WHERE a.vec_id <> b.vec_id)
       |SELECT vec_id, nb, rnk, floor((c) * 10000.0 + 0.5) / 10000.0 AS cos FROM (
       |  SELECT vec_id, nb, c,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, nb) AS rnk
       |  FROM s) WHERE rnk <= $K""".stripMargin

  /** H7-LSH: the documented scale swap for [[knnJoin]] — candidate
    * pairs come from shared (table, bucket) sign-LSH keys
    * ([[portableBuckets]]) instead of the exact all-pairs block join;
    * scoring and the two-phase rank are UNCHANGED. Candidate volume
    * is Σ_tables Σ_buckets n_b², bounded by bucket occupancy instead
    * of N² — at 100 TB you widen [[LshBits]] to keep buckets small
    * and add tables to hold recall; compute then scales with
    * collisions, not the corpus square. Recall vs the exact
    * [[knnJoin]] is spec-checked (the dedupEmbeddingLsh precedent),
    * and because the buckets are the portable integer pipeline the
    * driver's DuckDB oracle replays this end to end. */
  def knnJoinLsh(s: SparkSession, dir: String): DataFrame = {
    val v = vecs(s, dir)
    // vectors×tables rows (tiny); materialize so the self-join's two
    // sides don't each re-run the tables-wide projection aggregate
    val b = portableBuckets(v, "vec_id", "embedding").localCheckpoint()
    val cand = b.as("x").join(b.as("y"),
        col("x.t") === col("y.t") && col("x.b") === col("y.b") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("va"), col("y.vec_id").as("vb"))
      .distinct()
    val ea = v.select(col("vec_id").as("va"), col("embedding").as("ea"), col("nn").as("na"))
    val eb = v.select(col("vec_id").as("vb"), col("embedding").as("eb"), col("nn").as("nb_"))
    val pairs = cand.join(ea, "va").join(eb, "vb")
      .select(col("va"), col("vb"),
        pairCos(col("ea"), col("eb"), col("na"), col("nb_")).as("cos"))
    // each unordered pair is scored once; IEEE dot is symmetric, so
    // symmetrizing reuses the identical double (same as knnJoin)
    val directed = pairs.unionByName(
      pairs.select(col("vb").as("va"), col("va").as("vb"), col("cos")))
    topK(directed.select(col("va").as("qid"), col("vb").as("nb"), col("cos")))
      .withColumnRenamed("qid", "vec_id")
  }

  val knnJoinLshSql: String =
    s"""WITH $bucketsCtes,
       |cand AS (
       |  SELECT x.vec_id AS va, y.vec_id AS vb
       |  FROM buckets x JOIN buckets y
       |    ON x.t = y.t AND x.b = y.b AND x.vec_id < y.vec_id
       |  GROUP BY 1, 2),
       |s0 AS (
       |  SELECT va, vb, $cosSql AS c
       |  FROM (SELECT va, vb, a.embedding AS qe, b.embedding AS ne
       |        FROM cand JOIN embeddings a ON a.vec_id = cand.va
       |        JOIN embeddings b ON b.vec_id = cand.vb)),
       |s AS (SELECT va AS vec_id, vb AS nb, c FROM s0
       |      UNION ALL SELECT vb, va, c FROM s0)
       |SELECT vec_id, nb, rnk, floor((c) * 10000.0 + 0.5) / 10000.0 AS cos FROM (
       |  SELECT vec_id, nb, c,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, nb) AS rnk
       |  FROM s) WHERE rnk <= $K""".stripMargin

  /** K81: kNN LABEL EVAL — leave-one-out k-nearest-neighbor
    * classification over the embedding space, reduced to the
    * label-confusion matrix: each vector is predicted as the MAJORITY
    * label of its exact top-[[K]] cosine neighbors (tie → higher vote
    * count, then smaller label — pinned identically in the oracle)
    * and scored against its own label. The intrinsic
    * embedding-quality eval a pipeline runs before trusting vectors
    * for retrieval or clustering: a healthy space classifies its own
    * labels; a collapsed one shows an off-diagonal smear. Reuses the
    * H7 exact ranking wholesale (its LSH swap applies unchanged);
    * everything downstream is (vec, label)-sized joins + one L²-
    * bounded aggregate. */
  def knnLabelEval(s: SparkSession, dir: String): DataFrame = {
    val lab = embeddings(s, dir).select(col("vec_id"), col("label"))
    val votes = knnJoin(s, dir).select(col("vec_id"), col("nb"))
      .join(lab.select(col("vec_id").as("nb"), col("label").as("nl")), "nb")
      .groupBy(col("vec_id"), col("nl")).agg(count(lit(1)).as("votes"))
    // majority with deterministic tiebreak: (votes DESC, label ASC)
    val pred = votes
      .groupBy(col("vec_id"))
      .agg(max(struct(col("votes"), (-col("nl")).as("negl"), col("nl"))).as("m"))
      .select(col("vec_id"), col("m.nl").as("pred_label"))
    pred.join(lab, "vec_id")
      .groupBy(col("label").as("true_label"), col("pred_label"))
      .agg(count(lit(1)).as("n_vecs"))
  }

  /** K114: HARD-NEGATIVE MINING — the metric-learning data prep
    * (FaceNet/contrastive-retrieval style) over the persisted H7
    * exact ranking: for every anchor, count same-label (positive) vs
    * different-label (negative) neighbors in its top-[[K]], and
    * surface THE hardest negative — the highest-cosine different-
    * label neighbor, i.e. the impostor the training loop most needs
    * in the batch. Anchors whose whole top-[[K]] is same-label have
    * no impostor and drop out (documented grain: one row per anchor
    * WITH a hard negative). Determinism: the mined impostor orders by
    * the artifact's ×10⁴-rounded cosine with nb tiebreak, so the pick
    * is engine-exact. Scale: reuses the kNN artifact wholesale (the
    * K81 contract — its LSH swap applies unchanged); downstream is
    * two (vec, label)-keyed equi-joins of the K·N list frame against
    * the N-row label frame (no broadcast assumed — the label side is
    * corpus-sized) and ONE per-anchor aggregate folding the counts
    * and the impostor argmax together (max(struct(cos, −nb)) = the
    * (cos desc, nb asc) pick without a rank exchange); the oracle
    * keeps the window formulation, so the hash gate cross-checks the
    * two algebras. */
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    val lab = embeddings(s, dir).select(col("vec_id"), col("label"))
    val j = knnJoin(s, dir)
      .join(lab, "vec_id")
      .join(lab.select(col("vec_id").as("nb"), col("label").as("nb_label")),
        "nb")
    // ONE pass: counts and the impostor argmax fold in the same
    // aggregate — max(struct(cos, -nb)) picks highest cos, tie →
    // smallest nb (the window ordering, without a second scan of the
    // joined frame or a rank exchange)
    j.groupBy(col("vec_id"), col("label"))
      .agg(
        sum(when(col("nb_label") === col("label"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("nb_label") =!= col("label"), 1L).otherwise(0L)).as("n_neg"),
        max(when(col("nb_label") =!= col("label"),
          struct(col("cos"), (-col("nb")).as("nnb")))).as("m"))
      .filter(col("n_neg") > 0)
      .select(col("vec_id"), col("label"), col("n_pos"), col("n_neg"),
        (-col("m.nnb")).as("hn_id"), col("m.cos").as("hn_cos"))
  }

  lazy val hardNegativesSql: String =
    s"""WITH knn AS ($knnJoinSql),
       |lab AS (SELECT vec_id, label FROM embeddings),
       |j AS (
       |  SELECT k.vec_id, a.label, k.nb, b.label AS nb_label, k.cos
       |  FROM knn k JOIN lab a ON a.vec_id = k.vec_id
       |  JOIN lab b ON b.vec_id = k.nb),
       |c AS (
       |  SELECT vec_id, label,
       |    sum(CASE WHEN nb_label = label THEN 1 ELSE 0 END)::BIGINT AS n_pos,
       |    sum(CASE WHEN nb_label <> label THEN 1 ELSE 0 END)::BIGINT AS n_neg
       |  FROM j GROUP BY 1, 2),
       |h AS (
       |  SELECT vec_id, nb AS hn_id, cos AS hn_cos FROM (
       |    SELECT vec_id, nb, cos,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nb) AS rn
       |    FROM j WHERE nb_label <> label) WHERE rn = 1)
       |SELECT c.vec_id, c.label, c.n_pos, c.n_neg, h.hn_id, h.hn_cos
       |FROM c JOIN h USING (vec_id)""".stripMargin

  lazy val knnLabelEvalSql: String =
    s"""WITH knn AS ($knnJoinSql),
       |votes AS (
       |  SELECT k.vec_id, e.label AS nl, count(*) AS votes
       |  FROM knn k JOIN embeddings e ON e.vec_id = k.nb
       |  GROUP BY 1, 2),
       |pred AS (
       |  SELECT vec_id, nl AS pred_label FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |                                 ORDER BY votes DESC, nl) AS rn
       |    FROM votes) WHERE rn = 1)
       |SELECT e.label AS true_label, p.pred_label, count(*) AS n_vecs
       |FROM pred p JOIN embeddings e USING (vec_id)
       |GROUP BY 1, 2""".stripMargin

  /** H8: int8 symmetric quantization of the embedding column — the
    * compression pass an ANN index build runs before sharding
    * (scale = max|x|/127 per vector, q = round-half-up, clamp ±127).
    * Map-only; emits the reconstruction error bound and clip count
    * per vector so a pipeline can gate on quantization loss. All
    * arithmetic is deterministic double ops (floor, max — order-free),
    * so the oracle matches exactly; `round` half-up via floor(x+0.5)
    * on BOTH sides (engine round() tie rules differ). */
  def embQuantize(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("scale",
        greatest(array_max(transform(col("e"), x => abs(x))) / 127.0, lit(1e-30)))
    def quant(x: Column): Column =
      greatest(lit(-127.0), least(lit(127.0),
        floor(x / col("scale") + 0.5).cast("double")))
    // rounding happens in a SEPARATE outer projection: aliasing the
    // rounded value as "scale" in the same select would shadow the
    // input column via lateral-column-alias resolution, silently
    // quantizing against the rounded scale
    e.select(col("vec_id"), col("scale"),
        array_max(transform(col("e"),
          x => abs(x - quant(x) * col("scale")))).as("max_err"),
        size(filter(col("e"), x => abs(quant(x)) === 127.0)).as("n_clip"))
      .select(col("vec_id"), pround(col("scale"), 6).as("scale"),
        pround(col("max_err"), 6).as("max_err"), col("n_clip"))
  }

  val embQuantizeSql: String =
    """WITH v AS (
      |  SELECT vec_id, e, greatest(list_max(list_transform(e, x -> abs(x))) / 127.0, 1e-30) AS scale
      |  FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings))
      |SELECT vec_id, floor((scale) * 1000000.0 + 0.5) / 1000000.0 AS scale,
      |  floor((list_max(list_transform(e,
      |    x -> abs(x - greatest(-127.0, least(127.0, floor(x / scale + 0.5))) * scale)))) * 1000000.0 + 0.5) / 1000000.0 AS max_err,
      |  len(list_filter(e,
      |    x -> abs(greatest(-127.0, least(127.0, floor(x / scale + 0.5)))) = 127.0)) AS n_clip
      |FROM v""".stripMargin

  /** J-line: embedding-column health report per label — the QA gate
    * an index build runs before trusting a vector table: row counts,
    * dimension consistency (min=max ⇒ uniform), zero-norm vectors
    * (undefined cosine), and the norm distribution. Norms come from
    * the codegen'd [[graft.plans.VecDotProduct]] kernel (same
    * left-to-right double accumulation as the oracle's
    * list_dot_product, so sqrt of it is bit-identical); the whole
    * query is one map-only projection + one small aggregate. */
  def vecHealth(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
      .select(col("label"), size(col("embedding")).as("dim"),
        graft.functions.VecFns.norm(col("embedding")).as("nrm"))
    e.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("dim")).as("min_dim"), max(col("dim")).as("max_dim"),
        sum(when(col("nrm") === 0.0, 1L).otherwise(0L)).as("n_zero"),
        pround(min(col("nrm")), 4).as("min_norm"),
        pround(expr("percentile(nrm, 0.5)"), 4).as("p50_norm"),
        pround(max(col("nrm")), 4).as("max_norm"),
        pround(avg(col("nrm")), 4).as("avg_norm"))
  }

  val vecHealthSql: String =
    """WITH v AS (
      |  SELECT label, len(embedding) AS dim,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings)
      |SELECT label, count(*) AS n_vecs,
      |  min(dim) AS min_dim, max(dim) AS max_dim,
      |  sum(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END)::BIGINT AS n_zero,
      |  floor((min(nrm)) * 10000.0 + 0.5) / 10000.0 AS min_norm,
      |  floor((quantile_cont(nrm, 0.5)) * 10000.0 + 0.5) / 10000.0 AS p50_norm,
      |  floor((max(nrm)) * 10000.0 + 0.5) / 10000.0 AS max_norm,
      |  floor((avg(nrm)) * 10000.0 + 0.5) / 10000.0 AS avg_norm
      |FROM v GROUP BY label""".stripMargin

  /** Variance floor below which a dimension counts as dead. */
  val DeadVarFloor = 0.000001

  /** K-line: per-DIMENSION embedding statistics — mean and variance
    * of every coordinate across the corpus, with a dead-dimension
    * flag (variance collapse: the classic symptom of a broken encoder
    * or a truncated export; [[vecHealth]] is the per-VECTOR sibling).
    * Coordinates quantize to ×10⁴ BIGINT map-side so both moment sums
    * are EXACT integers (order-independent under partial aggregation —
    * a float variance would be a cross-engine hash risk); mean and
    * variance are then a fixed sequence of double ops on those exact
    * ints, identical in DuckDB. One posexplode + one dim-keyed
    * combining aggregate: shuffle carries dims × 3 longs per task. */
  def embDimStats(s: SparkSession, dir: String): DataFrame = {
    val q = embeddings(s, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("dim").cast("long").as("dim"),
        floor(col("v").cast("double") * 10000 + 0.5).cast("long").as("q"))
    val mean = col("sq").cast("double") / col("n") / 10000.0
    val variance = (col("sqq").cast("double") / col("n") -
      (col("sq").cast("double") / col("n")) * (col("sq").cast("double") / col("n"))) / 1.0e8
    q.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"), sum(col("q") * col("q")).as("sqq"))
      .select(col("dim"), col("n").as("n_vecs"),
        pround(mean, 4).as("mean"),
        pround(variance, 6).as("variance"),
        (variance < DeadVarFloor).as("dead"))
  }

  val embDimStatsSql: String =
    s"""WITH q AS (
       |  SELECT generate_subscripts(embedding, 1) - 1 AS dim,
       |    CAST(floor(unnest(embedding)::DOUBLE * 10000 + 0.5) AS BIGINT) AS q
       |  FROM embeddings),
       |a AS (
       |  SELECT dim, count(*) AS n, sum(q)::BIGINT AS sq, sum(q * q)::BIGINT AS sqq
       |  FROM q GROUP BY 1)
       |SELECT dim, n AS n_vecs,
       |  floor((sq::DOUBLE / n / 10000.0) * 10000.0 + 0.5) / 10000.0 AS mean,
       |  floor(((sqq::DOUBLE / n - (sq::DOUBLE / n) * (sq::DOUBLE / n)) / 100000000.0)
       |    * 1000000.0 + 0.5) / 1000000.0 AS variance,
       |  (sqq::DOUBLE / n - (sq::DOUBLE / n) * (sq::DOUBLE / n)) / 100000000.0 < $DeadVarFloor AS dead
       |FROM a""".stripMargin

  /** Root for the materialized eval RANKINGS — the four ranking
    * pipelines (D1 exact, D2 LSH, D3 IVF, K72 PQ) that the THREE
    * eval operators (ann_recall, K151 ndcg_eval, K164 mrr_eval)
    * each re-ran inline before r13 — ~12 ranking pipelines per
    * eval-suite pass. At 100 TB a ranking run is a batch job whose
    * output every eval joins (the knn_topk / purchase-pairs
    * write-once lifecycle), never an inline recompute × 3. One
    * frame (path, qid, nb, rnk); subdir embeds an
    * [[graft.ingest.ArtifactCache]] token over the embeddings table
    * + every constant all four paths read, so a parameter change
    * self-invalidates. The per-path operators (ann_lsh …) stay
    * fresh computations — they ARE the thing under eval; only the
    * evals read the artifact. Measured ([[graft.ABProbe]]
    * `annevals`, sf0.1, alternating, 4 rounds, warm med of the trio
    * as one job): 8.19 s fresh → 1.72 s artifact (4.8×), with the
    * build itself outside the timed path (the Bench fixture
    * convention). */
  val AnnRankedRoot = "target/graft_ann_ranked"

  def annRankedPath(dir: String): String =
    s"$AnnRankedRoot/${new java.io.File(dir).getName}_" +
      graft.ingest.ArtifactCache.token(dir, Seq("embeddings"),
        s"k=$K;nq=$NumQueries;lsh=$LshBits/$LshTables;" +
          s"ivf=$IvfCentroids/$IvfProbes;" +
          s"pq=$PqSubDim/$PqK/$PqProbes/$PqTopK;blocks=${Dedup.CosBlocks}")

  /** The from-scratch four-path ranking union — the artifact
    * builder. */
  private[graft] def annRankedFresh(s: SparkSession, dir: String): DataFrame =
    annBruteforce(s, dir)
      .select(lit("exact").as("path"), col("qid"), col("nb"), col("rnk"))
      .unionByName(annLsh(s, dir)
        .select(lit("lsh").as("path"), col("qid"), col("nb"), col("rnk")))
      .unionByName(annIvf(s, dir)
        .select(lit("ivf").as("path"), col("qid"), col("nb"), col("rnk")))
      .unionByName(annPq(s, dir)
        .select(lit("pq").as("path"), col("probe_id").as("qid"),
          col("neighbor").as("nb"), col("rank").as("rnk")))

  def ensureAnnRanked(s: SparkSession, dir: String): String = {
    val path = annRankedPath(dir)
    graft.ingest.ArtifactCache.ensure(path) {
      annRankedFresh(s, dir).write.mode("overwrite").parquet(path)
    }
  }

  /** One path's persisted ranking (qid, nb, rnk). */
  private def rankedOf(s: SparkSession, dir: String, p: String): DataFrame =
    s.read.parquet(ensureAnnRanked(s, dir))
      .filter(col("path") === p).select(col("qid"), col("nb"), col("rnk"))

  /** K-line: ANN RECALL@K calibration — per query, how many of the
    * exact top-[[K]] (D1) each approximate path (D2 LSH, D3 IVF,
    * K72 PQ) returned. The eval table a pipeline reads before
    * trusting an index's (bits, tables)/(cells, probes)/(codebook)
    * settings on a new corpus — the ANN analog of minhash_est's
    * banding calibration. Since r13 the four rankings come from the
    * PERSISTED [[ensureAnnRanked]] artifact (shared with ndcg_eval /
    * mrr_eval); everything downstream of the artifact read is
    * probe-set-sized. Fully oracled: all four paths replay in
    * DuckDB, so their intersection does too. (PQ ranks by
    * asymmetric quantized L2 rather than cosine — its recall
    * against the cosine baseline is exactly the metric-mismatch
    * read this table exists to surface.) */
  def annRecall(s: SparkSession, dir: String): DataFrame =
    annRecallFrom(rankedOf(s, dir, _))

  private[graft] def annRecallFrom(src: String => DataFrame): DataFrame = {
    val ex = src("exact").select(col("qid"), col("nb"))
    val lsh = src("lsh").select(col("qid"), col("nb"), lit(1L).as("l"))
    val ivf = src("ivf").select(col("qid"), col("nb"), lit(1L).as("i"))
    val pq = src("pq").select(col("qid"), col("nb"), lit(1L).as("p"))
    ex.join(lsh, Seq("qid", "nb"), "left_outer")
      .join(ivf, Seq("qid", "nb"), "left_outer")
      .join(pq, Seq("qid", "nb"), "left_outer")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("l"), lit(0L))).as("lsh_hits"),
        sum(coalesce(col("i"), lit(0L))).as("ivf_hits"),
        sum(coalesce(col("p"), lit(0L))).as("pq_hits"))
      .select(col("qid"), col("n_exact"), col("lsh_hits"), col("ivf_hits"),
        col("pq_hits"),
        pround(col("lsh_hits").cast("double") / col("n_exact"), 4).as("lsh_recall"),
        pround(col("ivf_hits").cast("double") / col("n_exact"), 4).as("ivf_recall"),
        pround(col("pq_hits").cast("double") / col("n_exact"), 4).as("pq_recall"))
  }

  lazy val annRecallSql: String =
    s"""WITH ex AS (SELECT qid, nb FROM ($annBruteforceSql)),
       |l AS (SELECT qid, nb FROM ($annLshSql)),
       |i AS (SELECT qid, nb FROM ($annIvfSql)),
       |p AS (SELECT probe_id AS qid, neighbor AS nb FROM ($annPqSql)),
       |j AS (
       |  SELECT ex.qid,
       |    CASE WHEN l.nb IS NULL THEN 0 ELSE 1 END AS lh,
       |    CASE WHEN i.nb IS NULL THEN 0 ELSE 1 END AS ih,
       |    CASE WHEN p.nb IS NULL THEN 0 ELSE 1 END AS ph
       |  FROM ex
       |  LEFT JOIN l ON l.qid = ex.qid AND l.nb = ex.nb
       |  LEFT JOIN i ON i.qid = ex.qid AND i.nb = ex.nb
       |  LEFT JOIN p ON p.qid = ex.qid AND p.nb = ex.nb)
       |SELECT qid, count(*) AS n_exact,
       |  sum(lh)::BIGINT AS lsh_hits, sum(ih)::BIGINT AS ivf_hits,
       |  sum(ph)::BIGINT AS pq_hits,
       |  floor((sum(lh) / count(*)) * 10000.0 + 0.5) / 10000.0 AS lsh_recall,
       |  floor((sum(ih) / count(*)) * 10000.0 + 0.5) / 10000.0 AS ivf_recall,
       |  floor((sum(ph) / count(*)) * 10000.0 + 0.5) / 10000.0 AS pq_recall
       |FROM j GROUP BY qid""".stripMargin

  /** K76: EMBEDDING CENTROID DRIFT — per-label centroids and the
    * pairwise centroid-cosine matrix: the domain/encoder-shift read a
    * pipeline runs when corpora from different sources (or encoder
    * versions) share one vector space — near-orthogonal centroids
    * mean the labels occupy different regions; a drifting re-encode
    * shows up as a falling diagonal-block cosine. Shape: ONE
    * rows-scale pass (posexplode → (label, dim) combining aggregate,
    * map-side partials); everything after runs on the labels×dims
    * centroid frame. Coordinates quantize ×[[KMeansIter.Scale]] and
    * centroids floor-divide (the annPq convention), so dots and
    * norms are exact BIGINTs and the only float ops are the final
    * sqrt/division — bit-identical in DuckDB. */
  def embCentroidDrift(s: SparkSession, dir: String): DataFrame = {
    val q = embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("label"), col("dim"),
        floor(col("v").cast("double") * KMeansIter.Scale + 0.5).cast("long").as("qv"))
    val cent = q.groupBy(col("label"), col("dim"))
      .agg(sum(col("qv")).as("sq"), count(lit(1)).as("cnt"))
      .select(col("label"), col("dim"),
        floor(col("sq").cast("double") / col("cnt")).cast("long").as("cv"))
      .localCheckpoint() // labels × dims — read three ways below
    val norms = cent.groupBy(col("label")).agg(sum(col("cv") * col("cv")).as("nrm"))
    val sizes = embeddings(s, dir).groupBy(col("label")).agg(count(lit(1)).as("n"))
    val a = cent.select(col("label").as("label_a"), col("dim"), col("cv").as("ca"))
    val b = cent.select(col("label").as("label_b"), col("dim"), col("cv").as("cb"))
    a.join(b, "dim").filter(col("label_a") < col("label_b"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(sum(col("ca") * col("cb")).as("dot"))
      .join(broadcast(norms.select(col("label").as("label_a"), col("nrm").as("ra"))), "label_a")
      .join(broadcast(norms.select(col("label").as("label_b"), col("nrm").as("rb"))), "label_b")
      .join(broadcast(sizes.select(col("label").as("label_a"), col("n").as("n_a"))), "label_a")
      .join(broadcast(sizes.select(col("label").as("label_b"), col("n").as("n_b"))), "label_b")
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        pround(col("dot").cast("double") /
          (sqrt(col("ra").cast("double")) * sqrt(col("rb").cast("double"))), 4)
          .as("cos_centroid"))
  }

  lazy val embCentroidDriftSql: String = {
    val S = KMeansIter.Scale
    s"""WITH q AS (
       |  SELECT label, d - 1 AS dim,
       |    CAST(floor(v::DOUBLE * $S + 0.5) AS BIGINT) AS qv
       |  FROM (SELECT label, generate_subscripts(embedding, 1) AS d,
       |               unnest(embedding) AS v FROM embeddings)),
       |cent AS (
       |  SELECT label, dim,
       |    CAST(floor(sum(qv)::DOUBLE / count(*)) AS BIGINT) AS cv
       |  FROM q GROUP BY 1, 2),
       |nrm AS (SELECT label, sum(cv * cv)::BIGINT AS nrm FROM cent GROUP BY 1),
       |sz AS (SELECT label, count(*) AS n FROM embeddings GROUP BY 1),
       |dt AS (
       |  SELECT a.label AS label_a, b.label AS label_b,
       |    sum(a.cv * b.cv)::BIGINT AS dot
       |  FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
       |  GROUP BY 1, 2)
       |SELECT label_a, label_b, na.n AS n_a, nb.n AS n_b,
       |  floor((dot::DOUBLE / (sqrt(ra.nrm::DOUBLE) * sqrt(rb.nrm::DOUBLE)))
       |    * 10000.0 + 0.5) / 10000.0 AS cos_centroid
       |FROM dt
       |JOIN nrm ra ON ra.label = label_a JOIN nrm rb ON rb.label = label_b
       |JOIN sz na ON na.label = label_a JOIN sz nb ON nb.label = label_b""".stripMargin
  }

  /** Power-iteration rounds and the fixed-point eigenvector scale.
    * The synthetic embeddings are near-isotropic (measured
    * λ2/λ1 ≈ 0.983 at sf0.1), so convergence needs
    * 0.983^t·tanθ0 ≪ 1 → t ≈ 300; each round is O(d²) on the
    * broadcast-sized matrix (driver BigInt / 64-row oracle CTE), so
    * the budget costs microseconds per round, not a data pass. The
    * ×10⁴ quantization floors the final angle error at
    * ~1e-4/(1−λ2/λ1) ≈ 0.006 rad — the spec's 0.99-cosine bar. */
  val PcaRounds = 300
  val PcaS = 10000L

  /** K48: TOP PRINCIPAL COMPONENT by power iteration — the embedding
    * ANISOTROPY read (a dominant direction plus its explained-
    * variance share; degenerate encoders collapse onto one axis, and
    * whitening decisions start from this number). The DISTRIBUTED
    * work is the single Gram pass: the ×10⁴-quantized coordinate
    * frame self-joins on vec_id (co-partitioned; d² products per
    * vector) and a combining aggregate reduces the shuffle to d²
    * moment cells per task — covariance C = N·Σqq − Σq·Σq is then
    * EXACT BIGINT, order-independent. The iteration itself runs on
    * that d×d broadcast-sized matrix in driver BigInt (the
    * dedup_clusters small-side convention): v ← round(C·v·S / ‖C·v‖∞)
    * with all-positive truncating division (sign split off) so Scala
    * BigInt and DuckDB HUGEINT floor-division agree; 15 rounds from
    * the all-ones start are deterministic whether or not the
    * spectrum has converged, so the oracle — the SAME iteration as
    * chained MATERIALIZED HUGEINT CTEs (the kcore convention) —
    * replays it bit-for-bit. Explained share is the Rayleigh
    * quotient over the trace as ONE pre-scaled integer division
    * (vᵀCv·10⁶ div vᵀv·tr); the only float ops are the two final
    * display divisions. */
  def pcaPower(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = embeddings(s, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        floor(col("v").cast("double") * 10000 + 0.5).cast("long").as("q"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = embeddings(s, dir).count()
    val sums = e.groupBy(col("dim")).agg(sum(col("q")).as("sq")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = e.select(col("vec_id"), col("dim").as("j"), col("q").as("qj"))
    val b = e.select(col("vec_id"), col("dim").as("k"), col("q").as("qk"))
    val mom = a.join(b, "vec_id").groupBy(col("j"), col("k"))
      .agg(sum(col("qj") * col("qk")).as("spp")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    e.unpersist()
    val d = sums.size
    val cm = Array.tabulate(d, d)((j, k) =>
      BigInt(n) * mom((j.toLong, k.toLong)) -
        BigInt(sums(j.toLong)) * BigInt(sums(k.toLong)))
    var v = Array.fill(d)(BigInt(PcaS))
    def mul(x: Array[BigInt]): Array[BigInt] =
      Array.tabulate(d)(j => (0 until d).map(k => cm(j)(k) * x(k)).sum)
    for (_ <- 1 to PcaRounds) {
      val u = mul(v)
      val m = u.map(_.abs).max
      v = u.map { x =>
        val q = (x.abs * 2 * PcaS + m) / (m * 2)
        if (x < 0) -q else q
      }
    }
    val w = mul(v)
    val vcv = (0 until d).map(j => v(j) * w(j)).sum
    val vv = v.map(x => x * x).sum
    val trace = (0 until d).map(j => cm(j)(j)).sum
    val shareQ = (vcv * 1000000) / (vv * trace)
    (0 until d).map(j => (j.toLong, v(j).toLong, shareQ.toLong))
      .toDF("dim", "vq", "share_q")
      .select(col("dim"),
        pround(col("vq") / 10000.0, 4).as("loading"),
        pround(col("share_q") / 1000000.0, 6).as("top_share"))
  }

  lazy val pcaPowerSql: String = {
    val rounds = (1 to PcaRounds).map { t =>
      s"""u$t AS MATERIALIZED (
         |  SELECT c.j, sum(c.c * v.v)::HUGEINT AS u
         |  FROM cmat c JOIN v${t - 1} v ON v.j = c.k GROUP BY 1),
         |m$t AS (SELECT max(abs(u))::HUGEINT AS m FROM u$t),
         |v$t AS MATERIALIZED (
         |  SELECT j, CASE WHEN u < 0
         |    THEN -(((-u) * ${2 * PcaS} + m) // (m * 2))
         |    ELSE ((u * ${2 * PcaS} + m) // (m * 2)) END AS v
         |  FROM u$t CROSS JOIN m$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
       |    CAST(floor(unnest(embedding)::DOUBLE * 10000 + 0.5) AS BIGINT) AS q
       |  FROM embeddings),
       |n AS (SELECT count(DISTINCT vec_id)::HUGEINT AS cnt FROM e),
       |sums AS (SELECT dim, sum(q)::HUGEINT AS sq FROM e GROUP BY 1),
       |mom AS (
       |  SELECT a.dim AS j, b.dim AS k, sum(a.q * b.q)::HUGEINT AS spp
       |  FROM e a JOIN e b ON a.vec_id = b.vec_id GROUP BY 1, 2),
       |cmat AS MATERIALIZED (
       |  SELECT m.j, m.k, (n.cnt * m.spp - sa.sq * sb.sq)::HUGEINT AS c
       |  FROM mom m CROSS JOIN n
       |  JOIN sums sa ON sa.dim = m.j JOIN sums sb ON sb.dim = m.k),
       |v0 AS (SELECT DISTINCT dim AS j, $PcaS::HUGEINT AS v FROM e),
       |$rounds,
       |w AS (SELECT c.j, sum(c.c * v.v)::HUGEINT AS u
       |      FROM cmat c JOIN v$PcaRounds v ON v.j = c.k GROUP BY 1),
       |ray AS (
       |  SELECT sum(v.v * w.u)::HUGEINT AS vcv,
       |    (SELECT sum(v * v)::HUGEINT FROM v$PcaRounds) AS vv
       |  FROM v$PcaRounds v JOIN w ON w.j = v.j),
       |tr AS (SELECT sum(c)::HUGEINT AS trace FROM cmat WHERE j = k),
       |sh AS (SELECT ((vcv * 1000000) // (vv * trace)) AS share_q
       |       FROM ray CROSS JOIN tr)
       |SELECT v.j AS dim,
       |  floor((v.v / 10000.0) * 10000.0 + 0.5) / 10000.0 AS loading,
       |  floor((share_q / 1000000.0) * 1000000.0 + 0.5) / 1000000.0 AS top_share
       |FROM v$PcaRounds v CROSS JOIN sh""".stripMargin
  }

  /** PQ geometry: 4 subspaces × 16 dims each over the 64-dim
    * embeddings, 16 centroids per sub-codebook, integer-quantized
    * coordinates (the [[KMeansIter.Scale]] convention). */
  val PqSubDim = 16
  val PqK = 16
  val PqProbes = 10
  val PqTopK = 10

  /** K72: PRODUCT-QUANTIZATION ANN — the third leg of the ANN family
    * (D2 LSH buckets, D3 IVF cells, this: compressed codes). Vectors
    * split into 4 × 16-dim subspaces; each subspace gets its own
    * 16-centroid codebook; a vector compresses to 4 small codes, and
    * probe↔vector distance is the ASYMMETRIC estimate Σ_sub
    * ‖probe_sub − centroid[code]‖² read from a per-probe lookup
    * table — the memory layout that lets a 100 TB corpus keep its
    * whole index in RAM (4 bytes/vector here vs 256 raw).
    *
    * ONE relational pipeline trains all four codebooks at once: the
    * Lloyd step runs keyed by (sub, …) — a subspace slice is just a
    * point with a composite id — so the plan is [[KMeansIter]]'s
    * assignment/recenter with `sub` added to every key, not four
    * sequential jobs. Integer domain end-to-end (quantized coords,
    * exact integer distances, floor'd means) keeps the whole loop —
    * and therefore codes, LUT, and final ranking — hash-exact in
    * DuckDB. Scale shape: training shuffles (vec, sub, cid) partial
    * sums; encoding is the same assignment; query-time cost is
    * codes ⋈ broadcast LUT (probes × K × subs rows) + one top-k
    * window per probe — the big side never exchanges. */
  def annPq(s: SparkSession, dir: String): DataFrame = {
    // the quantized subvector cells feed FIVE subtrees (seed
    // centroids, two assignment passes, the re-centering aggregate,
    // the probe slices): persist so the explode is scanned once
    // (OPTIMIZATION_r14.md row 11: warm a wash, cold 6.4 → 3.3 s)
    val pts0 = embeddings(s, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "v")))
      .select(col("vec_id"),
        (col("d") / PqSubDim).cast("int").as("sub"),
        (col("d") % PqSubDim).as("sd"),
        floor(col("v").cast("double") * KMeansIter.Scale + 0.5).cast("long").as("qv"))
    val pts = pts0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val c0 = pts.filter(col("vec_id") < PqK)
      .select(col("vec_id").as("cid"), col("sub"), col("sd"), col("qv").as("cv"))
    def assign(c: DataFrame): DataFrame =
      pts.join(broadcast(c), Seq("sub", "sd"))
        .groupBy(col("vec_id"), col("sub"), col("cid"))
        .agg(sum((col("qv") - col("cv")) * (col("qv") - col("cv"))).as("dist"))
        .groupBy(col("vec_id"), col("sub"))
        .agg(min(struct(col("dist"), col("cid"))).as("m"))
        .select(col("vec_id"), col("sub"), col("m.cid").as("cid"))
    val a1 = assign(c0)
    val c1 = pts.join(a1, Seq("vec_id", "sub"))
      .groupBy(col("cid"), col("sub"), col("sd"))
      .agg(floor(sum(col("qv")).cast("double") / count(lit(1))).cast("long").as("cv"))
    val codes = assign(c1)
    val probeSlices = pts.filter(col("vec_id") < PqProbes)
      .select(col("vec_id").as("probe_id"), col("sub"), col("sd"), col("qv").as("pv"))
    val lut = probeSlices.join(broadcast(c1), Seq("sub", "sd"))
      .groupBy(col("probe_id"), col("sub"), col("cid"))
      .agg(sum((col("pv") - col("cv")) * (col("pv") - col("cv"))).as("pd"))
    val approx = codes.join(broadcast(lut), Seq("sub", "cid"))
      .filter(col("vec_id") =!= col("probe_id"))
      .groupBy(col("probe_id"), col("vec_id"))
      .agg(sum(col("pd")).as("qdist"))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("qdist"), col("vec_id"))
    approx.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= PqTopK)
      .select(col("probe_id"), col("rank"), col("vec_id").as("neighbor"), col("qdist"))
  }

  /** DuckDB twin: same composite-key Lloyd rounds, codes, LUT and
    * ranking (1-based subscripts shifted to the same 0-based sub/sd
    * key space). */
  lazy val annPqSql: String = {
    val S = KMeansIter.Scale
    s"""WITH q AS (
       |  SELECT vec_id, CAST((d - 1) // $PqSubDim AS INT) AS sub,
       |    (d - 1) % $PqSubDim AS sd,
       |    CAST(floor(v::DOUBLE * $S + 0.5) AS BIGINT) AS qv
       |  FROM (SELECT vec_id, generate_subscripts(embedding, 1) AS d,
       |               unnest(embedding) AS v FROM embeddings)),
       |c0 AS (SELECT vec_id AS cid, sub, sd, qv AS cv FROM q WHERE vec_id < $PqK),
       |d1 AS (SELECT q.vec_id, q.sub, c.cid,
       |         CAST(sum((qv - cv) * (qv - cv)) AS BIGINT) AS dist
       |       FROM q JOIN c0 c ON q.sub = c.sub AND q.sd = c.sd GROUP BY 1, 2, 3),
       |a1 AS (SELECT vec_id, sub, cid FROM (
       |         SELECT *, row_number() OVER (PARTITION BY vec_id, sub
       |                                      ORDER BY dist, cid) AS rn FROM d1)
       |       WHERE rn = 1),
       |c1 AS (SELECT cid, sub, sd,
       |         CAST(floor(sum(qv)::DOUBLE / count(*)) AS BIGINT) AS cv
       |       FROM a1 JOIN q USING (vec_id, sub) GROUP BY 1, 2, 3),
       |d2 AS (SELECT q.vec_id, q.sub, c.cid,
       |         CAST(sum((qv - cv) * (qv - cv)) AS BIGINT) AS dist
       |       FROM q JOIN c1 c ON q.sub = c.sub AND q.sd = c.sd GROUP BY 1, 2, 3),
       |codes AS (SELECT vec_id, sub, cid FROM (
       |            SELECT *, row_number() OVER (PARTITION BY vec_id, sub
       |                                         ORDER BY dist, cid) AS rn FROM d2)
       |          WHERE rn = 1),
       |probes AS (SELECT vec_id AS probe_id, sub, sd, qv AS pv
       |           FROM q WHERE vec_id < $PqProbes),
       |lut AS (SELECT probe_id, p.sub, c.cid,
       |          CAST(sum((pv - cv) * (pv - cv)) AS BIGINT) AS pd
       |        FROM probes p JOIN c1 c ON p.sub = c.sub AND p.sd = c.sd
       |        GROUP BY 1, 2, 3),
       |ad AS (SELECT l.probe_id, k.vec_id, CAST(sum(pd) AS BIGINT) AS qdist
       |       FROM codes k JOIN lut l ON k.sub = l.sub AND k.cid = l.cid
       |       WHERE k.vec_id <> l.probe_id GROUP BY 1, 2)
       |SELECT probe_id, rank, vec_id AS neighbor, qdist FROM (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |                               ORDER BY qdist, vec_id) AS rank FROM ad)
       |WHERE rank <= $PqTopK""".stripMargin
  }

  /** Matryoshka truncation dims (full = 64, the corpus width). */
  val MrlDims: Seq[Int] = Seq(4, 16, 64)

  /** K146: MATRYOSHKA TRUNCATION RECALL — the MRL evaluation
    * (Kusupati et al., "Matryoshka Representation Learning", NeurIPS
    * 2022) that production embedding APIs now ship against: how much
    * retrieval recall survives when vectors truncate to their first
    * d dimensions (the storage/latency knob — a 4x truncation is a
    * 4x index-size cut IF recall holds). For each d in [[MrlDims]]:
    * exact top-[[K]] cosine over the d-prefix slices, intersected
    * with the full-width top-[[K]] ground truth; per dim: probe
    * count, hit count, recall per-mille. The d = 64 row is the
    * full-width identity (recall 1000) — the eval's built-in sanity
    * anchor, spec-pinned.
    *
    * Shape: the D-family declared exact baseline — probes broadcast,
    * corpus scanned once per dim (|MrlDims| passes over a PROBE
    * SAMPLE at any real scale), the ground-truth frame
    * localCheckpoints at K·probes rows and every join after is
    * probe-set-sized. Slices keep prefix order, so the doubles are
    * the same left-to-right folds D1 rides — fully oracle-able. */
  def mrlRecall(s: SparkSession, dir: String): DataFrame = {
    val fullK = bruteforceFor(s, dir, probes(s, dir))
      .select(col("qid"), col("nb"))
      .localCheckpoint() // K x NumQueries rows; joined once per dim
    val perDim = MrlDims.map { d =>
      val qd = probes(s, dir)
        .select(col("qid"), slice(col("qe"), 1, d).as("qe"))
        .withColumn("qn", VecFns.norm(col("qe")))
      val scored = embeddings(s, dir)
        .select(col("vec_id"), slice(col("embedding"), 1, d).as("ne"))
        .withColumn("nn", VecFns.norm(col("ne")))
        .join(broadcast(qd), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("nb"),
          pairCos(col("qe"), col("ne"), col("qn"), col("nn")).as("cos"))
      topK(scored).select(col("qid"), col("nb"), lit(d.toLong).as("dim"))
    }.reduce(_ unionByName _)
    perDim
      .join(fullK.withColumn("hit", lit(1L)), Seq("qid", "nb"), "left_outer")
      .groupBy(col("dim"))
      .agg(countDistinct(col("qid")).as("n_queries"),
        coalesce(sum(col("hit")), lit(0L)).as("hits"))
      .select(col("dim"), col("n_queries"), col("hits"),
        expr(s"(hits * 1000) div (${K} * n_queries)").as("recall_pm"))
  }

  val mrlRecallSql: String = {
    def cosD(d: Int): String =
      s"""CASE WHEN sqrt(list_dot_product(qe[1:$d]::DOUBLE[], qe[1:$d]::DOUBLE[]))
         |        * sqrt(list_dot_product(ne[1:$d]::DOUBLE[], ne[1:$d]::DOUBLE[])) = 0
         |     THEN 0.0
         |     ELSE list_dot_product(qe[1:$d]::DOUBLE[], ne[1:$d]::DOUBLE[]) /
         |       (sqrt(list_dot_product(qe[1:$d]::DOUBLE[], qe[1:$d]::DOUBLE[])) *
         |        sqrt(list_dot_product(ne[1:$d]::DOUBLE[], ne[1:$d]::DOUBLE[]))) END"""
        .stripMargin
    val dimCtes = MrlDims.map { d =>
      s"""t$d AS (
         |  SELECT qid, nb, $d AS dim FROM (
         |    SELECT qid, e.vec_id AS nb,
         |      row_number() OVER (PARTITION BY qid ORDER BY ${cosD(d)} DESC, e.vec_id) AS rnk
         |    FROM q, (SELECT vec_id, embedding AS ne FROM embeddings) e
         |    WHERE e.vec_id <> qid)
         |  WHERE rnk <= $K)"""
        .stripMargin
    }.mkString(",\n")
    val dimUnion = MrlDims.map(d => s"SELECT * FROM t$d").mkString(" UNION ALL ")
    s"""WITH q AS (
       |  SELECT vec_id AS qid, embedding AS qe FROM embeddings
       |  WHERE vec_id < $NumQueries),
       |fullk AS (
       |  SELECT qid, nb FROM (
       |    SELECT qid, e.vec_id AS nb,
       |      row_number() OVER (PARTITION BY qid ORDER BY ${cosD(64)} DESC, e.vec_id) AS rnk
       |    FROM q, (SELECT vec_id, embedding AS ne FROM embeddings) e
       |    WHERE e.vec_id <> qid)
       |  WHERE rnk <= $K),
       |$dimCtes,
       |u AS ($dimUnion)
       |SELECT dim::BIGINT AS dim, count(DISTINCT u.qid)::BIGINT AS n_queries,
       |  coalesce(sum(CASE WHEN f.nb IS NOT NULL THEN 1 END), 0)::BIGINT AS hits,
       |  (coalesce(sum(CASE WHEN f.nb IS NOT NULL THEN 1 END), 0) * 1000
       |    // ($K * count(DISTINCT u.qid)))::BIGINT AS recall_pm
       |FROM u LEFT JOIN fullk f ON u.qid = f.qid AND u.nb = f.nb
       |GROUP BY 1""".stripMargin
  }

  /** K149: HUBNESS DIAGNOSTICS — the k-occurrence skew read
    * (Radovanovic et al., JMLR 2010): in high-dimensional spaces a
    * few "hub" points appear in a disproportionate share of OTHER
    * points' k-NN lists while anti-hubs vanish from all of them —
    * the pathology that silently biases kNN labels, dedup
    * neighborhoods and retrieval, and the reason K135 bitext_mine
    * normalizes by neighborhood margins at all. Reads the PERSISTED
    * exact top-[[K]] artifact (H7's ensureKnnTopk — artifact-backed,
    * join-cost-only like every audit): per vector its k-occurrence
    * N_k (appearances in others' lists), then one diagnostic row —
    * max N_k, anti-hub count (N_k = 0), exact p99 of the
    * N_k distribution (orphans included, integer cum-histogram
    * cut at cum·100 ≥ 99·N), the top-1%-hubs' share of ALL list
    * slots in per-mille, and hub_index = N·ΣN_k² div (N·K)² per
    * mille — the second-moment ratio that reads exactly 1000 under
    * perfect uniformity and grows with skew.
    *
    * Shape: ONE count aggregate over the artifact (shuffle ∝ vecs,
    * 8-byte keys), a distinct-value histogram + cum window
    * (quantile_bins posture — cells, never rows), two 1-row
    * broadcast scalar frames. Nothing rescans the corpus. */
  def hubStats(s: SparkSession, dir: String): DataFrame = {
    val occ = knnJoin(s, dir).groupBy(col("nb")).agg(count(lit(1)).as("kocc"))
      .localCheckpoint() // vecs-sized cells; feeds 3 tiny consumers
    val nvRow = embeddings(s, dir).agg(count(lit(1)).as("ntot"))
    val base = occ.agg(max(col("kocc")).as("max_kocc"),
      sum(col("kocc")).as("slots"),
      sum(col("kocc") * col("kocc")).as("s2"),
      count(lit(1)).as("n_occ"))
      .crossJoin(broadcast(nvRow)) // 1-row scalar frame
    val hist = occ.groupBy(col("kocc")).agg(count(lit(1)).as("nv"))
      .unionByName(base.select(lit(0L).as("kocc"),
        (col("ntot") - col("n_occ")).as("nv")))
      .localCheckpoint() // distinct-kocc CELLS; feeds both cuts
    // top-1% slot share from the DESC cell cumulative: the first cell
    // crossing r = ceil(N/100) contributes partially ((cumn-r) of its
    // equal-valued members fall outside the cut) — the top-r-VALUES
    // sum without any rows-scale ordering
    val wDesc = org.apache.spark.sql.expressions.Window
      .orderBy(col("kocc").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val topShare = hist
      .withColumn("cumn", sum(col("nv")).over(wDesc))
      .withColumn("cums", sum(col("nv") * col("kocc")).over(wDesc))
      .crossJoin(broadcast(nvRow))
      .withColumn("r", expr("(ntot + 99) div 100"))
      .filter(col("cumn") >= col("r"))
      .orderBy(col("kocc").desc).limit(1)
      .select((col("cums") - (col("cumn") - col("r")) * col("kocc"))
        .as("top_slots"))
    val wCum = org.apache.spark.sql.expressions.Window
      .orderBy(col("kocc"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val p99 = hist
      .withColumn("cum", sum(col("nv")).over(wCum))
      .crossJoin(broadcast(nvRow))
      .filter(col("cum") * 100 >= col("ntot") * 99)
      .agg(min(col("kocc")).as("p99_kocc"))
    base
      .crossJoin(broadcast(topShare)) // 1-row scalar frames
      .crossJoin(broadcast(p99))
      .select(col("ntot").as("n_vecs"),
        col("max_kocc"),
        (col("ntot") - col("n_occ")).as("n_antihubs"),
        col("p99_kocc"),
        expr("(top_slots * 1000) div slots").as("top1pct_share_pm"),
        expr(s"(ntot * s2 * 1000) div (slots * slots)").as("hub_index_pm"))
  }

  val hubStatsSql: String =
    s"""WITH knn AS ($knnJoinSql),
       |occ AS (SELECT nb, count(*)::BIGINT AS kocc FROM knn GROUP BY 1),
       |nv AS (SELECT count(*)::BIGINT AS ntot FROM embeddings),
       |base AS (
       |  SELECT max(kocc) AS max_kocc, sum(kocc)::BIGINT AS slots,
       |    sum(kocc * kocc)::BIGINT AS s2, count(*)::BIGINT AS n_occ
       |  FROM occ),
       |hist AS (
       |  SELECT kocc, count(*)::BIGINT AS nvv FROM occ GROUP BY 1
       |  UNION ALL
       |  SELECT 0::BIGINT, (SELECT ntot FROM nv) - n_occ FROM base),
       |tops AS (
       |  SELECT (cums - (cumn - r) * kocc)::BIGINT AS top_slots FROM (
       |    SELECT kocc,
       |      sum(nvv) OVER (ORDER BY kocc DESC ROWS UNBOUNDED PRECEDING) AS cumn,
       |      sum(nvv * kocc) OVER (ORDER BY kocc DESC ROWS UNBOUNDED PRECEDING) AS cums,
       |      (SELECT (ntot + 99) // 100 FROM nv) AS r
       |    FROM hist)
       |  WHERE cumn >= r ORDER BY kocc DESC LIMIT 1),
       |p99 AS (
       |  SELECT min(kocc)::BIGINT AS p99_kocc FROM (
       |    SELECT kocc, sum(nvv) OVER (ORDER BY kocc
       |      ROWS UNBOUNDED PRECEDING) AS cum FROM hist), nv
       |  WHERE cum * 100 >= ntot * 99)
       |SELECT nv.ntot AS n_vecs, base.max_kocc,
       |  (nv.ntot - base.n_occ)::BIGINT AS n_antihubs, p99.p99_kocc,
       |  (tops.top_slots * 1000 // base.slots)::BIGINT AS top1pct_share_pm,
       |  (nv.ntot * base.s2 * 1000 // (base.slots * base.slots))::BIGINT AS hub_index_pm
       |FROM base, nv, tops, p99""".stripMargin

  /** K150: RECIPROCAL NEAREST NEIGHBORS — the mutual-kNN filter
    * (the reciprocal-NN re-ranking idea of Qin et al., CVPR 2011,
    * and the mutual-neighbor condition unsupervised pair mining
    * uses before trusting a match): a pair qualifies only when each
    * point appears in the OTHER's top-[[K]] list — one-directional
    * neighbors are exactly where hubs (K149) flood in, so the
    * mutual cut is the cheap high-precision filter run before
    * expensive pair verification. Reads the persisted exact top-K
    * artifact; emits each mutual pair once (va < vb) with both
    * ranks and the shared cosine.
    *
    * Shape: ONE self-equi-join of the artifact on the flipped key
    * (shuffle ∝ N·K rows of 24-byte keys), nothing corpus-scale;
    * at 100 TB the artifact is the index and this is join-cost-only
    * like every audit. */
  def mutualKnn(s: SparkSession, dir: String): DataFrame = {
    val a = knnJoin(s, dir)
      .select(col("vec_id").as("va"), col("nb").as("vb"),
        col("rnk").as("rnk_ab"), col("cos"))
    val b = knnJoin(s, dir)
      .select(col("vec_id").as("vb"), col("nb").as("va"),
        col("rnk").as("rnk_ba"))
    a.join(b, Seq("va", "vb"))
      .filter(col("va") < col("vb"))
      .select(col("va"), col("vb"), col("rnk_ab"), col("rnk_ba"), col("cos"))
  }

  val mutualKnnSql: String =
    s"""WITH knn AS ($knnJoinSql)
       |SELECT a.vec_id AS va, a.nb AS vb, a.rnk AS rnk_ab, b.rnk AS rnk_ba, a.cos
       |FROM knn a JOIN knn b ON a.vec_id = b.nb AND a.nb = b.vec_id
       |WHERE a.vec_id < a.nb""".stripMargin

  /** NDCG@[[K]] position weights, ×10⁶: W(i) = round(10⁶/log2(i+1)),
    * and their prefix sums (the ideal-DCG lookup). Computed once on
    * the JVM and injected VERBATIM into the oracle SQL, so both
    * engines share the exact integers (the SimA/SimB convention) —
    * NDCG's irrational discounts never touch the hash gate. */
  val NdcgW: Seq[Long] =
    (1 to K).map(i => math.round(1e6 / (math.log(i + 1) / math.log(2))))
  val NdcgCw: Seq[Long] = NdcgW.scanLeft(0L)(_ + _).tail

  /** K151: NDCG@K OF THE APPROXIMATE PATHS — the graded ranking
    * eval (Järvelin & Kekäläinen, TOIS 2002) next to K18's flat
    * recall: recall says WHETHER the exact neighbors came back,
    * NDCG@K says WHERE — a path that returns them at ranks 4-5
    * scores the same recall but materially lower NDCG, which is the
    * difference a downstream top-1 consumer feels. Per approximate
    * path (D2 LSH / D3 IVF / K72 PQ), two micro-averaged metrics off
    * the same DCG = Σ hit(rank)·W(rank), both with the [[NdcgW]]
    * integer weight table shared verbatim across engines:
    *  - `ndcg_pm`: STANDARD NDCG@K — denominator n_queries·CW[K],
    *    the ideal DCG of the full relevant set (the exact path
    *    returns exactly K relevant neighbors per query, so IDCG@K is
    *    the constant CW[K]). Penalizes both misordering AND misses.
    *  - `rank_quality_pm`: ordering-only variant — denominator
    *    Σ_q CW[hits_q] (all RETRIEVED hits packed at the top), so a
    *    path that returns one exact neighbor at rank 1 scores 1000
    *    despite 20% recall. Measures placement of what came back;
    *    read next to K18's recall, which measures what came back.
    *
    * Shape: the three ranked pipelines are the family's documented
    * forms; everything after is probe-set-sized joins + one 3-row
    * rollup — the ann_recall posture with rank-weighted sums. */
  def ndcgEval(s: SparkSession, dir: String): DataFrame =
    ndcgEvalFrom(rankedOf(s, dir, _))

  private[graft] def ndcgEvalFrom(src: String => DataFrame): DataFrame = {
    val ex = src("exact")
      .select(col("qid"), col("nb"), lit(1L).as("hit"))
      .localCheckpoint() // K x NumQueries rows; joined by all three paths
    val wArr = array(NdcgW.map(lit): _*)
    val cwArr = array((0L +: NdcgCw).map(lit): _*)
    def scoreOf(path: String, ranked: DataFrame): DataFrame = ranked
      .filter(col("rnk") <= K) // NDCG@K: only the top-K of each list scores
      .join(ex, Seq("qid", "nb"), "left_outer")
      .na.fill(0L, Seq("hit"))
      .groupBy(col("qid"))
      .agg(sum(col("hit") * element_at(wArr, col("rnk").cast("int"))).as("dcg"),
        element_at(cwArr, (sum(col("hit")) + 1).cast("int")).as("idcg"))
      .agg(count(lit(1)).as("n_queries"),
        sum(col("dcg")).as("sum_dcg"), sum(col("idcg")).as("sum_idcg"))
      .select(lit(path).as("path"), col("n_queries"), col("sum_dcg"),
        col("sum_idcg"),
        when(col("n_queries") === 0, 0L)
          .otherwise(expr(s"(sum_dcg * 1000) div (n_queries * ${NdcgCw.last})"))
          .as("ndcg_pm"),
        when(col("sum_idcg") === 0, 0L)
          .otherwise(expr("(sum_dcg * 1000) div sum_idcg"))
          .as("rank_quality_pm"))
    scoreOf("lsh", src("lsh"))
      .unionByName(scoreOf("ivf", src("ivf")))
      .unionByName(scoreOf("pq", src("pq")))
  }

  lazy val ndcgEvalSql: String = {
    val wList = NdcgW.mkString("[", ", ", "]")
    val cwList = (0L +: NdcgCw).mkString("[", ", ", "]")
    def pathSql(path: String, sql: String, q: String, n: String, r: String) =
      s"""SELECT '$path' AS path, count(*)::BIGINT AS n_queries,
         |  sum(dcg)::BIGINT AS sum_dcg, sum(idcg)::BIGINT AS sum_idcg,
         |  CASE WHEN count(*) = 0 THEN 0
         |       ELSE sum(dcg) * 1000 // (count(*) * ${NdcgCw.last})
         |       END::BIGINT AS ndcg_pm,
         |  CASE WHEN sum(idcg) = 0 THEN 0
         |       ELSE sum(dcg) * 1000 // sum(idcg) END::BIGINT AS rank_quality_pm
         |FROM (
         |  SELECT a.$q,
         |    sum(CASE WHEN e.nb IS NULL THEN 0
         |             ELSE ($wList)[a.$r] END)::BIGINT AS dcg,
         |    ($cwList)[(sum(CASE WHEN e.nb IS NULL THEN 0 ELSE 1 END) + 1)::BIGINT]::BIGINT AS idcg
         |  FROM ($sql) a
         |  LEFT JOIN ex e ON e.qid = a.$q AND e.nb = a.$n
         |  WHERE a.$r <= $K
         |  GROUP BY a.$q)"""
        .stripMargin
    s"""WITH ex AS (SELECT qid, nb FROM ($annBruteforceSql))
       |${pathSql("lsh", annLshSql, "qid", "nb", "rnk")}
       |UNION ALL ${pathSql("ivf", annIvfSql, "qid", "nb", "rnk")}
       |UNION ALL ${pathSql("pq", annPqSql, "probe_id", "neighbor", "rank")}"""
      .stripMargin
  }

  /** Reciprocal-rank lattice for [[mrrEval]]: lcm(1..[[K]]) — every
    * 1/rank with rank ≤ K is the EXACT integer [[MrrLcm]]/rank on
    * this lattice, so reciprocal ranks sum without floats. */
  val MrrLcm: Long = (1 to K).foldLeft(1L) { (a, b) =>
    a / java.math.BigInteger.valueOf(a).gcd(java.math.BigInteger.valueOf(b)).longValue * b
  }

  /** K164: MRR@K OF THE APPROXIMATE PATHS — Mean Reciprocal Rank,
    * the first-hit metric standardized by the TREC-8 QA track
    * (Voorhees 1999) and the default eval of retrieval systems whose
    * consumer takes ONE answer (RAG context pick, dedup canonical
    * pick): per query, score 1/rank of the FIRST exact neighbor the
    * approximate path returns, 0 when none does. Completes the
    * ranking-eval family — K18 recall (what came back), K151 NDCG
    * (where it all landed), MRR (where the first hit landed) — all
    * off the same persisted [[ensureAnnRanked]] four-path ranking
    * artifact (since r13; one build, three consumers).
    * Engine-portability: reciprocal ranks
    * live on the exact [[MrrLcm]] = lcm(1..K) integer lattice
    * (1/rank = MrrLcm/rank exactly, rank ≤ K), so sum_rr is an
    * order-free BIGINT sum and mrr_pm = (sum_rr·1000) div
    * (n_queries·MrrLcm) — no float ever touches the hash gate.
    *
    * Shape: probe-set-sized joins against the broadcast exact set +
    * a per-query min + one 3-row rollup (the ndcg_eval posture). */
  def mrrEval(s: SparkSession, dir: String): DataFrame =
    mrrEvalFrom(rankedOf(s, dir, _))

  private[graft] def mrrEvalFrom(src: String => DataFrame): DataFrame = {
    val ex = src("exact").select(col("qid"), col("nb"))
      .localCheckpoint() // K x NumQueries rows; joined by all three paths
    def scoreOf(path: String, ranked: DataFrame): DataFrame = ranked
      .filter(col("rnk") <= K)
      .join(ex, Seq("qid", "nb")) // hits only
      .groupBy(col("qid")).agg(min(col("rnk")).as("first_rnk"))
      .agg(count(lit(1)).as("n_hit"),
        sum(expr(s"$MrrLcm div first_rnk")).as("sum_rr"))
      .select(lit(path).as("path"), col("n_hit"),
        coalesce(col("sum_rr"), lit(0L)).as("sum_rr"))
    val nq = ex.select(col("qid")).distinct()
      .agg(count(lit(1)).as("n_queries")) // off the checkpointed ex
    scoreOf("lsh", src("lsh"))
      .unionByName(scoreOf("ivf", src("ivf")))
      .unionByName(scoreOf("pq", src("pq")))
      .crossJoin(broadcast(nq)) // 1-row scalar frame
      .select(col("path"), col("n_queries"), col("n_hit"), col("sum_rr"),
        when(col("n_queries") === 0L, 0L)
          .otherwise(expr(s"(sum_rr * 1000) div (n_queries * $MrrLcm)"))
          .as("mrr_pm"))
  }

  lazy val mrrEvalSql: String = {
    def pathSql(path: String, sql: String, q: String, n: String, r: String) =
      s"""SELECT '$path' AS path, count(*)::BIGINT AS n_hit,
         |  coalesce(sum($MrrLcm // first_rnk), 0)::BIGINT AS sum_rr
         |FROM (
         |  SELECT a.$q, min(a.$r)::BIGINT AS first_rnk
         |  FROM ($sql) a
         |  JOIN ex e ON e.qid = a.$q AND e.nb = a.$n
         |  WHERE a.$r <= $K
         |  GROUP BY a.$q)"""
        .stripMargin
    s"""WITH ex AS (SELECT qid, nb FROM ($annBruteforceSql)),
       |nq AS (SELECT count(DISTINCT qid)::BIGINT AS n_queries FROM ex),
       |paths AS (
       |${pathSql("lsh", annLshSql, "qid", "nb", "rnk")}
       |UNION ALL ${pathSql("ivf", annIvfSql, "qid", "nb", "rnk")}
       |UNION ALL ${pathSql("pq", annPqSql, "probe_id", "neighbor", "rank")})
       |SELECT path, n_queries, n_hit, sum_rr,
       |  CASE WHEN n_queries = 0 THEN 0
       |       ELSE sum_rr * 1000 // (n_queries * $MrrLcm) END::BIGINT AS mrr_pm
       |FROM paths CROSS JOIN nq""".stripMargin
  }

  /** [[rocAuc]] score lattice: cosine quantized ×10⁴ (the kcenter
    * radius convention — ranks are taken on this integer lattice,
    * never on raw doubles). */
  val AucScale = 10000L

  /** The Mann-Whitney U machinery of [[rocAuc]], factored so specs
    * can feed planted score frames: input (cls, pos ∈ {0,1}, sc on
    * an integer lattice), output per cls the exact pair accounting.
    * u2 = 2·#{(pos,neg): sc_pos > sc_neg} + #{ties} — twice the
    * U statistic, so the midrank tie convention (+½ per tied pair)
    * stays integral; AUC = u2 / (2·n_pos·n_neg), published exactly
    * as auc_ppm = u2·10⁶ div (2·n_pos·n_neg) on a DECIMAL(38)/
    * HUGEINT lattice (u2·10⁶ ≤ 2·n_pos·n_neg·10⁶ needs >64 bits
    * once n_pos·n_neg > 4.6e12 — i.e. beyond ~4M balanced rows —
    * so BOTH engines widen: Spark DECIMAL(38,0), DuckDB HUGEINT;
    * 10^38 holds to ~10^16 rows per class, far past 100 TB).
    *
    * Shape: one (cls, sc) combining aggregate (cells ≤ classes ×
    * lattice width, corpus-size-free), a per-cls running sum over
    * those cells, and a ≤classes-row rollup. */
  private[graft] def aucFromScored(scored: DataFrame): DataFrame = {
    val cells = scored.groupBy(col("cls"), col("sc"))
      .agg(sum(col("pos")).as("n_pos"), sum(lit(1L) - col("pos")).as("n_neg"))
    val below = Window.partitionBy(col("cls")).orderBy(col("sc"))
      .rowsBetween(Window.unboundedPreceding, -1)
    cells
      .withColumn("cum_neg", coalesce(sum(col("n_neg")).over(below), lit(0L)))
      .groupBy(col("cls"))
      .agg(sum(col("n_pos")).as("n_pos"), sum(col("n_neg")).as("n_neg"),
        sum(col("n_pos") * (lit(2L) * col("cum_neg") + col("n_neg"))).as("u2"))
      .select(col("cls").cast("long").as("label"), col("n_pos"),
        col("n_neg"), col("u2"),
        when(col("n_pos") * col("n_neg") === 0, lit(0L))
          // integral `div` on DECIMAL(38) operands: an EXACT floor
          // division (the decimal `/`-then-floor form rounds the
          // quotient to scale 6 first — round-then-floor can bump a
          // value sitting within 5e-7 below an integer, a real
          // parity hazard once term counts grow; r13 hardening)
          .otherwise(expr("CAST(CAST(u2 AS DECIMAL(38,0)) * 1000000" +
            " div (CAST(n_pos AS DECIMAL(38,0)) * n_neg * 2) AS BIGINT)"))
          .as("auc_ppm"))
  }

  /** K176: EXACT ROC-AUC — the area under the ROC curve via the
    * Mann-Whitney U identity (Mann & Whitney 1947; the AUC≡U/(mn)
    * reading popularized by Hanley & McNeil, Radiology 1982):
    * AUC = P(score_pos > score_neg) + ½P(tie), computed as exact
    * pair counts from rank sums — never by trapezoid-integrating a
    * float curve. Completes the eval family: K18 recall / K151 NDCG
    * / K164 MRR grade RANKINGS; nothing graded the BINARY quality
    * gates (K134 clip_gate, K154 conformal_gate) a curation pipeline
    * tunes — AUC is the threshold-free number those gates are tuned
    * against. Classifier under eval: the nearest-centroid
    * one-vs-rest scorer over the labeled embeddings (the K76
    * integer-centroid construction — quantized ×[[KMeansIter.Scale]]
    * coordinates, floor-divided centroids, BIGINT dots), scored as
    * centroid cosine on the ×[[AucScale]] lattice; per class c the
    * positives are label=c rows, negatives the rest, and
    * [[aucFromScored]] turns the (cls, sc) cells into exact
    * u2 / auc_ppm integers. Ties use the midrank convention as
    * exact rationals (u2 = twice U keeps the ½-per-tie integral);
    * no float ever reaches the hash gate — the only doubles are
    * inside the per-row score quantization (sqrt/divide, identical
    * IEEE ops in both engines, the pairCos posture).
    *
    * Shape: one N×d explode → (label, dim) combining aggregate for
    * centroids (map-side partials), one dim-keyed join against the
    * BROADCAST classes×d centroid frame (N×classes dot rows — the
    * per-row work of any one-vs-rest eval), then the cells/rollup
    * of [[aucFromScored]] — no shuffle wider than N×classes, no
    * all-pairs anything: pair counts come from rank algebra, not
    * pair enumeration. */
  def rocAuc(s: SparkSession, dir: String): DataFrame =
    aucFromScored(centroidScored(s, dir))

  /** The one-vs-rest nearest-centroid scorer shared by the binary
    * eval family ([[rocAuc]] K176, [[prAuc]] K179,
    * [[calibrationEval]] K180, [[isotonicFit]] K181): per (class,
    * row) the centroid cosine on the ×[[AucScale]] integer lattice,
    * with pos = 1 iff the row's label is the class. Factored (r13)
    * exactly as [[aucFromScored]] was: the four evals are different
    * integrals over the SAME scored frame, so the scorer lives once
    * and each eval stays a pure cells/rollup computation its spec
    * can drive with planted frames. */
  private[graft] def centroidScored(s: SparkSession, dir: String): DataFrame = {
    val S = KMeansIter.Scale
    val q = embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("label"), col("dim"),
        floor(col("v").cast("double") * S + 0.5).cast("long").as("qv"))
      .localCheckpoint() // N×d; read three ways below
    val cent = q.groupBy(col("label"), col("dim"))
      .agg(sum(col("qv")).as("sq"), count(lit(1)).as("cnt"))
      .select(col("label").as("cls"), col("dim"),
        floor(col("sq").cast("double") / col("cnt")).cast("long").as("cv"))
      .localCheckpoint() // classes × d; broadcast below
    val cnorm = cent.groupBy(col("cls")).agg(sum(col("cv") * col("cv")).as("cn2"))
    val vnorm = q.groupBy(col("vec_id")).agg(sum(col("qv") * col("qv")).as("vn2"))
    val scored = q.join(broadcast(cent), "dim")
      .groupBy(col("vec_id"), col("label"), col("cls"))
      .agg(sum(col("qv") * col("cv")).as("dot"))
      .join(vnorm, "vec_id")
      .join(broadcast(cnorm), "cls")
      .select(col("cls"),
        (col("label") === col("cls")).cast("long").as("pos"),
        when(col("vn2") * col("cn2") === 0, lit(0L))
          .otherwise(floor(col("dot").cast("double") /
            (sqrt(col("vn2").cast("double")) * sqrt(col("cn2").cast("double")))
            * AucScale + 0.5).cast("long")).as("sc"))
    scored
  }

  /** The CTE chain producing the `scored` frame of
    * [[centroidScored]] — the shared WITH-body prefix of the four
    * binary-eval oracles (ends at `scored(cls, pos, sc)`). */
  private lazy val centroidScoredCte: String = {
    val S = KMeansIter.Scale
    s"""q AS (
       |  SELECT vec_id, label, d - 1 AS dim,
       |    CAST(floor(v::DOUBLE * $S + 0.5) AS BIGINT) AS qv
       |  FROM (SELECT vec_id, label, generate_subscripts(embedding, 1) AS d,
       |               unnest(embedding) AS v FROM embeddings)),
       |cent AS (
       |  SELECT label AS cls, dim,
       |    CAST(floor(sum(qv)::DOUBLE / count(*)) AS BIGINT) AS cv
       |  FROM q GROUP BY 1, 2),
       |cn AS (SELECT cls, sum(cv * cv)::BIGINT AS cn2 FROM cent GROUP BY 1),
       |vn AS (SELECT vec_id, sum(qv * qv)::BIGINT AS vn2 FROM q GROUP BY 1),
       |dots AS (
       |  SELECT q.vec_id, q.label, c.cls, sum(q.qv * c.cv)::BIGINT AS dot
       |  FROM q JOIN cent c USING (dim) GROUP BY 1, 2, 3),
       |scored AS (
       |  SELECT cls,
       |    (CASE WHEN label = cls THEN 1 ELSE 0 END)::BIGINT AS pos,
       |    CASE WHEN vn2 * cn2 = 0 THEN 0
       |         ELSE CAST(floor(dot::DOUBLE /
       |           (sqrt(vn2::DOUBLE) * sqrt(cn2::DOUBLE)) * $AucScale.0 + 0.5)
       |           AS BIGINT) END AS sc
       |  FROM dots JOIN vn USING (vec_id) JOIN cn USING (cls))"""
      .stripMargin
  }

  lazy val rocAucSql: String = {
    s"""WITH $centroidScoredCte,
       |cells AS (
       |  SELECT cls, sc, sum(pos)::BIGINT AS n_pos,
       |    sum(1 - pos)::BIGINT AS n_neg
       |  FROM scored GROUP BY 1, 2),
       |cum AS (
       |  SELECT cls, n_pos, n_neg,
       |    coalesce(sum(n_neg) OVER (PARTITION BY cls ORDER BY sc
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
       |      AS cum_neg
       |  FROM cells)
       |SELECT cls::BIGINT AS label, sum(n_pos)::BIGINT AS n_pos,
       |  sum(n_neg)::BIGINT AS n_neg,
       |  sum(n_pos * (2 * cum_neg + n_neg))::BIGINT AS u2,
       |  CASE WHEN sum(n_pos) * sum(n_neg) = 0 THEN 0
       |       ELSE (sum(n_pos * (2 * cum_neg + n_neg))::HUGEINT * 1000000
       |             // (2::HUGEINT * sum(n_pos) * sum(n_neg)))::BIGINT
       |  END AS auc_ppm
       |FROM cum GROUP BY cls""".stripMargin
  }

  /** [[prAuc]]/[[aucFromScored]]-family per-threshold precision
    * lattice: parts-per-billion, floored BEFORE the weighted sum
    * (each threshold's precision is data-denominated — cumTP+cumFP
    * varies per cell — so an LCM lattice is unavailable; the
    * pre-floored ppb term keeps the sum order-free and
    * engine-exact, error ≤ 10⁻⁹ per positive ≤ 10⁻³ ppm total). */
  val ApTermScale = 1000000000L

  /** The step-AP machinery of [[prAuc]], factored like
    * [[aucFromScored]] so specs can feed planted (cls, pos, sc)
    * frames. Step convention: AP = Σ_thresholds ΔR·P (the
    * average_precision reading of the PR curve — no trapezoid, no
    * interpolation), i.e. per distinct score cell, weight
    * n_pos_cell by the precision at that threshold (cumTP /
    * (cumTP+cumFP), cumulative in DESCENDING score order,
    * inclusive). Every term is the exact integral `div` on the
    * ×[[ApTermScale]] lattice — DECIMAL(38) numerators (n_pos_cell
    * · cumTP · 10⁹ ≤ 10²⁷ at 10⁹ rows/class), BIGINT terms
    * (≤ n_pos_cell·10⁹), an order-free BIGINT sum, and
    * ap_ppm = sum_term div (n_pos·10³). */
  private[graft] def apFromScored(scored: DataFrame): DataFrame = {
    val cells = scored.groupBy(col("cls"), col("sc"))
      .agg(sum(col("pos")).as("n_pos"), sum(lit(1L) - col("pos")).as("n_neg"))
    val above = Window.partitionBy(col("cls")).orderBy(col("sc").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    cells
      .withColumn("cum_tp", sum(col("n_pos")).over(above))
      .withColumn("cum_all",
        sum(col("n_pos") + col("n_neg")).over(above))
      .withColumn("term", expr("CAST(CAST(n_pos AS DECIMAL(38,0)) * cum_tp" +
        s" * $ApTermScale div cum_all AS BIGINT)"))
      .groupBy(col("cls"))
      .agg(sum(col("n_pos")).as("n_pos"), sum(col("n_neg")).as("n_neg"),
        sum(col("term")).as("sum_term"))
      .select(col("cls").cast("long").as("label"), col("n_pos"), col("n_neg"),
        when(col("n_pos") === 0, lit(0L))
          .otherwise(expr("sum_term div (n_pos * 1000)")).as("ap_ppm"))
  }

  /** K179: EXACT PR-AUC (AVERAGE PRECISION) — the area under the
    * precision-recall curve as the step sum Σ ΔR·P over distinct
    * score thresholds (the convention sklearn's
    * average_precision_score documents, after Zhu 2004's "recall
    * step" reading; Davis & Goadrich, ICML 2006 on why PR — not
    * ROC — is the honest number under class imbalance). ROC-AUC
    * (K176) weights positives and negatives symmetrically; a
    * curation gate that keeps 2% of a corpus is tuned where
    * negatives outnumber positives 50:1, exactly where AP and AUC
    * disagree. Same scorer ([[centroidScored]]), same cells, a
    * different integral: see [[apFromScored]] for the lattice.
    *
    * Shape: identical to K176 — the scorer's one N×d explode +
    * broadcast centroid join, then a lattice-sized (≤ classes ×
    * 2·10⁴ cells, corpus-size-free) window + rollup. */
  def prAuc(s: SparkSession, dir: String): DataFrame =
    apFromScored(centroidScored(s, dir))

  lazy val prAucSql: String =
    s"""WITH $centroidScoredCte,
       |cells AS (
       |  SELECT cls, sc, sum(pos)::BIGINT AS n_pos,
       |    sum(1 - pos)::BIGINT AS n_neg
       |  FROM scored GROUP BY 1, 2),
       |cum AS (
       |  SELECT cls, n_pos, n_neg,
       |    sum(n_pos) OVER w::BIGINT AS cum_tp,
       |    sum(n_pos + n_neg) OVER w::BIGINT AS cum_all
       |  FROM cells
       |  WINDOW w AS (PARTITION BY cls ORDER BY sc DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |terms AS (
       |  SELECT cls, n_pos, n_neg,
       |    (n_pos::HUGEINT * cum_tp * $ApTermScale // cum_all)::BIGINT AS term
       |  FROM cum)
       |SELECT cls::BIGINT AS label, sum(n_pos)::BIGINT AS n_pos,
       |  sum(n_neg)::BIGINT AS n_neg,
       |  CASE WHEN sum(n_pos) = 0 THEN 0
       |       ELSE sum(term) // (sum(n_pos) * 1000) END::BIGINT AS ap_ppm
       |FROM terms GROUP BY cls""".stripMargin

  /** [[calibrationEval]]/[[isotonicFit]] probability lattice: the
    * signed ×[[AucScale]] cosine shifted to p2 = sc + AucScale ∈
    * [0, 2·AucScale] — a ×[[PScale]] probability (the documented
    * monotone map from similarity to a [0,1] confidence; the swap
    * point for a real sigmoid head). Kept ×2 so the shift stays on
    * an integer lattice (sc parity varies). */
  val PScale = 2L * AucScale

  /** Reliability bins for [[calibrationEval]] (the standard 10-bin
    * diagram) and [[isotonicFit]] (20, so pooling is visible). */
  val EceBins = 10
  val IsoBins = 20

  /** The ECE/Brier machinery of [[calibrationEval]], factored for
    * planted-frame specs. All-integer: per (cls, bin) the gap
    * numerator |pos_b·PScale − Σp2| is exact, and
    * ece_ppm = Σ gaps · 10⁶ div (N·PScale) — the equal-width
    * binned ECE definition (Naeini et al., AAAI 2015) with zero
    * float accumulation; brier_ppm = Σ (p2 − pos·PScale)² · 10⁶
    * div (N·PScale²) (Brier 1950), the sum of squares a BIGINT
    * (≤ N·PScale² = 4·10¹⁷ at 10⁹ rows), the div DECIMAL(38). */
  private[graft] def calibFromScored(scored: DataFrame): DataFrame = {
    val binned = scored
      .select(col("cls"), col("pos"), (col("sc") + lit(AucScale)).as("p2"))
      .withColumn("bin", least(expr(s"p2 div ${PScale / EceBins}"),
        lit(EceBins - 1L)))
      .groupBy(col("cls"), col("bin"))
      .agg(count(lit(1)).as("n_b"), sum(col("pos")).as("pos_b"),
        sum(col("p2")).as("sum_p2"),
        sum((col("p2") - col("pos") * PScale) *
          (col("p2") - col("pos") * PScale)).as("sq_b"))
      .withColumn("gap_b", abs(col("pos_b") * PScale - col("sum_p2")))
    binned.groupBy(col("cls"))
      .agg(sum(col("n_b")).as("n"), sum(col("gap_b")).as("sum_gap"),
        sum(col("sq_b")).as("sum_sq"),
        // gap·10⁶ ≤ n·PScale·10⁶ = n·2·10¹⁰ passes BIGINT past
        // ~4.6·10⁸ rows/class — widen BOTH engines (HUGEINT twin)
        max(expr("CAST(CAST(gap_b AS DECIMAL(38,0)) * 1000000" +
          s" div (CAST(n_b AS DECIMAL(38,0)) * $PScale) AS BIGINT)"))
          .as("max_bin_gap_ppm"))
      .select(col("cls").cast("long").as("label"), col("n"),
        expr("CAST(CAST(sum_gap AS DECIMAL(38,0)) * 1000000" +
          s" div (CAST(n AS DECIMAL(38,0)) * $PScale) AS BIGINT)").as("ece_ppm"),
        expr("CAST(CAST(sum_sq AS DECIMAL(38,0)) * 1000000" +
          s" div (CAST(n AS DECIMAL(38,0)) * $PScale * $PScale)" +
          " AS BIGINT)").as("brier_ppm"),
        col("max_bin_gap_ppm"))
  }

  /** K180: CALIBRATION EVAL — expected calibration error over the
    * standard [[EceBins]]-bin reliability diagram (Naeini et al.
    * 2015; the binned-ECE form popularized by Guo et al., ICML
    * 2017) plus the Brier score (Brier, Monthly Weather Review
    * 1950), per class, for the same one-vs-rest scorer the other
    * binary evals grade. AUC/AP are rank statistics — invariant to
    * any monotone mis-scaling of the scores; a gate that THRESHOLDS
    * (K134 clip_gate keeps score ≥ τ) needs the scores to MEAN
    * something, which is exactly what ECE measures and what K181
    * repairs. Confidence = the ×[[PScale]] shifted-cosine lattice
    * (see [[PScale]]); every accumulation is an exact BIGINT.
    *
    * Shape: the scorer, then ONE (cls, bin) combining aggregate
    * (≤ classes × [[EceBins]] cells) and a ≤classes-row rollup —
    * nothing wider than the scorer itself at any corpus size. */
  def calibrationEval(s: SparkSession, dir: String): DataFrame =
    calibFromScored(centroidScored(s, dir))

  lazy val calibrationEvalSql: String =
    s"""WITH $centroidScoredCte,
       |binned AS (
       |  SELECT cls, least((sc + $AucScale) // ${PScale / EceBins},
       |           ${EceBins - 1}) AS bin,
       |    count(*)::BIGINT AS n_b, sum(pos)::BIGINT AS pos_b,
       |    sum(sc + $AucScale)::BIGINT AS sum_p2,
       |    sum((sc + $AucScale - pos * $PScale)
       |      * (sc + $AucScale - pos * $PScale))::BIGINT AS sq_b
       |  FROM scored GROUP BY 1, 2),
       |gaps AS (
       |  SELECT cls, bin, n_b, sq_b,
       |    abs(pos_b * $PScale - sum_p2)::BIGINT AS gap_b
       |  FROM binned)
       |SELECT cls::BIGINT AS label, sum(n_b)::BIGINT AS n,
       |  (sum(gap_b)::HUGEINT * 1000000
       |    // (sum(n_b)::HUGEINT * $PScale))::BIGINT AS ece_ppm,
       |  (sum(sq_b)::HUGEINT * 1000000
       |    // (sum(n_b)::HUGEINT * $PScale * $PScale))::BIGINT AS brier_ppm,
       |  max(gap_b::HUGEINT * 1000000
       |    // (n_b::HUGEINT * $PScale))::BIGINT AS max_bin_gap_ppm
       |FROM gaps GROUP BY cls""".stripMargin

  /** The PAV machinery of [[isotonicFit]], factored for specs.
    * Input: a binned frame (cls, bin, n_b, pos_b), n_b > 0. The
    * isotonic (non-decreasing) least-squares fit via the exact
    * minimax identity (Ayer et al., Ann. Math. Stat. 1955 — the
    * closed form of Pool-Adjacent-Violators):
    * fit_k = max_{i≤k} min_{j≥k} avg(pos / n over bins i..j),
    * with every candidate segment average pre-floored to the ppm
    * lattice (a_ij = seg_pos·10⁶ div seg_n) so the minimax runs on
    * integers — flooring is monotone, so the fit stays isotonic
    * and engine-exact. Bin count B = [[IsoBins]] bounds the pair
    * enumeration at classes·B³ ≈ 3·10⁴ rows — corpus-size-free. */
  private[graft] def pavFit(binned: DataFrame): DataFrame = {
    val pre = Window.partitionBy(col("cls")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val pfx = binned
      .withColumn("cn", sum(col("n_b")).over(pre))
      .withColumn("cp", sum(col("pos_b")).over(pre))
      .localCheckpoint() // ≤ classes × IsoBins rows; read three ways
    val segs = pfx.select(col("cls"), col("bin").as("i"),
        (col("cn") - col("n_b")).as("cn_lo"), (col("cp") - col("pos_b")).as("cp_lo"))
      .join(pfx.select(col("cls"), col("bin").as("j"),
        col("cn").as("cn_hi"), col("cp").as("cp_hi")), Seq("cls"))
      .where(col("i") <= col("j"))
      .select(col("cls"), col("i"), col("j"),
        expr("(cp_hi - cp_lo) * 1000000 div (cn_hi - cn_lo)").as("a"))
    val mins = segs.join(pfx.select(col("cls"), col("bin").as("k")), Seq("cls"))
      .where(col("i") <= col("k") && col("k") <= col("j"))
      .groupBy(col("cls"), col("k"), col("i"))
      .agg(min(col("a")).as("m"))
      .groupBy(col("cls"), col("k")).agg(max(col("m")).as("fit_ppm"))
      // fresh names: mins descends from binned, so joining the two on
      // bare cols would self-reference (the trivially-true-equals trap)
      .select(col("cls").as("f_cls"), col("k"), col("fit_ppm"))
    binned.join(mins, col("cls") === col("f_cls") && col("bin") === col("k"))
      .select(col("cls").cast("long").as("label"), col("bin"),
        col("n_b").as("n"), col("pos_b").as("n_pos"),
        expr("pos_b * 1000000 div n_b").as("rate_ppm"), col("fit_ppm"))
  }

  /** K181: ISOTONIC CALIBRATION FIT — the Pool-Adjacent-Violators
    * solution (Ayer et al. 1955; the isotonic-regression
    * calibration recipe of Zadrozny & Elkan, KDD 2002) mapping the
    * scorer's confidence bins to a monotone non-decreasing
    * probability fit — the repair step for whatever K180 measures.
    * Computed via the exact minimax closed form, not the
    * sequential pooling sweep: max-over-prefixes of
    * min-over-suffixes of segment rates, every rate an exact
    * integral div on the ppm lattice (see [[pavFit]]); the
    * sequential PAV algorithm and the minimax formula provably
    * coincide, and the formula is embarrassingly relational where
    * the sweep is order-coupled. [[IsoBins]] bins over the
    * ×[[PScale]] confidence lattice.
    *
    * Shape: the scorer collapses to ≤ classes × [[IsoBins]] binned
    * rows FIRST; the B³ minimax enumeration happens on that
    * corpus-size-free frame (broadcast self-joins, ~3·10⁴ rows) —
    * the classic sketch-then-solve split: no per-row work depends
    * on B, no per-bin work depends on N. */
  def isotonicFit(s: SparkSession, dir: String): DataFrame = {
    val binned = centroidScored(s, dir)
      .select(col("cls"), col("pos"), (col("sc") + lit(AucScale)).as("p2"))
      .withColumn("bin", least(expr(s"p2 div ${PScale / IsoBins}"),
        lit(IsoBins - 1L)))
      .groupBy(col("cls"), col("bin"))
      .agg(count(lit(1)).as("n_b"), sum(col("pos")).as("pos_b"))
    pavFit(binned)
  }

  lazy val isotonicFitSql: String =
    s"""WITH $centroidScoredCte,
       |binned AS (
       |  SELECT cls, least((sc + $AucScale) // ${PScale / IsoBins},
       |           ${IsoBins - 1}) AS bin,
       |    count(*)::BIGINT AS n_b, sum(pos)::BIGINT AS pos_b
       |  FROM scored GROUP BY 1, 2),
       |pfx AS (
       |  SELECT cls, bin, n_b, pos_b,
       |    sum(n_b) OVER w::BIGINT AS cn, sum(pos_b) OVER w::BIGINT AS cp
       |  FROM binned
       |  WINDOW w AS (PARTITION BY cls ORDER BY bin
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |segs AS (
       |  SELECT lo.cls, lo.bin AS i, hi.bin AS j,
       |    ((hi.cp - lo.cp + lo.pos_b) * 1000000
       |      // (hi.cn - lo.cn + lo.n_b))::BIGINT AS a
       |  FROM pfx lo JOIN pfx hi ON lo.cls = hi.cls AND lo.bin <= hi.bin),
       |mins AS (
       |  SELECT s.cls, k.bin AS k, s.i, min(s.a)::BIGINT AS m
       |  FROM segs s JOIN pfx k
       |    ON s.cls = k.cls AND s.i <= k.bin AND k.bin <= s.j
       |  GROUP BY 1, 2, 3),
       |fit AS (
       |  SELECT cls, k AS bin, max(m)::BIGINT AS fit_ppm
       |  FROM mins GROUP BY 1, 2)
       |SELECT b.cls::BIGINT AS label, b.bin, b.n_b AS n, b.pos_b AS n_pos,
       |  (b.pos_b * 1000000 // b.n_b)::BIGINT AS rate_ppm, f.fit_ppm
       |FROM binned b JOIN fit f ON b.cls = f.cls AND b.bin = f.bin""".stripMargin

  /** ColBERT folding: 64 dims -> [[CbTokens]] sub-vectors of
    * [[CbDim]] dims, and the result depth. */
  val CbTokens = 16
  val CbDim = 4
  val CbTopK = 5

  /** K152: LATE-INTERACTION MAXSIM — the ColBERT scoring function
    * (Khattab & Zaharia, SIGIR 2020): instead of one dot product per
    * (query, doc), score = Σ over query token-vectors of the MAX
    * similarity against any doc token-vector — fine-grained term
    * matching that single-vector retrieval provably cannot express
    * (a doc matching half the query terms perfectly beats one
    * matching all terms weakly). Token embeddings stand in as the
    * [[CbTokens]]×[[CbDim]] FOLD of the 64-dim corpus vectors (the
    * K134 clip_gate folding convention — the documented swap point
    * for a real token-level encoder). Every sub-vector quantizes to
    * the ×10⁴ half-up lattice FIRST, so each of the 16×16 4-dim dots
    * is an exact BIGINT and the MaxSim sum, ranking and hash are
    * integer-identical across engines. Top-[[CbTopK]] per probe with
    * nb tie-break.
    *
    * Shape: probes broadcast, ONE corpus scan; the 16×16 dot grid is
    * per-row HOF algebra inside codegen (no explode — the pair never
    * leaves its row); the only shuffle is the two-phase top-K rank.
    * At 100 TB the candidate set comes from an index (D2/D3) and
    * MaxSim re-scores candidates — exactly how ColBERT deploys. */
  def colbertMaxsim(s: SparkSession, dir: String): DataFrame = {
    val q4 = (c: org.apache.spark.sql.Column) =>
      transform(c, x => floor(x.cast("double") * 10000 + 0.5).cast("long"))
    // the codegen'd [[graft.plans.MaxSimScore]] kernel: bit-identical
    // to the nested-HOF column form (AnnSpec's oracle), which is
    // CodegenFallback and measured 5.7× slower (ABProbe, sf0.1, warm
    // med 0.58 vs 3.30 s; SURVEY.md K152)
    val score = call_function("maxsim_score", col("qe4"), col("ne4"),
      lit(CbDim.toLong))
    val qs = embeddings(s, dir).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), q4(col("embedding")).as("qe4"))
    val scored = embeddings(s, dir)
      .select(col("vec_id").as("nb"), q4(col("embedding")).as("ne4"))
      .join(broadcast(qs), col("nb") =!= col("qid"))
      .select(col("qid"), col("nb"), score.as("score"))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("nb"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= CbTopK)
      .select(col("qid"), col("nb"), col("rnk"), col("score"))
  }

  val colbertMaxsimSql: String = {
    val dotTerms = (1 to CbDim)
      .map(t => s"qe4[i * $CbDim + $t] * ne4[j * $CbDim + $t]").mkString(" + ")
    s"""WITH qz AS (
       |  SELECT vec_id AS qid,
       |    [CAST(floor(x::DOUBLE * 10000 + 0.5) AS BIGINT) for x in embedding] AS qe4
       |  FROM embeddings WHERE vec_id < $NumQueries),
       |nz AS (
       |  SELECT vec_id AS nb,
       |    [CAST(floor(x::DOUBLE * 10000 + 0.5) AS BIGINT) for x in embedding] AS ne4
       |  FROM embeddings),
       |sc AS (
       |  SELECT qid, nb,
       |    list_sum([list_max([$dotTerms
       |      for j in range(0, $CbTokens)])
       |      for i in range(0, $CbTokens)])::BIGINT AS score
       |  FROM qz, nz WHERE nb <> qid)
       |SELECT qid, nb, rnk, score FROM (
       |  SELECT qid, nb, score,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, nb) AS rnk
       |  FROM sc)
       |WHERE rnk <= $CbTopK""".stripMargin
  }

  /** K153: kNN LABEL-NOISE FILTERING — the Deep k-NN noisy-label
    * filter (Bahri, Jiang & Gupta, ICML 2020): a training point is
    * flagged when its OWN label agrees with at most half of its
    * k nearest neighbors' labels — neighborhood disagreement is the
    * model-free noise signal, and the paper shows filtering on it
    * beats loss-based cleaning at realistic noise rates. The
    * class-conditional read (per label: points, flagged, flag rate,
    * mean neighbor agreement — label noise is rarely uniform) a
    * pipeline inspects BEFORE k-NN-label evals (K81's confusion
    * matrix) can be trusted. Rides the persisted exact top-[[K]]
    * artifact wholesale (the K81/K114 contract — the LSH swap
    * applies unchanged).
    *
    * Shape: two (vec,label)-keyed equi-joins of the K·N list frame
    * against the N-row label frame, one per-point aggregate, one
    * L-sized rollup — join-cost-only, nothing rescans vectors. */
  def labelNoiseKnn(s: SparkSession, dir: String): DataFrame = {
    val lab = embeddings(s, dir).select(col("vec_id"), col("label"))
    val perPoint = knnJoin(s, dir).select(col("vec_id"), col("nb"))
      .join(lab.select(col("vec_id").as("nb"), col("label").as("nl")), "nb")
      .join(lab, "vec_id")
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(when(col("nl") === col("label"), 1L).otherwise(0L)).as("agree"),
        count(lit(1)).as("k"))
    perPoint
      .withColumn("flagged", col("agree") * 2 <= col("k"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_points"),
        sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"),
        sum(col("agree")).as("agree_sum"), sum(col("k")).as("k_sum"))
      .select(col("label"), col("n_points"), col("n_flagged"),
        expr("(n_flagged * 1000) div n_points").as("flag_pm"),
        expr("(agree_sum * 1000) div k_sum").as("agree_pm"))
  }

  val labelNoiseKnnSql: String =
    s"""WITH knn AS ($knnJoinSql),
       |lab AS (SELECT vec_id, label FROM embeddings),
       |pp AS (
       |  SELECT k.vec_id, o.label,
       |    sum(CASE WHEN n.label = o.label THEN 1 ELSE 0 END)::BIGINT AS agree,
       |    count(*)::BIGINT AS kk
       |  FROM knn k
       |  JOIN lab n ON n.vec_id = k.nb
       |  JOIN lab o ON o.vec_id = k.vec_id
       |  GROUP BY 1, 2)
       |SELECT label, count(*)::BIGINT AS n_points,
       |  sum(CASE WHEN agree * 2 <= kk THEN 1 ELSE 0 END)::BIGINT AS n_flagged,
       |  (sum(CASE WHEN agree * 2 <= kk THEN 1 ELSE 0 END) * 1000 // count(*))::BIGINT
       |    AS flag_pm,
       |  (sum(agree) * 1000 // sum(kk))::BIGINT AS agree_pm
       |FROM pp GROUP BY label""".stripMargin

  /** k-center coreset size. */
  val KcK = 5

  /** K158: K-CENTER-GREEDY CORESET — the classic 2-approximation
    * farthest-point selection (Gonzalez 1985) as deployed for
    * training-data subset selection by Sener & Savarese (ICLR 2018,
    * "Active Learning for CNNs: A Core-Set Approach"): seed with the
    * smallest vec_id, then each round add the point FARTHEST from
    * its nearest already-selected center — after k rounds the
    * selected set's covering radius is within 2× of the optimal
    * k-center cover, so a model trained on the coreset has a
    * bounded loss gap on the full set (their Thm 1). The
    * per-round pick's min-distance IS the covering radius of the
    * previous center set, so the emitted radius sequence is the
    * coverage-vs-budget curve a curator reads to size the subset
    * (non-increasing; spec-pinned). Distances are squared L2 in
    * doubles via the codegen'd vec_dot kernel with the oracle's
    * operand order (d² = ‖a‖² + ‖b‖² − 2a·b — the pairCos
    * convention), so argmax/min comparisons see bit-identical
    * doubles on both engines; output radius rounds ×10⁴ half-up
    * AFTER selection (the knn_join convention).
    *
    * Shape: [[KcK]] rounds over ONE persisted corpus frame; each
    * round is a ≤[[KcK]]-row broadcast nested-loop against the scan,
    * a vec_id-keyed min, and a 1-row TakeOrdered argmax collected
    * driver-side (the bpe_train bounded-argmax contract — K is a
    * constant, never data-scale); the result frame is K rows built
    * from the picks. The greedy loop is inherently sequential; the
    * corpus work per round is one map-side join + one combining
    * aggregate, shuffle ∝ corpus rows. */
  def kcenterCoreset(s: SparkSession, dir: String): DataFrame = {
    val v = embeddings(s, dir).select(col("vec_id"), col("embedding"))
      .withColumn("n2", VecFns.dot(col("embedding"), col("embedding")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val seed = v.orderBy(col("vec_id")).limit(1)
      .select(col("vec_id")).collect()(0).getLong(0)
    var picks = Vector((1L, seed, 0.0))
    for (r <- 2 to KcK) {
      val ids = picks.map(_._2)
      val centers = v.filter(col("vec_id").isin(ids: _*))
        .select(col("vec_id").as("cid"), col("embedding").as("ce"),
          col("n2").as("cn2"))
      val p = v.filter(!col("vec_id").isin(ids: _*))
        .crossJoin(broadcast(centers)) // ≤ KcK-row grid
        .select(col("vec_id"),
          (col("n2") + col("cn2") -
            lit(2.0) * VecFns.dot(col("embedding"), col("ce"))).as("d2"))
        .groupBy(col("vec_id")).agg(min(col("d2")).as("dmin"))
        .orderBy(col("dmin").desc, col("vec_id")).limit(1)
        .collect()(0) // 1-row argmax (the bpe_train contract)
      picks = picks :+ ((r.toLong, p.getLong(0), p.getDouble(1)))
    }
    v.unpersist()
    import s.implicits._
    picks.map { case (r, id, d2) =>
      (r, id, math.floor(d2 * 10000 + 0.5) / 10000)
    }.toDF("round", "center_id", "radius2")
  }

  /** DBSCAN parameters: the cosine eps (on the artifact's ×10⁴
    * lattice), the core-point density floor, and the propagation
    * round budget (unrolled in the oracle like CcRounds). */
  val DbEps = 0.35
  val DbMinPts = 3
  val DbRounds = 4

  /** K162: DBSCAN CLUSTERING — the canonical density-based clusterer
    * (Ester, Kriegel, Sander & Xu, KDD 1996; 2014 KDD test-of-time):
    * CORE points have ≥ [[DbMinPts]] neighbors within eps, clusters
    * are the connected components of the core-point eps-graph,
    * BORDER points attach to a core neighbor, the rest is NOISE —
    * the labels/K81-independent structure read on an embedding space
    * (how many dense regions, how much of the corpus is in none).
    * The eps-neighborhood is approximated by the PERSISTED H7 top-K
    * artifact filtered to cos ≥ [[DbEps]] (the standard kNN-graph
    * DBSCAN deployment at scale — exact eps-range search is the
    * declared oracle-side luxury; here BOTH engines read the same
    * artifact contract, so they agree exactly), symmetrized.
    * Components by [[DbRounds]] min-label propagation rounds with
    * the relationally-computed `converged` flag (the cc_labels
    * contract); border points take the MINIMUM adjacent core
    * component (deterministic where the paper leaves it arbitrary).
    * Output per cluster: core/border counts, plus the cluster=−1
    * noise row and the convergence flag.
    *
    * Shape: everything after the artifact read is (vec, vec)-sized —
    * edge symmetrize + degree count (one shuffle ∝ K·N), the
    * propagation's per-round equi-join + combining min (∝ core
    * edges), and report-sized rollups. Nothing rescans the corpus. */
  def dbscanCluster(s: SparkSession, dir: String): DataFrame = {
    val k = knnJoin(s, dir).select(col("vec_id"), col("nb"), col("cos"))
      .filter(col("cos") >= DbEps)
    val sym = k.select(col("vec_id").as("a"), col("nb").as("b"))
      .unionByName(k.select(col("nb").as("a"), col("vec_id").as("b")))
      .distinct()
      .localCheckpoint() // ≤ 2·K·N rows; four consumers below
    val core = sym.groupBy(col("a")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= DbMinPts).select(col("a").as("n"))
    val coreEdges = sym
      .join(core.select(col("n").as("a")), "a")
      .join(core.select(col("n").as("b")), "b")
      .select(col("a").as("n"), col("b").as("nb"))
      .localCheckpoint()
    var lab = core.withColumn("lab", col("n")).localCheckpoint()
    for (r <- 1 to DbRounds) {
      val viaNb = coreEdges
        .join(lab.select(col("n").as("nb"), col("lab").as("nl")), "nb")
        .groupBy(col("n")).agg(min(col("nl")).as("nl"))
      lab = lab.join(viaNb, Seq("n"), "left_outer")
        .select(col("n"),
          least(col("lab"), coalesce(col("nl"), col("lab"))).as("lab"))
      if (r % 4 == 0) lab = lab.localCheckpoint()
    }
    val better = coreEdges
      .join(lab.select(col("n").as("nb"), col("lab").as("nl")), "nb")
      .join(lab, "n")
      .filter(col("nl") < col("lab"))
      .agg(count(lit(1)).as("nbetter"))
      .select((col("nbetter") === 0L).as("converged"))
    val borderLab = sym
      .join(lab.select(col("n").as("b"), col("lab")), "b")
      .join(core.select(col("n").as("a")), Seq("a"), "left_anti")
      .groupBy(col("a")).agg(min(col("lab")).as("lab"))
    val clusters = lab.groupBy(col("lab"))
      .agg(count(lit(1)).as("n_core"))
      .join(borderLab.groupBy(col("lab")).agg(count(lit(1)).as("n_border")),
        Seq("lab"), "full_outer")
      .na.fill(0L, Seq("n_core", "n_border"))
      .select(col("lab").as("cluster"), col("n_core"), col("n_border"),
        lit(0L).as("n_noise"))
    val noise = embeddings(s, dir).agg(count(lit(1)).as("n_all"))
      .crossJoin(broadcast(lab.agg(count(lit(1)).as("nc"))))
      .crossJoin(broadcast(borderLab.agg(count(lit(1)).as("nb_"))))
      .select(lit(-1L).as("cluster"), lit(0L).as("n_core"),
        lit(0L).as("n_border"), (col("n_all") - col("nc") - col("nb_")).as("n_noise"))
    clusters.unionByName(noise)
      .crossJoin(broadcast(better)) // 1-row scalar convergence frame
  }

  lazy val dbscanClusterSql: String = {
    val roundCtes = (1 to DbRounds).map { r =>
      s"""lab$r AS MATERIALIZED (
         |  SELECT l.n, least(l.lab, coalesce(min(x.nl), l.lab)) AS lab
         |  FROM lab${r - 1} l
         |  LEFT JOIN (SELECT a.n, p.lab AS nl FROM core_edges a
         |             JOIN lab${r - 1} p ON a.nb = p.n) x ON x.n = l.n
         |  GROUP BY l.n, l.lab)""".stripMargin
    }.mkString(",\n")
    s"""WITH knn AS MATERIALIZED (
       |  SELECT vec_id, nb, cos FROM ($knnJoinSql) WHERE cos >= $DbEps),
       |sym AS MATERIALIZED (
       |  SELECT DISTINCT a, b FROM (
       |    SELECT vec_id AS a, nb AS b FROM knn
       |    UNION ALL SELECT nb, vec_id FROM knn)),
       |core AS MATERIALIZED (
       |  SELECT a AS n FROM sym GROUP BY a HAVING count(*) >= $DbMinPts),
       |core_edges AS MATERIALIZED (
       |  SELECT s.a AS n, s.b AS nb FROM sym s
       |  JOIN core c1 ON s.a = c1.n JOIN core c2 ON s.b = c2.n),
       |lab0 AS MATERIALIZED (SELECT n, n AS lab FROM core),
       |$roundCtes,
       |conv AS (
       |  SELECT count(*) = 0 AS converged
       |  FROM core_edges a JOIN lab$DbRounds p ON a.nb = p.n
       |  JOIN lab$DbRounds l ON a.n = l.n
       |  WHERE p.lab < l.lab),
       |border AS MATERIALIZED (
       |  SELECT s.a, min(p.lab) AS lab FROM sym s
       |  JOIN lab$DbRounds p ON s.b = p.n
       |  WHERE s.a NOT IN (SELECT n FROM core)
       |  GROUP BY s.a),
       |cc AS (SELECT lab, count(*)::BIGINT AS n_core FROM lab$DbRounds GROUP BY lab),
       |bc AS (SELECT lab, count(*)::BIGINT AS n_border FROM border GROUP BY lab),
       |clusters AS (
       |  SELECT coalesce(cc.lab, bc.lab) AS cluster,
       |    coalesce(cc.n_core, 0)::BIGINT AS n_core,
       |    coalesce(bc.n_border, 0)::BIGINT AS n_border,
       |    0::BIGINT AS n_noise
       |  FROM cc FULL OUTER JOIN bc ON cc.lab = bc.lab
       |  UNION ALL
       |  SELECT -1::BIGINT,  0::BIGINT, 0::BIGINT,
       |    ((SELECT count(*) FROM embeddings)
       |     - (SELECT count(*) FROM lab$DbRounds)
       |     - (SELECT count(*) FROM border))::BIGINT)
       |SELECT cluster, n_core, n_border, n_noise, conv.converged
       |FROM clusters, conv""".stripMargin
  }

  lazy val kcenterCoresetSql: String = {
    val rounds = (2 to KcK).map { r =>
      val prev = r - 1
      s"""d$r AS (
         |  SELECT v.vec_id, min(v.n2 + c.n2 - 2 * list_dot_product(v.e, c.e)) AS dmin
         |  FROM v, c$prev c
         |  WHERE v.vec_id NOT IN (SELECT vec_id FROM c$prev)
         |  GROUP BY v.vec_id),
         |p$r AS (SELECT vec_id, dmin FROM d$r ORDER BY dmin DESC, vec_id LIMIT 1),
         |c$r AS (SELECT * FROM c$prev
         |        UNION ALL SELECT v.vec_id, v.e, v.n2 FROM v JOIN p$r USING (vec_id))"""
        .stripMargin
    }.mkString(",\n")
    val out = (2 to KcK).map(r =>
      s"UNION ALL SELECT $r::BIGINT, vec_id, floor(dmin * 10000 + 0.5) / 10000 FROM p$r")
      .mkString("\n")
    s"""WITH v AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS e,
       |    list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS n2
       |  FROM embeddings),
       |c1 AS (SELECT vec_id, e, n2 FROM v ORDER BY vec_id LIMIT 1),
       |$rounds
       |SELECT 1::BIGINT AS round, vec_id AS center_id, 0.0 AS radius2 FROM c1
       |$out""".stripMargin
  }

  /** [[annNsw]] beam width and expansion rounds. Beam must STRICTLY
    * exceed [[K]]: the query point itself occupies one beam slot
    * (cos = 1.0, excluded only at the final cut), so only
    * NswBeam − 1 non-self candidates are guaranteed — the final
    * top-K is a prefix of the beam (monotone best-so-far: the beam
    * re-includes itself each round) only when NswBeam > K. The
    * require makes a future K/NswBeam bump fail fast instead of
    * silently returning fewer than K rows per query. */
  val NswBeam = 8
  val NswRounds = 4
  require(NswBeam > K,
    s"NswBeam ($NswBeam) must exceed K ($K): the query's self slot " +
      "leaves only NswBeam - 1 guaranteed non-self candidates")

  /** K173: NSW GRAPH-SEARCH ANN — greedy best-first beam search over
    * a navigable neighbor graph, the single-layer core of HNSW
    * (Malkov & Yashunin, TPAMI 2020; lineage Malkov et al. 2014 NSW)
    * — THE deployed ANN family this module's hash (D2 LSH), cell
    * (D3 IVF) and code (K72 PQ) paths did not yet cover: instead of
    * hashing or partitioning the space, WALK a precomputed neighbor
    * graph from an entry point, always expanding the best
    * candidates found so far. Graph = the symmetrized persisted H7
    * top-K artifact (the standard kNN-graph stand-in for the NSW
    * insertion graph; 5th artifact consumer), entry = min vec_id
    * (deterministic), [[NswRounds]] synchronous expansions of a
    * [[NswBeam]]-wide beam: candidates = beam ∪ neighbors(beam),
    * re-scored against the query, keep top-beam by (cos desc, id).
    * Because the beam re-includes itself, it is monotone best-so-far
    * — no separate visited set, and the final answer is the beam's
    * top-[[K]] (self excluded). Exact doubles via the shared
    * [[pairCos]]; ties and the final cut deterministic; recall vs D1
    * spec-pinned (the D2/D3 contract). At 100 TB the per-round cost
    * is probe-beam-sized joins against the artifact — search cost
    * scales with beam × rounds × K, NOT corpus size, which is
    * exactly the property that made graph ANN the production choice.
    *
    * Shape: per round ONE (beam ⋈ graph) candidate join + ONE
    * corpus-keyed score join + a per-query width-[[NswBeam]] window;
    * beam frames localCheckpoint'd (the kcore lineage convention). */
  def annNsw(s: SparkSession, dir: String): DataFrame = {
    val g = {
      val k = knnJoin(s, dir).select(col("vec_id").as("a"), col("nb").as("b"))
      k.unionByName(k.select(col("b").as("a"), col("a").as("b"))).distinct()
        .localCheckpoint() // <= 2*K*N rows; joined every round
    }
    val v = vecs(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = probes(s, dir).localCheckpoint() // NumQueries rows; broadcast
    val entry = v.crossJoin(broadcast(v.agg(min(col("vec_id")).as("mid"))))
      .filter(col("vec_id") === col("mid"))
      .select(col("vec_id").as("nb"), col("embedding").as("ne"),
        col("nn").as("n2"))
    var beam = q.crossJoin(broadcast(entry))
      .select(col("qid"), col("nb"),
        pairCos(col("qe"), col("ne"), col("qn"), col("n2")).as("cos"))
      .localCheckpoint()
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nb"))
    for (_ <- 1 to NswRounds) {
      val cand = beam.select(col("qid"), col("nb"))
        .join(g, col("nb") === col("a"))
        .select(col("qid"), col("b").as("nb"))
        .unionByName(beam.select(col("qid"), col("nb")))
        .distinct()
      val scored = cand
        .join(v, cand("nb") === v("vec_id"))
        .join(broadcast(q), "qid")
        .select(col("qid"), col("nb"),
          pairCos(col("qe"), col("embedding"), col("qn"), col("nn")).as("cos"))
      beam = scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= NswBeam)
        .select(col("qid"), col("nb"), col("cos"))
        .localCheckpoint()
    }
    val out = topK(beam.filter(col("nb") =!= col("qid")))
      .localCheckpoint() // report-sized; release the corpus cache
    v.unpersist()
    out
  }

  lazy val annNswSql: String = {
    val roundCtes = (1 to NswRounds).map { r =>
      val prev = s"f${r - 1}"
      s"""cand$r AS MATERIALIZED (
         |  SELECT DISTINCT qid, nb FROM (
         |    SELECT f.qid, g.b AS nb FROM $prev f JOIN g ON g.a = f.nb
         |    UNION ALL SELECT qid, nb FROM $prev)),
         |sc$r AS MATERIALIZED (
         |  SELECT c.qid, c.nb, $cosSql AS cos
         |  FROM cand$r c
         |  JOIN v ON v.vec_id = c.nb
         |  JOIN q ON q.qid = c.qid),
         |f$r AS MATERIALIZED (
         |  SELECT qid, nb, cos FROM (
         |    SELECT qid, nb, cos,
         |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nb) AS rk
         |    FROM sc$r) WHERE rk <= $NswBeam)""".stripMargin
    }.mkString(",\n")
    s"""WITH knn AS MATERIALIZED ($knnJoinSql),
       |g AS MATERIALIZED (
       |  SELECT DISTINCT a, b FROM (
       |    SELECT vec_id AS a, nb AS b FROM knn
       |    UNION ALL SELECT nb, vec_id FROM knn)),
       |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
       |      WHERE vec_id < $NumQueries),
       |v AS (SELECT vec_id, embedding AS ne FROM embeddings),
       |e0 AS (SELECT min(vec_id) AS nb FROM embeddings),
       |f0 AS (
       |  SELECT q.qid, e0.nb, $cosSql AS cos
       |  FROM q CROSS JOIN e0 JOIN v ON v.vec_id = e0.nb),
       |$roundCtes
       |SELECT qid, nb, rnk, floor((cos) * 10000.0 + 0.5) / 10000.0 AS cos
       |FROM (
       |  SELECT qid, nb, cos,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nb) AS rnk
       |  FROM f$NswRounds WHERE nb <> qid) WHERE rnk <= $K""".stripMargin
  }

  /** [[lofOutliers]] fixed point: local reachability density is the
    * exact integer lrd = [[LofScale]] div Σreach (reciprocals on a
    * 10¹² lattice — the record_linkage/dsir integer-division
    * convention, no float in the score). */
  val LofScale = 1000000000000L
  val LofTopK = 20

  /** [[lofOutliers]] flag threshold, ppm: LOF ≥ 1.5 is the usual
    * "clearly less dense than its neighborhood" read. */
  val LofFlagPpm = 1500000L

  /** K169: LOCAL OUTLIER FACTOR — the canonical density-based
    * outlier score (Breunig, Kriegel, Ng & Sander, SIGMOD 2000;
    * 2025 test-of-time in spirit — it is what sklearn/ELKI ship as
    * THE local outlier method): a point is outlying not by absolute
    * distance (K9 `outlier_mad`'s univariate read) but by the RATIO
    * of its neighbors' local density to its own — LOF ≈ 1 inside any
    * uniform region regardless of that region's density, > 1 only
    * where a point is sparser than its OWN neighborhood, which is
    * what makes it the right embedding-space screen next to J6
    * `vec_health` (global norms), K149 `hub_stats` (k-occurrence),
    * K162 `dbscan_cluster` (binary noise verdict): LOF grades the
    * noise. Fourth consumer of the persisted H7 top-K artifact —
    * everything is artifact-sized joins, and the D2 LSH swap reaches
    * it unchanged. Definitions on the artifact: d = 1 − cos on the
    * ×10⁴ integer grid; k-distance(o) = max d over o's list;
    * reach(p←o) = max(d(p,o), kdist(o)); Σreach floored at 1 so a
    * pure-duplicate neighborhood scores lrd-ratio exactly 1.
    * Engine-portability: lrd on the [[LofScale]] reciprocal lattice,
    * LOF_ppm = (Σreach_p · (Σ_o lrd_o div K)) div 10⁶ — the integer-
    * division ORDER is part of the spec (mean floored before the
    * product), every step exact BIGINT in both engines.
    *
    * Shape: three artifact-keyed joins + two combining aggregates
    * (N·K rows max), a 1-row summary, a ([[LofTopK]], score, id)
    * deterministic cut. */
  def lofOutliers(s: SparkSession, dir: String): DataFrame = {
    val k = knnJoin(s, dir).select(col("vec_id"), col("nb"),
      (lit(10000L) - floor(col("cos") * 10000 + lit(0.5)).cast("long")).as("d"))
      .localCheckpoint() // N·K rows; read by kdist, reach and sum_r
    val kd = k.groupBy(col("vec_id")).agg(max(col("d")).as("kdist"))
    val reach = k
      .join(kd.select(col("vec_id").as("nb"), col("kdist").as("kd_o")), "nb")
      .select(col("vec_id"), greatest(col("d"), col("kd_o")).as("reach"))
    val sp = reach.groupBy(col("vec_id"))
      .agg(greatest(sum(col("reach")), lit(1L)).as("sreach"))
      .withColumn("r", expr(s"$LofScale div sreach"))
      .localCheckpoint() // N rows; self-joined through the artifact
    val sumr = k.join(sp.select(col("vec_id").as("nb"), col("r")), "nb")
      .groupBy(col("vec_id")).agg(sum(col("r")).as("sum_r"))
    val lof = sp.join(sumr, "vec_id").join(kd, "vec_id")
      .select(col("vec_id"), col("kdist"), col("sreach"),
        expr(s"(sreach * (sum_r div $K)) div 1000000").as("lof_ppm"))
      .localCheckpoint() // N rows; summary + report both read it
    val summary = lof.agg(count(lit(1)).as("n_vecs"),
      sum(when(col("lof_ppm") >= LofFlagPpm, 1L).otherwise(0L)).as("n_flagged"))
    lof.crossJoin(broadcast(summary)) // 1-row scalar report frame
      .orderBy(col("lof_ppm").desc, col("vec_id"))
      .limit(LofTopK)
  }

  lazy val lofOutliersSql: String =
    s"""WITH k AS (
       |  SELECT vec_id, nb,
       |    (10000 - floor(cos * 10000 + 0.5))::BIGINT AS d
       |  FROM ($knnJoinSql)),
       |kd AS (SELECT vec_id, max(d)::BIGINT AS kdist FROM k GROUP BY 1),
       |reach AS (
       |  SELECT k.vec_id, greatest(k.d, o.kdist) AS reach
       |  FROM k JOIN kd o ON k.nb = o.vec_id),
       |sp AS (
       |  SELECT vec_id, greatest(sum(reach), 1)::BIGINT AS sreach
       |  FROM reach GROUP BY 1),
       |spr AS (SELECT vec_id, sreach, $LofScale // sreach AS r FROM sp),
       |sumr AS (
       |  SELECT k.vec_id, sum(p.r)::BIGINT AS sum_r
       |  FROM k JOIN spr p ON k.nb = p.vec_id GROUP BY 1),
       |lof AS (
       |  SELECT s.vec_id, kd.kdist, s.sreach,
       |    ((s.sreach * (m.sum_r // $K)) // 1000000)::BIGINT AS lof_ppm
       |  FROM spr s JOIN sumr m USING (vec_id) JOIN kd USING (vec_id)),
       |summ AS (
       |  SELECT count(*)::BIGINT AS n_vecs,
       |    sum(CASE WHEN lof_ppm >= $LofFlagPpm THEN 1 ELSE 0 END)::BIGINT
       |      AS n_flagged
       |  FROM lof)
       |SELECT vec_id, kdist, sreach, lof_ppm, n_vecs, n_flagged
       |FROM lof, summ
       |ORDER BY lof_ppm DESC, vec_id LIMIT $LofTopK""".stripMargin
}
