package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.documents
import graft.functions.TextFns.wsTokens

/** Reference plan forms the specs compare shipped operators against.
  * Each was once a flag-selected twin of the shipped form and lost
  * its A/B; it lives on here only as a test oracle — an independent
  * relational or interpreted route to the same rows. */
object ReferenceForms {

  /** winnow_fingerprint's selected fingerprints (doc_id, ng, h) from
    * the column-chain gram build: each k-gram string char-folded by
    * the portable poly hash, then either the doc-keyed running window
    * or the ×w window-end fanout (`fanout = true`). */
  def winnowFps(s: SparkSession, dir: String, fanout: Boolean): DataFrame = {
    import graft.queries.TextOps.{WinK, WinM, WinW}
    val P = graft.functions.HashFns.P
    val toks = col("toks")
    val grams = documents(s, dir)
      .select(col("doc_id"), wsTokens(lower(col("text"))).as("toks"))
      .filter(size(toks) > 0)
      .select(col("doc_id"),
        when(size(toks) >= WinK,
          transform(sequence(lit(0), size(toks) - WinK),
            i => concat_ws(" ", slice(toks, i + 1, lit(WinK)))))
          .otherwise(array(concat_ws(" ", toks))).as("gs"))
      .select(col("doc_id"), size(col("gs")).cast("long").as("ng"),
        posexplode(col("gs")).as(Seq("p", "g")))
      .select(col("doc_id"), col("ng"), col("p"),
        graft.functions.HashFns.strHash(col("g")).as("h"))
      .withColumn("key", expr(s"(${P}L - h) * $WinM + p"))
    val selected =
      if (!fanout) {
        val wSpec = Window.partitionBy(col("doc_id")).orderBy(col("p"))
          .rowsBetween(-(WinW - 1), 0)
        grams
          .withColumn("key", max(col("key")).over(wSpec))
          .filter(col("p") >= least(lit(WinW - 1), col("ng") - 1))
      } else {
        // window ends span [min(w−1, ng−1), ng−1]; gram p belongs to
        // every end in [max(p, that floor), min(p+w−1, ng−1)]
        grams.select(col("doc_id"), col("ng"), col("key"),
            explode(sequence(
              greatest(col("p"), least(lit(WinW - 1), col("ng") - 1)),
              least(col("p") + (WinW - 1), col("ng") - 1))).as("i"))
          .groupBy(col("doc_id"), col("ng"), col("i"))
          .agg(max(col("key")).as("key"))
      }
    selected.select(col("doc_id"), col("ng"), col("key")).distinct()
      .select(col("doc_id"), col("ng"), expr(s"${P}L - key div $WinM").as("h"))
  }

  /** textrank_keywords as a distributed relational plan: survivors by
    * posexplode, window-band pairs from one stacked lead window, then
    * TrRounds of weighted PageRank as joins + aggregates over the
    * whole corpus, top-K per doc by a window rank. */
  def textrankDistributed(s: SparkSession, dir: String): DataFrame = {
    import graft.queries.TextOps._
    val surv = documents(s, dir)
      .select(col("doc_id"), posexplode(wsTokens(lower(col("text"))))
        .as(Seq("pos", "tok")))
      .filter(col("tok").rlike(s"^[a-z]{$TrMinLen,}$$") &&
        !col("tok").isin(trStops: _*))
      .localCheckpoint()
    val nodes = surv.select(col("doc_id"), col("tok").as("node")).distinct()
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val edges = surv.select(col("doc_id"), col("pos"), col("tok").as("a"),
        array((1 to TrWindow).map(k =>
          struct(lead(col("pos"), k).over(byDoc).as("pb"),
            lead(col("tok"), k).over(byDoc).as("b"))): _*).as("cand"))
      .select(col("doc_id"), col("pos"), col("a"), explode(col("cand")).as("c"))
      .where(col("c.pb").isNotNull && col("c.pb") - col("pos") <= TrWindow &&
        col("a") =!= col("c.b"))
      .select(col("doc_id"), col("a").as("src"), col("c.b").as("dst"))
    // wdeg of the DST endpoint rides the edge row: the graph is
    // symmetric, so the dst-keyed sum equals the src-keyed degree
    val symW = edges.unionByName(
        edges.select(col("doc_id"), col("dst").as("src"), col("src").as("dst")))
      .groupBy(col("doc_id"), col("src"), col("dst"))
      .agg(count(lit(1)).as("w"))
      .withColumn("wdeg_dst", sum(col("w")).over(Window.partitionBy(col("doc_id"), col("dst"))))
    val connected = symW
      .select(col("doc_id"), col("dst").as("node"), col("wdeg_dst").as("wdeg"))
      .distinct()
    def step(rank: DataFrame): DataFrame = {
      val contrib = rank.select(col("doc_id"), col("node").as("src"),
        expr("r div wdeg").as("rw"))
      symW.join(contrib, Seq("doc_id", "src"))
        .groupBy(col("doc_id"), col("dst"), col("wdeg_dst"))
        .agg(sum(col("w") * col("rw")).as("m"))
        .select(col("doc_id"), col("dst").as("node"), col("wdeg_dst").as("wdeg"),
          expr(s"${TrBase}L + (85 * m) div 100").as("r"))
    }
    val rC = (1 to TrRounds).foldLeft(connected.withColumn("r", lit(TrScale)))((r, _) => step(r))
      .select(col("doc_id"), col("node"), col("r"))
    // isolated candidates get no incoming mass: they sit at the base
    val isolated = nodes
      .join(connected.select(col("doc_id"), col("node")), Seq("doc_id", "node"), "left_anti")
      .select(col("doc_id"), col("node"), lit(TrBase).as("r"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("r").desc, col("node"))
    rC.unionByName(isolated).withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= TrTopK)
      .select(col("doc_id"), col("node").as("tok"), col("rnk"), col("r").as("rank_pm"))
  }

  /** simhashBandsAggPortable as one scalar `sum` aggregate per bit,
    * folded MSB-first into band values. */
  def simhashBandsScalar(posts: DataFrame, idCol: String, hCol: String,
                         totalBits: Int, numBands: Int): DataFrame = {
    import graft.functions.HashFns.simBit
    val r = totalBits / numBands
    val sums = (0 until totalBits).map(k =>
      sum(when(simBit(col(hCol), k), 1L).otherwise(-1L)).as(s"c$k"))
    val bandCols = (0 until numBands).map { bnd =>
      (0 until r).foldLeft(lit(0L)) { (acc, j) =>
        acc * 2 + when(col(s"c${bnd * r + j}") > 0, 1L).otherwise(0L)
      }.as(s"b$bnd")
    }
    posts.groupBy(col(idCol))
      .agg(sums.head, sums.tail: _*)
      .select(col(idCol) +: bandCols: _*)
      .select(col(idCol), array((0 until numBands).map(i => col(s"b$i")): _*).as("sb"))
  }

  /** VecFns.portableBuckets as one scalar `sum` aggregate per plane,
    * exploded to (id, t, b). */
  def portableBucketsScalar(df: DataFrame, idCol: String, vecCol: String,
                            bits: Int, tables: Int): DataFrame = {
    import graft.functions.VecFns.planeSign
    val posts = df.select(col(idCol), posexplode(col(vecCol)).as(Seq("d", "x")))
      .select(col(idCol), col("d"),
        floor(col("x").cast("double") * 10000 + 0.5).cast("long").as("q"))
    val projs = (0 until tables * bits).map(k =>
      sum(when(planeSign(k, col("d")), col("q")).otherwise(-col("q"))).as(s"p$k"))
    val bucketCols = (0 until tables).map { t =>
      (0 until bits).map(r =>
        when(col(s"p${t * bits + r}") > 0, 1L << r).otherwise(0L))
        .reduce(_ + _).as(s"b$t")
    }
    posts.groupBy(col(idCol)).agg(projs.head, projs.tail: _*)
      .select(col(idCol) +: bucketCols: _*)
      .select(col(idCol), explode(array((0 until tables).map(t =>
        struct(lit(t).as("t"), col(s"b$t").as("b"))): _*)).as("tb"))
      .select(col(idCol), col("tb.t").as("t"), col("tb.b").as("b"))
  }

  /** cdc_chunks with the per-position HOF-filter boundary scan: one
    * w-char substring + char fold per position, cut where the hash
    * hits the mask. */
  def cdcChunksHof(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup.{CdcMask, CdcWin}
    val t = col("t")
    val bounds = when(col("len") > CdcWin, filter(
        sequence(lit(CdcWin.toLong), col("len") - 1),
        i => pmod(graft.functions.HashFns.strHash(
          t.substr((i - CdcWin + 1).cast("int"), lit(CdcWin))), lit(CdcMask)) === 0))
      .otherwise(array().cast("array<long>"))
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
    chunks.groupBy(col("h"))
      .agg(count(lit(1)).as("copies"), sum(col("l")).as("bytes_all"),
        min(col("l")).as("bytes_one"))
      .agg(
        sum(col("copies")).as("n_chunks"),
        count(lit(1)).as("n_unique"),
        sum(col("bytes_all")).as("total_bytes"),
        sum(col("bytes_all") - col("bytes_one")).as("dup_bytes"),
        max(col("copies")).as("max_copies"))
      .select(col("n_chunks"), col("n_unique"), col("total_bytes"),
        col("dup_bytes"), col("max_copies"),
        expr("(total_bytes * 1000) div n_chunks").as("avg_chunk_len_pm"))
  }

  /** pagerank_iter re-deriving its pairs from lineitem⨝orders, in the
    * retired plan forms: `"ship"` (the r4 original — deg rides on every
    * edge, per-EDGE `r div deg`, nothing checkpointed), `"ckpt"` (same
    * wide-edge step, deg and each step's rank checkpointed) and
    * `"pre"` (the shipped node-side division). */
  def pagerankIter(s: SparkSession, dir: String, form: String): DataFrame = {
    import graft.Tables.{lineitem, orders}
    import graft.operators.PageRankIter.{RankScale, TopK}
    val pre = form == "pre"
    val pairs = lineitem(s, dir)
      .join(orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("sk"))
      .distinct()
    val rawEdges = pairs
      .select(concat(lit("c"), col("c")).as("src"), concat(lit("s"), col("sk")).as("dst"))
      .unionByName(pairs
        .select(concat(lit("s"), col("sk")).as("src"), concat(lit("c"), col("c")).as("dst")))
    val degRaw = rawEdges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val deg = if (form == "ship") degRaw else degRaw.localCheckpoint()
    val edges = if (pre) rawEdges else rawEdges.join(deg, "src")
    val nodes = deg.select(col("src").as("node"))
    def step(rank: DataFrame): DataFrame = {
      val m =
        if (pre) {
          val contrib = rank.join(deg, col("node") === col("src"))
            .select(col("src"), expr("r div deg").as("ct"))
          edges.join(broadcast(contrib), "src")
            .groupBy(col("dst")).agg(sum(col("ct")).as("m"))
        } else {
          edges
            .join(broadcast(rank.select(col("node").as("src"), col("r"))), "src")
            .select(col("dst"), expr("r div deg").as("ct"))
            .groupBy(col("dst")).agg(sum(col("ct")).as("m"))
        }
      val next = nodes.join(broadcast(m), col("node") === col("dst"), "left_outer")
        .select(col("node"),
          expr("150000L + (85 * coalesce(m, 0L)) div 100").as("r"))
      if (form == "ship") next else next.localCheckpoint()
    }
    step(step(nodes.withColumn("r", lit(RankScale))))
      .orderBy(col("r").desc, col("node"))
      .limit(TopK)
      .select(col("node"), col("r").as("rank"))
  }

  /** One ANN path's ranking (qid, nb, rnk) computed inline — the
    * pre-artifact source of the eval trio. */
  def freshRankedOf(s: SparkSession, dir: String, p: String): DataFrame = {
    import graft.operators.Ann._
    p match {
      case "exact" => annBruteforce(s, dir).select(col("qid"), col("nb"), col("rnk"))
      case "lsh"   => annLsh(s, dir).select(col("qid"), col("nb"), col("rnk"))
      case "ivf"   => annIvf(s, dir).select(col("qid"), col("nb"), col("rnk"))
      case "pq"    => annPq(s, dir).select(col("probe_id").as("qid"),
        col("neighbor").as("nb"), col("rank").as("rnk"))
    }
  }

  /** colbert_maxsim with the nested-HOF MaxSim score (aggregate →
    * array_max → transform over element_at dots). */
  def colbertMaxsimHof(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Ann.{CbDim, CbTokens, CbTopK, NumQueries}
    val q4 = (c: Column) =>
      transform(c, x => floor(x.cast("double") * 10000 + 0.5).cast("long"))
    def dot4(qc: Column, nc: Column, i: Column, j: Column) =
      (0 until CbDim).map { t =>
        element_at(qc, (i * CbDim + t + 1).cast("int")) *
          element_at(nc, (j * CbDim + t + 1).cast("int"))
      }.reduce(_ + _)
    val score = aggregate(sequence(lit(0), lit(CbTokens - 1)), lit(0L),
      (acc, i) => acc + array_max(
        transform(sequence(lit(0), lit(CbTokens - 1)),
          j => dot4(col("qe4"), col("ne4"), i, j))))
    val qs = Tables.embeddings(s, dir).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), q4(col("embedding")).as("qe4"))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("nb"))
    Tables.embeddings(s, dir)
      .select(col("vec_id").as("nb"), q4(col("embedding")).as("ne4"))
      .join(broadcast(qs), col("nb") =!= col("qid"))
      .select(col("qid"), col("nb"), score.as("score"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= CbTopK)
      .select(col("qid"), col("nb"), col("rnk"), col("score"))
  }

  /** bpe_train's row-frame loop over (doc_id, pos, w) token rows:
    * per round a doc-keyed lead window counts adjacent pairs, then the
    * island-parity [[stageMerge]]/[[applyMerge]] window chain applies
    * the best merge. Returns the PERSISTED final token frame (caller
    * unpersists) plus the merge report rows. */
  def bpeTrainRows(s: SparkSession, dir: String)
      : (DataFrame, Seq[(Int, String, String, Long, Long)]) = {
    import graft.operators.CorpusClean.BpeTrainRounds
    def mat(df: DataFrame): DataFrame =
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    var toks = mat(documents(s, dir).select(col("doc_id"),
      posexplode(wsTokens(lower(col("text")))).as(Seq("pos", "w"))))
    // every merged occurrence fuses exactly two tokens into one, so
    // tokens removed = merges applied
    var nToks = toks.count()
    val merges = Seq.newBuilder[(Int, String, String, Long, Long)]
    for (round <- 1 to BpeTrainRounds) {
      val best = toks.withColumn("w1", lead(col("w"), 1).over(w))
        .filter(col("w1").isNotNull)
        .groupBy(col("w"), col("w1")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("w"), col("w1")).limit(1)
        .collect()(0)
      val (l, r, n) = (best.getString(0), best.getString(1), best.getLong(2))
      val prev = toks
      toks = mat(applyMerge(stageMerge(toks, l, r), r))
      val nAfter = toks.count()
      prev.unpersist()
      merges += ((round, l, r, n, nToks - nAfter))
      nToks = nAfter
    }
    (toks, merges.result())
  }

  /** The greedy-scan merge DECISION for pair (l, r) on a token frame
    * (doc_id, pos, w): `m` = "this position starts a merged
    * occurrence". A run of k consecutive matches (only possible when
    * l = r) must merge occurrences 1, 3, 5, …: flag matches, locate
    * each maximal flag island by its running start, keep the flags at
    * EVEN offset from their island start. */
  def stageMerge(toks: DataFrame, l: String, r: String): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    toks
      .withColumn("flag", coalesce(lead(col("w"), 1).over(w) === lit(r), lit(false))
        && col("w") === lit(l))
      .withColumn("istart", col("flag") &&
        !coalesce(lag(col("flag"), 1).over(w), lit(false)))
      .withColumn("ispos", max(when(col("istart"), col("pos")))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("m", col("flag") && (col("pos") - col("ispos")) % 2 === 0)
  }

  /** Rebuild the token sequence after [[stageMerge]]: drop positions
    * consumed by the previous position's merge, fuse merged tokens,
    * re-index densely from 1. */
  def applyMerge(staged: DataFrame, r: String): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    staged
      .withColumn("consumed", coalesce(lag(col("m"), 1).over(w), lit(false)))
      .filter(!col("consumed"))
      .select(col("doc_id"),
        row_number().over(w).as("pos"),
        when(col("m"), concat(col("w"), lit("_"), lit(r))).otherwise(col("w")).as("w"))
  }

  /** mmr_diversify's greedy as [[graft.operators.Retrieval.MmrK]]
    * relational rounds over the shipped candidates and sims: each
    * round scores the unpicked pool against the max sim to what is
    * already selected and takes a (score DESC, nb ASC) window argmax,
    * checkpointed so later rounds do not re-run earlier ones. */
  def mmrRelational(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Retrieval.{MmrK, MmrLambda10, mmrCandsPairs}
    val (cands, pairs) = mmrCandsPairs(s, dir)
    val ws = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("nb"))
    def pick(pool: DataFrame, r: Int): DataFrame = pool
      .withColumn("rn2", row_number().over(ws)).filter(col("rn2") === 1)
      .select(col("qid"), col("nb"), lit(r.toLong).as("rnk"), col("score"))
      .localCheckpoint()
    // round 1: pure relevance (S empty -> diversity term 0)
    var picked = pick(cands.withColumn("score", lit(MmrLambda10) * col("rel4")), 1)
    var selected = picked.select(col("qid"), col("nb"))
    (2 to MmrK).foreach { r =>
      val ms = pairs
        .join(selected.withColumnRenamed("nb", "b"), Seq("qid", "b"))
        .groupBy(col("qid"), col("a")).agg(max(col("sim4")).as("ms"))
        .withColumnRenamed("a", "nb")
      val pool = cands
        .join(selected, Seq("qid", "nb"), "left_anti")
        .join(ms, Seq("qid", "nb"), "left_outer")
        .na.fill(0L, Seq("ms"))
        .withColumn("score",
          lit(MmrLambda10) * col("rel4") - lit(10 - MmrLambda10) * col("ms"))
      val p = pick(pool, r)
      picked = picked.unionByName(p)
      selected = selected.unionByName(p.select(col("qid"), col("nb")))
    }
    picked
  }

  /** markov_attribution's removal-effect chain as relational
    * [[graft.queries.Behavior.MkSteps]] join+aggregate steps over the
    * variant-keyed transition matrix (redirect transitions into the
    * removed channel to NULL, add the CONV/NULL self-loops). */
  def markovRemovalRelational(s: SparkSession, trans: DataFrame): DataFrame = {
    import s.implicits._
    import graft.queries.Behavior.{MkSteps, ShapChannels}
    val variants = ("full" +: ShapChannels.map(_._1)).toDF("variant")
    val redirected = variants.crossJoin(broadcast(trans))
      .where(col("variant") === "full" || col("src") =!= col("variant"))
      .select(col("variant"), col("src"),
        when(col("variant") =!= "full" && col("dst") === col("variant"),
          lit("NULL")).otherwise(col("dst")).as("dst"),
        col("c"))
      .groupBy(col("variant"), col("src"), col("dst"))
      .agg(sum(col("c")).as("c"))
    val selfLoops = variants.crossJoin(broadcast(
      Seq(("CONV", "CONV", 1L), ("NULL", "NULL", 1L)).toDF("src", "dst", "c")))
    val p = redirected.unionByName(selfLoops.select(col("variant"),
        col("src"), col("dst"), col("c")))
      .withColumn("r", sum(col("c")).over(
        Window.partitionBy(col("variant"), col("src"))))
      .localCheckpoint() // ≤ 5·51 rows; read every step
    def step(v: DataFrame): DataFrame =
      v.join(p.select(col("variant").as("pv"), col("src"), col("dst"),
          col("c"), col("r")),
        col("variant") === col("pv") && col("state") === col("src"))
        .groupBy(col("variant"), col("dst"))
        .agg(sum(expr("mass * c div r")).as("mass"))
        .select(col("variant"), col("dst").as("state"), col("mass"))
    val v0 = variants.select(col("variant"), lit("START").as("state"),
      lit(1000000L).as("mass"))
    val vK = (1 to MkSteps).foldLeft(v0)((v, _) => step(v))
    // LEFT join from variants: a removal that makes CONV unreachable
    // produces NO CONV mass row — exactly the most decisive channels
    // — and must read p = 0, not vanish from the result
    val pConv = variants.join(vK.where(col("state") === "CONV")
        .select(col("variant").as("kv"), col("mass")),
        col("variant") === col("kv"), "left_outer")
      .select(col("variant"), coalesce(col("mass"), lit(0L)).as("p_ppm"))
    val full = pConv.where(col("variant") === "full")
      .select(col("p_ppm").as("p_full_ppm"))
    val removals = pConv.where(col("variant") =!= "full")
      .crossJoin(broadcast(full))
      .select(col("variant").as("channel"), col("p_full_ppm"),
        col("p_ppm").as("p_removed_ppm"),
        (col("p_full_ppm") - col("p_ppm")).as("removal_ppm"))
      .localCheckpoint() // 4 rows; read twice for the share rollup
    val totRem = removals.agg(sum(col("removal_ppm")).as("tot_rem"))
    removals.crossJoin(broadcast(totRem))
      .select(col("channel"), col("p_full_ppm"), col("p_removed_ppm"),
        col("removal_ppm"),
        when(col("tot_rem") === 0L, lit(0L))
          .otherwise(expr("removal_ppm * 1000 div tot_rem")).as("share_pm"))
  }
}
