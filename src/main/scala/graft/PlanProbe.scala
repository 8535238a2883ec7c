package graft
import org.apache.spark.sql.SparkSession

/** Plan-shape probe for perf triage: prints the plan of each named
  * SparkEntry query or frame — grep for BroadcastHashJoin /
  * PushedFilters / Exchange counts.
  *
  * Prints `explain("formatted")` (the optimization-guide §7.2 form:
  * numbered operator list + per-operator details incl. PushedFilters
  * and ReadSchema) — the round's plans/ before/after evidence
  * files are captured with exactly this output. Set
  * SPARK_GRAFT_PLAN_SF to probe a different scale (default sf0.001;
  * plan SHAPE is scale-invariant here, but AQE-chosen strategies can
  * differ — capture at the bench scale when a claim depends on one).
  *
  * With no names it prints every SparkEntry query (sorted), then
  * every frame, with session-local ids normalized — two commits'
  * outputs compare with `diff` (the same-plans check of a refactor).
  *
  * Usage: runMain graft.PlanProbe [name...]
  */
object PlanProbe {
  /** Un-checkpointed frames of shipped queries whose PUBLIC plan is
    * cut at a localCheckpoint (Scan ExistingRDD) or an eager collect:
    * probe these names to see the shape the cut hides. */
  private def frames: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
    "bitext_margin_frame" -> ((s, d) =>
      operators.Retrieval.marginFrame(operators.Retrieval.bitextLshPairs(s, d))),
    "ngram_novelty_frame" -> ((s, d) =>
      queries.TextOps.ngramNoveltyFrame(s, queries.TextOps.ngramPosts(s, d))),
    "kmv_intersect_frame" -> ((s, d) =>
      operators.Sketches.kmvIntersectFrame(operators.Sketches.kmvPostings(s, d))),
    "mm_phash_frame" -> ((s, d) =>
      operators.Multimodal.mmPhashFrame(operators.Multimodal.phashBands(s, d))),
    // mmr_diversify collects its candidate sims for the driver greedy
    "mmr_pairs_frame" -> ((s, d) =>
      operators.Retrieval.mmrCandsPairs(s, d)._2),
    "minhash_lsh_frame" -> ((s, d) =>
      operators.Dedup.minhashLshFrame(s, d)),
    // dedup_clusters materializes its pair list EAGERLY (count +
    // collect during construction), so the public plan shows only the
    // withSingletons tail; its input is the lsh_pairs artifact read
    "lsh_pairs_artifact" -> ((s, d) =>
      operators.Dedup.lshPairsArtifact(s, d)),
    "lm_per_doc_frame" -> ((s, d) =>
      operators.CorpusClean.lmPerDocFrame(s, d)),
    // bpe_train collects per round, so its loop never shows in one
    // plan; this is ONE round's pair-count frame
    "bpe_round_pairs" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      Tables.documents(s, d).select(col("doc_id"),
          functions.TextFns.wsTokens(lower(col("text"))).as("ts"))
        .select(explode(call_function("tok_pairs", col("ts"))).as("p"))
        .select(col("p.w").as("w"), col("p.w1").as("w1"))
        .groupBy(col("w"), col("w1")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("w"), col("w1")).limit(1)
    }))

  /** Ids that differ run to run without the plan changing: expression
    * ids (`#123`), `plan_id=`, a checkpointed scan's RDD id and
    * call-site line, lambda-variable and closure-class suffixes, the
    * checkout directory in artifact paths, and the artifact token in
    * `graft_<name>/<base>_<token>` (it changes with any signature). */
  def normalize(plan: String): String = Seq(
      "#\\d+" -> "#N", "plan_id=\\d+" -> "plan_id=N", "RDD\\[\\d+\\]" -> "RDD[N]",
      "\\.scala:\\d+" -> ".scala:N", "(lambda \\w+)_\\d+" -> "$1_N",
      "\\$Lambda\\$\\d+/0x\\p{XDigit}+@\\p{XDigit}+" -> "\\$Lambda\\$N",
      "(graft_\\w+/[^/\\s]*_)\\p{XDigit}{12}\\b" -> "$1TOKEN")
    .foldLeft(plan.replace("file:" + sys.props("user.dir") + "/", "file:./")) {
      case (p, (re, to)) => p.replaceAll(re, to)
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_SF", "/root/testdata/sf0.001")
    val spark = GraftSession.local(4)
    val names = if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted ++ frames.keys.toSeq.sorted
    for (n <- names) {
      println(s"===== $n")
      val df = frames.get(n).map(_(spark, sfDir))
        .getOrElse(SparkEntry.queries(n)(spark, sfDir))
      println(normalize(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)))
    }
    spark.stop()
  }
}
