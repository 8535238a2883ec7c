package graft

import org.apache.spark.sql.functions._
import graft.operators.ScalePatterns

class ScalePatternsSpec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("skew_agg: salted two-phase result equals direct groupBy") {
    val salted = run("skew_agg").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val direct = Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), graft.Portable.pround(sum("value"), 4).as("sv"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(salted == direct)
  }

  test("bucketed_join: SMJ over bucketed scans, no shuffle or sort before the join") {
    val df = run("bucketed_join")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"))
    // the only hash exchange is the final small agg — the join inputs
    // read co-located buckets directly
    val shuffles = "Exchange hashpartitioning\\((?:l_orderkey|o_orderkey)".r.findAllIn(p).length
    assert(shuffles == 0, s"bucketed join shuffled its inputs:\n$p")
    assert(df.agg(sum("n_lines")).collect()(0).getLong(0) ==
      Tables.lineitem(spark, sf).count())
  }

  test("ensureBucketed: each scale keeps its own tables; returning to a built scale runs no job") {
    val other = java.nio.file.Files.createTempDirectory("bucketed_scale").toString
    Seq("orders" -> Tables.orders(spark, sf), "lineitem" -> Tables.lineitem(spark, sf))
      .foreach { case (t, df) => df.limit(100).coalesce(1).write.parquet(s"$other/$t.parquet") }
    val a = ScalePatterns.ensureBucketed(spark, sf)
    val b = ScalePatterns.ensureBucketed(spark, other)
    try {
      assert(a != b, s"two scales share the bucketed tables $a")
      var again: (String, String) = null
      val jobs = jobsRunBy { again = ScalePatterns.ensureBucketed(spark, sf) }
      assert(again == a)
      assert(jobs == 0, s"returning to a built scale ran $jobs Spark job(s)")
    } finally {
      Seq(b._1, b._2).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      Seq(other, ScalePatterns.BucketedPair.path(other)).foreach(p =>
        graft.ingest.ArtifactCache.deleteTree(java.nio.file.Paths.get(p)))
    }
  }

  test("ensureBucketed: a fresh catalog registers the built pair without a Spark job") {
    val (o, l) = ScalePatterns.ensureBucketed(spark, sf)
    // a new JVM starts with the files on disk and an empty catalog
    Seq(o, l).foreach(t => spark.sql(s"DROP TABLE $t"))
    var again: (String, String) = null
    val jobs = jobsRunBy { again = ScalePatterns.ensureBucketed(spark, sf) }
    assert(again == (o, l))
    assert(jobs == 0, s"re-registering a built pair ran $jobs Spark job(s)")
    assert(Seq(o, l).forall(spark.catalog.tableExists))
    assert(spark.table(l).count() == Tables.lineitem(spark, sf).count())
  }

  test("pruned_scan: only the 3 filtered date partitions are read") {
    val df = run("pruned_scan")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters:"), "no partition filter in scan")
    // inputFiles reflects the pre-pruning index; the physical scan's
    // selected partitions are what actually gets read
    val top = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = top.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    val parts = scans.head.selectedPartitions.partitionCount
    assert(parts == 3, s"scan reads $parts partitions, expected 3")
  }

  test("join_size_est: the Σ cl·cr estimate is EXACT for the equi-join it predicts") {
    import org.apache.spark.sql.functions.col
    val est = run("join_size_est").collect()
      .map(r => r.getAs[Int]("nationkey") -> r.getAs[Long]("est_pairs")).toMap
    // execute the join the estimator refused to run, count per key
    val actual = Tables.customer(spark, sf)
      .join(Tables.supplier(spark, sf),
        col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("c_nationkey")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    est.foreach { case (k, e) =>
      assert(actual(k) == e, s"nation $k: est $e != actual ${actual(k)}")
    }
    // and the estimator's plan contains no join of the two fact tables
    val p = SparkEntry.queries("join_size_est")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"), "estimate must join histograms, not tables")
  }

  test("encoding_advisor: runs/distincts replay a local recount; clustered key picks RLE") {
    val rows = run("encoding_advisor").collect()
    assert(rows.map(_.getAs[String]("column")).toSet == ScalePatterns.EncCols.toSet)
    val byCol = rows.map(r => r.getAs[String]("column") -> r).toMap
    val li = Tables.lineitem(spark, sf)
    // l_orderkey is constant within its own cluster: runs = n_orders,
    // and ≥2 lines/order on average makes it the RLE pick
    val ok = byCol("l_orderkey")
    assert(ok.getAs[Long]("n_runs") == li.select("l_orderkey").distinct().count())
    assert(ok.getAs[String]("pick") == "rle")
    // local recount of l_returnflag runs under the pinned total order
    val local = li.select(col("l_orderkey"), col("l_linenumber"),
        col("l_returnflag"), col("l_linestatus"),
        // NTZ timestamp → ISO string: lexical order = temporal order
        col("l_shipdate").cast("string"), col("l_suppkey"), col("l_quantity"))
      .collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getString(2), r.getString(3),
        r.getString(4), r.getLong(5), r.getDouble(6))))
      .sortBy { case (okey, ord) => (okey, ord) }
    val runs = local.zipWithIndex.count { case ((okey, ord), i) =>
      i == 0 || local(i - 1)._1 != okey || local(i - 1)._2._2 != ord._2
    }
    val rf = byCol("l_returnflag")
    assert(rf.getAs[Long]("n_runs") == runs.toLong, "l_returnflag run recount")
    assert(rf.getAs[Long]("n_distinct") ==
      li.select(count_distinct(col("l_returnflag"))).head().getLong(0))
    rows.foreach { r =>
      val (nRows, nRuns, nd) = (r.getAs[Long]("n_rows"),
        r.getAs[Long]("n_runs"), r.getAs[Long]("n_distinct"))
      assert(nd <= nRuns && nRuns <= nRows, s"${r.getAs[String]("column")} bounds")
      assert(r.getAs[Long]("avg_run_len_pm") == nRows * 1000000L / nRuns)
      val expectPick = if (nRuns * 2 <= nRows) "rle"
        else if (nd * 50 <= nRows) "dict" else "plain"
      assert(r.getAs[String]("pick") == expectPick)
    }
  }

  test("zone_map_prune: every probe replays from a local zone-map build; " +
    "the sorted layout prunes the date probes, the natural layout the key probe") {
    import graft.operators.ScalePatterns._
    val epoch = ZmEpoch.toEpochDay
    val rows = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_shipdate").cast("date")).collect()
      .map(r => (r.getLong(0),
        r.getDate(1).toLocalDate.toEpochDay - epoch))
    val kmin = rows.map(_._1).min; val kmax = rows.map(_._1).max
    val den = ZmDateSpan
    val kHi = kmin + (kmax - kmin + 1) / 10
    def zonesOf(gid: ((Long, Long)) => Long) = rows.groupBy(gid).values.map { v =>
      (v.map(_._2).min, v.map(_._2).max, v.map(_._1).min, v.map(_._1).max,
        v.size.toLong)
    }
    val znat = zonesOf { case (k, _) => (k - kmin) * ZmGranules / (kmax - kmin + 1) }
    val zsort = zonesOf { case (_, d) => d * ZmGranules / den }
    def expect(z: Iterable[(Long, Long, Long, Long, Long)], lo: Long, hi: Long,
               isDate: Boolean) = {
      def rng(t: (Long, Long, Long, Long, Long)) =
        if (isDate) (t._1, t._2) else (t._3, t._4)
      val pruned = z.count { t => val (a, b) = rng(t); b < lo || a > hi }
      val scanned = z.collect { case t if { val (a, b) = rng(t); !(b < lo || a > hi) } => t._5 }.sum
      val matched = rows.count { case (k, d) =>
        val v = if (isDate) d else k; v >= lo && v <= hi }
      (z.size.toLong, pruned.toLong, scanned, matched.toLong,
        scanned * 1000L / rows.length)
    }
    val got = SparkEntry.queries("zone_map_prune")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Long]("n_granules"), r.getAs[Long]("n_pruned"),
          r.getAs[Long]("rows_scanned"), r.getAs[Long]("rows_matched"),
          r.getAs[Long]("scan_share_pm")))).toMap
    assert(got.size == 6)
    val cases = Seq(
      ("natural", "ship_1mo", znat, ZmShip1moLo, ZmShip1moHi, true),
      ("natural", "ship_6mo", znat, ZmShip6moLo, ZmShip6moHi, true),
      ("natural", "key_decile", znat, kmin, kHi, false),
      ("shipdate_sorted", "ship_1mo", zsort, ZmShip1moLo, ZmShip1moHi, true),
      ("shipdate_sorted", "ship_6mo", zsort, ZmShip6moLo, ZmShip6moHi, true),
      ("shipdate_sorted", "key_decile", zsort, kmin, kHi, false))
    cases.foreach { case (lay, pred, z, lo, hi, isDate) =>
      assert(got((lay, pred)) == expect(z, lo, hi, isDate), s"$lay/$pred")
    }
    // the measured layout story: the sorted rewrite prunes the 1-month
    // date probe hard, the natural (key-ordered) layout prunes the key
    // probe hard, and neither layout prunes the other's probe
    assert(got(("shipdate_sorted", "ship_1mo"))._2 >
      got(("natural", "ship_1mo"))._2)
    assert(got(("natural", "key_decile"))._2 >
      got(("shipdate_sorted", "key_decile"))._2)
    assert(got(("shipdate_sorted", "ship_1mo"))._5 < 200L, "sorted scans <20%")
    assert(got(("natural", "key_decile"))._5 < 300L, "key probe pruned on natural")
    // a zone-map never loses rows: scanned >= matched everywhere
    got.values.foreach(v => assert(v._3 >= v._4))
  }
}
