package graft

import org.apache.spark.sql.functions._
import graft.operators.Sketches

/** Semantic properties of the round-3 behavioral + sketch operators
  * (the oracle pins cross-engine equality; these pin MEANING). */
class BehaviorSpec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("funnel: stages are monotonically shrinking and subset-consistent") {
    val r = run("funnel").collect()(0)
    val (v, c, p) = (r.getAs[Long]("n_view"), r.getAs[Long]("n_click"),
      r.getAs[Long]("n_purchase"))
    assert(v >= c && c >= p, s"funnel not monotone: $v $c $p")
    assert(v > 0, "no viewers — vacuous funnel")
  }

  test("retention: offset-0 count equals cohort size; counts never exceed it") {
    val rows = run("retention").collect()
    val byCohort = rows.groupBy(_.getAs[String]("cohort_d"))
    assert(byCohort.nonEmpty)
    byCohort.foreach { case (d, rs) =>
      val day0 = rs.find(_.getAs[Int]("offset") == 0)
      assert(day0.isDefined, s"cohort $d missing offset 0")
      val base = day0.get.getAs[Long]("n_users")
      rs.foreach(r => assert(r.getAs[Long]("n_users") <= base,
        s"cohort $d offset ${r.getAs[Int]("offset")} exceeds day-0"))
    }
  }

  test("rolling_window: frame sums match a per-user brute-force recompute") {
    val rows = run("rolling_window")
      .filter(col("user_id") < 5).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("ts"),
        r.getAs[Long]("roll_n"), r.getAs[Double]("roll_sum")))
    val evs = Tables.events(spark, sf).filter(col("user_id") < 5)
      .select(col("user_id"), col("ts").cast("long").as("sec"),
        col("value").cast("decimal(18,4)").as("v"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("tss"))
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("sec"),
        r.getAs[java.math.BigDecimal]("v"), r.getAs[String]("tss")))
    assert(rows.nonEmpty)
    rows.foreach { case (u, ts, n, sum) =>
      val mine = evs.filter(e => e._1 == u && e._4 == ts)
      assert(mine.nonEmpty)
      val sec = mine.head._2
      val in = evs.filter(e => e._1 == u && e._2 >= sec - 604799 && e._2 <= sec)
      assert(in.length.toLong == n, s"user $u at $ts: n")
      val expect = in.map(_._3.doubleValue).sum
      assert(math.abs(expect - sum) < 1e-6, s"user $u at $ts: sum $sum vs $expect")
    }
  }

  test("cube_agg: lattice totals are consistent (ALL,ALL = grand total)") {
    val rows = run("cube_agg").collect()
      .map(r => ((r.getAs[String]("flag"), r.getAs[String]("status")), r.getAs[Long]("n")))
      .toMap
    val grand = rows(("ALL", "ALL"))
    val flags = rows.collect { case ((f, "ALL"), n) if f != "ALL" => n }.sum
    val statuses = rows.collect { case (("ALL", st), n) if st != "ALL" => n }.sum
    val cells = rows.collect { case ((f, st), n) if f != "ALL" && st != "ALL" => n }.sum
    assert(grand == flags && grand == statuses && grand == cells)
    assert(grand == Tables.lineitem(spark, sf).count())
  }

  test("kmv_distinct: estimate within 3 standard errors of exact") {
    // KMV relative standard error ≈ 1/sqrt(K-2)
    val se = 3.0 / math.sqrt(Sketches.K - 2.0)
    run("kmv_distinct").collect().foreach { r =>
      val exact = r.getAs[Long]("n_exact").toDouble
      val est = r.getAs[Double]("est_distinct")
      assert(est > 0)
      assert(math.abs(est - exact) <= math.max(se * exact, 1.0),
        s"${r.getAs[String]("event_type")}: est $est exact $exact")
    }
  }

  test("kmv_by_type: the custom aggregate reproduces the relational KMV row for row") {
    val relational = run("kmv_distinct").collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_exact"), r.getAs[Double]("est_distinct"))).toMap
    val viaAgg = run("kmv_by_type").collect()
    assert(viaAgg.length == relational.size)
    viaAgg.foreach { r =>
      val t = r.getAs[String]("event_type")
      assert(r.getAs[Int]("sketch_n") <= Sketches.K)
      // K smallest distinct is merge-order-free: the partial-agg path
      // must land on EXACTLY the window-rank path's estimate
      assert((r.getAs[Long]("n_exact"), r.getAs[Double]("est_distinct")) == relational(t),
        s"event_type $t diverges from kmv_distinct")
    }
  }

  test("hll_distinct: estimates replay the local register build exactly; sane accuracy") {
    val S = Sketches
    val events = Tables.events(spark, sf)
      .select("event_type", "user_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // local HLL with the same bit arithmetic
    def rho(w: Long): Int =
      if (w == 0) S.HllRhoMax else java.lang.Long.numberOfTrailingZeros(w) + 1
    val regs = scala.collection.mutable.Map[(String, Long), Int]()
    events.foreach { case (t, u) =>
      val h = math.floorMod(u * S.Mult, S.M)
      val key = (t, h % S.HllM)
      regs(key) = math.max(regs.getOrElse(key, 0), rho(h / S.HllM))
    }
    val lc = S.HllLinear.toMap
    val local = regs.keys.map(_._1).toSet.map { (t: String) =>
      val mjs = regs.collect { case ((`t`, _), mj) => mj }.toSeq
      val v = S.HllM - mjs.length
      val zint = mjs.map(mj => 1L << (S.HllRhoMax - mj)).sum +
        v.toLong * (1L << S.HllRhoMax)
      val raw = S.HllNum / zint
      val (regime, est) =
        if (v > 0 && raw <= S.HllSmallRange) ("linear", lc(v.toLong)) else ("raw", raw)
      t -> (v.toLong, regime, graft.Portable.jround(est, 4))
    }.toMap
    val exact = events.groupBy(_._1).map { case (t, es) =>
      t -> es.map(_._2).distinct.length.toLong }
    val rows = run("hll_distinct").collect()
    assert(rows.length == exact.size)
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      assert(r.getAs[Long]("n_exact") == exact(t))
      val (v, regime, est) = local(t)
      assert(r.getAs[Long]("n_empty") == v, s"$t n_empty")
      assert(r.getAs[String]("regime") == regime, s"$t regime")
      assert(r.getAs[Double]("est_hll") == est, s"$t: ${r.getAs[Double]("est_hll")} vs $est")
      // accuracy: linear counting is tight at low n; raw HLL se ≈ 1.04/√m
      val tol = if (regime == "linear") 0.25 else 3.2 * 1.04 / math.sqrt(S.HllM.toDouble)
      assert(math.abs(est - exact(t)) <= math.max(tol * exact(t), 2.0),
        s"$t: est $est exact ${exact(t)}")
    }
  }

  test("zorder_layout: every z-bucket's extents fit the 128x128 tile bound") {
    val rows = run("zorder_layout").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // bucket = z >> 14 fixes the top 3 interleaved bits of each
      // dimension, so a bucket spans < 2^7 in BOTH dimensions — the
      // min/max pruning guarantee z-ordering exists for
      assert(r.getAs[Long]("ux_max") - r.getAs[Long]("ux_min") < 128,
        s"bucket ${r.getAs[Long]("zbucket")}: ux span too wide")
      assert(r.getAs[Long]("ty_max") - r.getAs[Long]("ty_min") < 128,
        s"bucket ${r.getAs[Long]("zbucket")}: ty span too wide")
    }
  }

  test("compact_files: row-invariant, strictly fewer files after compaction") {
    val rows = run("compact_files").collect()
      .map(r => r.getAs[String]("layout") ->
        ((r.getAs[Long]("n_files"), r.getAs[Long]("n_rows"), r.getAs[Long]("n_bytes"))))
      .toMap
    val (bf, br, bb) = rows("staged_daily")
    val (af, ar, ab) = rows("compacted")
    assert(br == ar, "compaction changed row count")
    assert(af < bf, s"no file-count reduction: $bf -> $af")
    assert(ab > 0 && bb > 0)
    // content equality, not just counts
    val before = spark.read.parquet(graft.operators.ScalePatterns.EventsByDay.path(sf))
      .drop("d").collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|"))
    val after = spark.read.parquet(graft.operators.ScalePatterns.EventsCompacted.path(sf))
      .collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|"))
    assert(before.sameElements(after), "compaction changed data")
  }

  test("incremental_upsert: merge of deltas equals the full recompute") {
    val inc = run("incremental_upsert").collect()
      .map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|"))
    val full = run("dedup_upsert").collect()
      .map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|"))
    assert(inc.length == full.length && inc.sameElements(full))
  }

  test("tfidf_topterms: ranked per doc; rare terms outscore common ones") {
    val rows = run("tfidf_topterms").collect()
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.nonEmpty)
    byDoc.foreach { case (d, rs) =>
      val rks = rs.map(_.getAs[Int]("rnk")).sorted
      assert(rks.sameElements(1 to rs.length) && rs.length <= 3, s"doc $d ranks")
      val sc = rs.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Double]("score"))
      assert(sc.zip(sc.tail).forall { case (a, b) => a >= b }, s"doc $d not sorted")
    }
    // a token present in EVERY doc has idf=0 → can never be a top term
    // unless every other token ties at 0; verify scores are positive
    assert(rows.forall(_.getAs[Double]("score") >= 0))
  }

  test("dataset_card: stats agree with direct recomputation") {
    val r = run("dataset_card").collect()(0)
    val d = Tables.documents(spark, sf)
    assert(r.getAs[Long]("n_docs") == d.count())
    assert(r.getAs[Long]("n_langs") == d.select("lang").distinct().count())
    assert(r.getAs[Long]("n_sources") == d.select("source").distinct().count())
    val dups = d.count() - d.select(md5(col("text").cast("binary"))).distinct().count()
    assert(r.getAs[Long]("n_dup_texts") == dups)
    assert(r.getAs[Double]("p50_chars") <= r.getAs[Double]("p95_chars"))
  }

  test("stream_late_data: watermark drops late rows, passes on-time, dedups collisions") {
    // sf0.01: wave B contains late rows (dropped), on-time fresh rows
    // (passed) AND on-time key collisions (deduped) — all three paths
    val dir = "/root/testdata/sf0.01"
    val out = SparkEntry.queries("stream_late_data")(spark, dir).collect()
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"),
        when(col("event_id") % 8 === 0, col("event_id") + 1)
          .otherwise(col("event_id")).as("k")).collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[java.sql.Timestamp]("ts").getTime,
        r.getAs[Long]("k")))
    val wm = e.filter(_._1 % 4 != 0).map(_._2).max - 3600 * 1000L
    val aIds = e.filter(_._1 % 4 != 0).map(_._1).toSet
    val expectB = e.filter(t => t._1 % 4 == 0 && t._1 % 8 != 0 && t._2 >= wm).map(_._1).toSet
    val gotIds = out.map(_.getAs[Long]("event_id")).toSet
    assert(gotIds == aIds ++ expectB)
    // all three wave-B paths actually fired at this scale
    assert(expectB.nonEmpty, "no on-time fresh B rows — pass path untested")
    assert(e.exists(t => t._1 % 4 == 0 && t._2 < wm), "no late B rows — drop path untested")
    val colliding = e.filter(t => t._1 % 8 == 0 && t._2 >= wm)
    assert(colliding.nonEmpty, "no on-time colliding B rows — dedup path untested")
    assert(colliding.forall(t => !gotIds.contains(t._1)), "a colliding B row leaked")
  }

  test("ref_integrity: six FK edges, counts match recounts, star schema is orphan-free") {
    val out = run("ref_integrity").collect().map(r => r.getString(0) -> r).toMap
    assert(out.size == 6)
    val li = Tables.lineitem(spark, sf).count()
    assert(out("lineitem->orders").getAs[Long]("n_child") == li)
    assert(out("lineitem->part").getAs[Long]("n_child") == li)
    val distinctOrders = Tables.lineitem(spark, sf)
      .select("l_orderkey").distinct().count()
    assert(out("lineitem->orders").getAs[Long]("n_parents_used") == distinctOrders)
    // driver testdata is referentially consistent — any orphan is a bug
    out.values.foreach(r => assert(r.getAs[Long]("n_orphans") == 0L, r.getString(0)))
  }

  test("column_profile: single scan, per-column stats match recounts") {
    val out = run("column_profile").collect().map(r => r.getString(0) -> r).toMap
    assert(out.size == 6)
    val o = Tables.orders(spark, sf)
    val n = o.count()
    out.values.foreach(r => assert(r.getAs[Long]("n_rows") == n))
    assert(out("o_orderkey").getAs[Long]("n_distinct") == n) // primary key
    assert(out("o_orderstatus").getAs[Long]("n_distinct") ==
      o.select("o_orderstatus").distinct().count())
    val maxPrice = o.agg(max(col("o_totalprice"))).head().getDouble(0)
    assert(math.abs(out("o_totalprice").getAs[Double]("max_num") - maxPrice) < 1e-2)
    assert(out("o_orderpriority").getAs[String]("min_str") != null)
    // plan contract: one base scan + one PRUNED scan per exact
    // distinct (columnar reads make per-column passes the cheap
    // direction); the multi-distinct Expand must stay gone (PlanSpec
    // asserts that side) and the unpivot must not multiply scans
    val p = SparkEntry.queries("column_profile")(spark, sf)
      .queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 7, s"profiler should scan base + 6 distinct columns, got $scans")
    assert(!p.contains("Expand"), "multi-distinct Expand re-appeared")
  }

  test("stats_merge: per-day partials merge losslessly into the direct aggregate") {
    val r = run("stats_merge").head()
    assert(r.getAs[Boolean]("lossless"), "decimal partials must merge exactly")
    assert(r.getAs[Long]("merged_n") == Tables.events(spark, sf).count())
    assert(r.getAs[Long]("n_days") > 1, "merge must actually span multiple partials")
  }

  test("merge_delete: deletes gone, updates applied, inserts present, rest intact") {
    val d = Tables.documents(spark, sf)
    val out = run("merge_delete").collect()
    val byId = out.map(r => r.getAs[Long]("doc_id") -> r).toMap
    // no deleted key survives
    d.filter(col("doc_id") % 10 === 0).collect()
      .foreach(r => assert(!byId.contains(r.getAs[Long]("doc_id")), "deleted row present"))
    // every update applied
    d.filter(col("doc_id") % 10 === 7).collect().foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(byId(id).getAs[String]("text") == s"updated $id")
    }
    // inserts: one per source, beyond the old id range
    val maxBase = d.agg(max(col("doc_id"))).collect()(0).getLong(0)
    val inserted = out.filter(_.getAs[Long]("doc_id") > maxBase)
    assert(inserted.length == d.select("source").distinct().count())
    // untouched rows unchanged
    d.filter(col("doc_id") % 10 === 3).limit(20).collect().foreach { r =>
      assert(byId(r.getAs[Long]("doc_id")).getAs[String]("text") == r.getAs[String]("text"))
    }
  }

  test("window_funnel: levels equal a sequential greedy-chain replay") {
    import graft.queries.Behavior.FunnelWindowHours
    val got = run("window_funnel").collect()
      .map(r => r.getAs[Int]("level") -> r.getAs[Long]("n_users")).toMap
    def us(t: java.sql.Timestamp): Long =
      t.getTime * 1000 + (t.getNanos / 1000) % 1000
    val winUs = FunnelWindowHours.toLong * 3600L * 1000000L
    val byUser = Tables.events(spark, sf)
      .select("user_id", "ts", "event_type").collect()
      .map(r => (r.getLong(0), us(r.getTimestamp(1)), r.getString(2)))
      .groupBy(_._1)
    val levels = byUser.map { case (_, es) =>
      val t0 = es.collect { case (_, t, "view") => t } match {
        case a if a.isEmpty => None; case a => Some(a.min)
      }
      val t1 = t0.flatMap(v => es.collect {
        case (_, t, "click") if t > v && t <= v + winUs => t
      } match { case a if a.isEmpty => None; case a => Some(a.min) })
      val t2 = t0.flatMap(v => t1.flatMap(c => es.collect {
        case (_, t, "purchase") if t > c && t <= v + winUs => t
      } match { case a if a.isEmpty => None; case a => Some(a.min) }))
      if (t2.isDefined) 3 else if (t1.isDefined) 2 else if (t0.isDefined) 1 else 0
    }.toSeq
    val expected = levels.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got == expected, s"got $got want $expected")
    assert(got.getOrElse(3, 0L) > 0, "no full conversions — window semantics vacuous")
    // the window BINDS: some user converts unbounded (H3) but not windowed
    val unbounded = run("funnel").head()
    assert(got(3) < unbounded.getAs[Long]("n_purchase"),
      "24h window never excluded a conversion — indistinguishable from H3")
  }

  test("trend_fit: moment-sum OLS equals a local least-squares fit") {
    val got = run("trend_fit").collect().map(r => r.getAs[String]("event_type") ->
      ((r.getAs[Long]("n_days"), r.getAs[Double]("slope"),
        r.getAs[Double]("intercept"), r.getAs[Double]("r2")))).toMap
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    val daily = Tables.events(spark, sf).select("event_type", "ts").collect()
      .map(r => (r.getString(0), fmt.format(r.getTimestamp(1))))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val d0 = daily.keys.map(_._2).min
    def dayIdx(d: String): Long =
      java.time.temporal.ChronoUnit.DAYS.between(
        java.time.LocalDate.parse(d0), java.time.LocalDate.parse(d))
    daily.keys.map(_._1).toSeq.distinct.foreach { t =>
      val pts = daily.collect { case ((`t`, d), y) => (dayIdx(d).toDouble, y.toDouble) }.toSeq
      val n = pts.size.toDouble
      val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
      val sxy = pts.map(p => p._1 * p._2).sum
      val (sxx, syy) = (pts.map(p => p._1 * p._1).sum, pts.map(p => p._2 * p._2).sum)
      val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      val intercept = (sy - slope * sx) / n
      val r2 = math.pow(n * sxy - sx * sy, 2) / ((n * sxx - sx * sx) * (n * syy - sy * sy))
      val (gn, gs, gi, gr) = got(t)
      assert(gn == pts.size.toLong, s"$t n_days")
      assert(math.abs(gs - slope) < 1e-4, s"$t slope $gs vs $slope")
      assert(math.abs(gi - intercept) < 1e-4, s"$t intercept $gi vs $intercept")
      assert(math.abs(gr - r2) < 1e-4, s"$t r2 $gr vs $r2")
    }
    // the residual structure is real: no series fits perfectly
    assert(got.values.forall(v => v._4 >= 0.0 && v._4 <= 1.0))
    assert(got.nonEmpty)
  }

  test("cdc_replay: compaction equals a sequential per-key log replay") {
    val got = run("cdc_replay").collect().map(r => r.getAs[Long]("user_id") ->
      ((r.getAs[Boolean]("alive"), r.getAs[String]("last_op"),
        r.getAs[Long]("n_creates"), r.getAs[Long]("n_updates"),
        r.getAs[Long]("n_deletes"), r.getAs[Long]("n_resurrections")))).toMap
    // sequential reference: replay each user's ops strictly in
    // (ts, event_id) order — micros, the operator's precision
    def us(t: java.sql.Timestamp): Long =
      t.getTime * 1000 + (t.getNanos / 1000) % 1000
    val evs = Tables.events(spark, sf)
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), us(r.getTimestamp(1)), r.getLong(2), r.getString(3)))
    assert(got.keySet == evs.map(_._1).toSet)
    evs.groupBy(_._1).foreach { case (u, es) =>
      val ops = es.sortBy(e => (e._2, e._3)).map(_._4 match {
        case "signup" => "c"; case "error" => "d"; case _ => "u"
      })
      var (c, up, d, res) = (0L, 0L, 0L, 0L)
      var prev: String = null
      for (op <- ops) {
        op match { case "c" => c += 1; case "u" => up += 1; case _ => d += 1 }
        if (op != "d" && prev == "d") res += 1
        prev = op
      }
      assert(got(u) == ((ops.last != "d", ops.last, c, up, d, res)),
        s"user $u replay mismatch")
    }
    // the order-dependent pieces are actually exercised by the data
    assert(got.values.exists(_._6 > 0), "no resurrections — order dependence untested")
    assert(got.values.exists(!_._1), "no tombstoned keys — delete semantics untested")
    assert(got.values.exists(_._1), "every key dead — vacuous")
  }

  test("snapshot_diff: categories partition both snapshots consistently") {
    val m = run("snapshot_diff").collect()
      .groupBy(_.getAs[String]("change"))
      .view.mapValues(_.map(_.getAs[Long]("n")).sum).toMap
    val nBase = Tables.documents(spark, sf).count()
    val nAfter = run("merge_delete").count()
    assert(m.getOrElse("removed", 0L) + m.getOrElse("changed", 0L) +
      m.getOrElse("unchanged", 0L) == nBase)
    assert(m.getOrElse("added", 0L) + m.getOrElse("changed", 0L) +
      m.getOrElse("unchanged", 0L) == nAfter)
    assert(m.getOrElse("added", 0L) > 0 && m.getOrElse("removed", 0L) > 0 &&
      m.getOrElse("changed", 0L) > 0)
  }

  test("skew_join: salted join result equals the plain join") {
    val salted = run("skew_join").collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n"), r.getAs[Double]("weighted")))).toMap
    val e = Tables.events(spark, sf)
    val dim = e.groupBy(col("event_type"))
      .agg(length(min(col("event_type"))).cast("long").as("w"))
    val plain = e.join(dim, "event_type").groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value") * col("w")), 4).as("weighted"))
      .collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n"), r.getAs[Double]("weighted")))).toMap
    assert(salted == plain)
  }

  test("every query returns rows at sf0.001 — no vacuous results") {
    SparkEntry.queries.foreach { case (name, fn) =>
      assert(fn(spark, sf).limit(1).count() > 0, s"$name returned 0 rows")
    }
  }

  test("sample_quantiles: sample is ~10% and quantiles bracket the exact ones") {
    val total = Tables.events(spark, sf).count().toDouble
    val r = run("sample_quantiles").collect()
    val nSample = r.map(_.getAs[Long]("n_sample")).sum.toDouble
    assert(nSample / total > 0.05 && nSample / total < 0.15,
      s"sample fraction ${nSample / total}")
    // p50 of a 10% uniform-hash sample should land near the true p50.
    // sf0.001 has ~20 sampled rows per group — too noisy for a drift
    // bound, so the accuracy claim runs at sf0.01 (~200 per group).
    val sf01 = "/root/testdata/sf0.01"
    val exact = Tables.events(spark, sf01).groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("p50x")).collect()
      .map(x => x.getAs[String]("event_type") -> x.getAs[Double]("p50x")).toMap
    SparkEntry.queries("sample_quantiles")(spark, sf01).collect().foreach { row =>
      val et = row.getAs[String]("event_type")
      val spread = math.abs(row.getAs[Double]("p50") - exact(et)) / math.max(exact(et).abs, 1e-9)
      assert(spread < 0.25, s"$et p50 drifted $spread from exact")
    }
  }

  test("event_transitions: cells match a per-user ordered recount, probs sum to 1") {
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id")).collect()
      .map { r =>
        val t = r.getTimestamp(2)
        val us = math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
        (r.getLong(0), r.getString(1), us, r.getLong(3))
      }
    val expected = ev.groupBy(_._1).values.toSeq.flatMap { rows =>
      rows.sortBy(r => (r._3, r._4)).map(_._2).sliding(2)
        .filter(_.length == 2).map(p => (p(0), p(1)))
    }.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got = run("event_transitions").collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getAs[Long]("n"), r.getAs[Double]("p"))))
      .toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (k, n) => assert(got(k)._1 == n, s"cell $k") }
    // each from_type's probabilities sum to ~1 (rounding at 4 dp)
    got.groupBy(_._1._1).values.foreach { cells =>
      assert(math.abs(cells.map(_._2._2).sum - 1.0) < 1e-2)
    }
  }

  test("itemsets: support and lift match a local basket recount") {
    val baskets = Tables.events(spark, sf).select("user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val byUser = baskets.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val n = byUser.size
    val typeN = baskets.groupBy(_._2).view.mapValues(_.size).toMap
    val expected = byUser.values.toSeq
      .flatMap(ts => ts.toSeq.sorted.combinations(2).map(p => (p(0), p(1))))
      .groupBy(identity).view.mapValues(_.size).toMap
    val got = run("itemsets").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(got.keySet == expected.keySet && got.nonEmpty)
    expected.foreach { case (k, nab) =>
      val r = got(k)
      assert(r.getAs[Long]("n_ab") == nab.toLong, s"pair $k")
      assert(r.getAs[Double]("support") ==
        graft.Portable.jround(nab.toDouble / n, 4))
      assert(r.getAs[Double]("lift") ==
        graft.Portable.jround(
          nab.toDouble * n / (typeN(k._1).toDouble * typeN(k._2)), 4), s"lift $k")
    }
  }

  test("attribution: last-touch credits match a per-user local replay") {
    val ev = Tables.events(spark, sf)
      .select("user_id", "event_type", "ts", "event_id", "value").collect()
      .map { r =>
        val t = r.getTimestamp(2)
        (r.getLong(0), r.getString(1),
          math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000, // micros
          r.getLong(3), r.getDouble(4))
      }
    // local replay: per user, scan in (ts, event_id) order carrying
    // the last click's micros
    case class P(hour: String, attributed: Boolean, value: Double, lagS: Long)
    val sdf = new java.text.SimpleDateFormat("yyyy-MM-dd HH:00:00")
    sdf.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    val purchases = ev.groupBy(_._1).values.toSeq.flatMap { rows =>
      var lastClick = Option.empty[Long]
      rows.sortBy(r => (r._3, r._4)).flatMap { r =>
        val out = if (r._2 == "purchase") {
          val lag = lastClick.map(c => r._3 / 1000000L - c / 1000000L)
          Some(P(sdf.format(new java.util.Date(r._3 / 1000L)),
            lag.exists(_ <= graft.queries.Behavior.AttribWindowSec), r._5,
            lag.getOrElse(-1L)))
        } else None
        if (r._2 == "click") lastClick = Some(r._3)
        out
      }
    }
    val expected = purchases.groupBy(_.hour).map { case (h, ps) =>
      val att = ps.filter(_.attributed)
      h -> (ps.size.toLong, att.size.toLong,
        if (att.isEmpty) null
        else att.map(p => BigDecimal(p.value).setScale(4, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble,
        if (att.isEmpty) null
        else graft.Portable.jround(att.map(_.lagS).sum.toDouble / att.size, 4))
    }
    val got = run("attribution").collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_purchases"), r.getAs[Long]("n_attributed"),
        r.getAs[Any]("attr_value"), r.getAs[Any]("avg_lag_s"))).toMap
    assert(got.keySet == expected.keySet && got.nonEmpty)
    expected.foreach { case (h, (n, na, v, lag)) =>
      val g = got(h)
      assert(g._1 == n && g._2 == na, s"hour $h counts: $g vs ($n, $na)")
      assert(g._3 == v, s"hour $h attr_value: ${g._3} vs $v")
      assert(g._4 == lag, s"hour $h avg_lag: ${g._4} vs $lag")
    }
    // the window must credit SOME purchases and leave some organic
    val totals = got.values.toSeq
    assert(totals.map(_._2).sum > 0 && totals.map(_._2).sum < totals.map(_._1).sum)
  }

  test("attribution_linear: integer credit conserves exactly; cells replay locally") {
    val W = graft.queries.Behavior.LinAttribWindowSec
    val evs = Tables.events(spark, sf)
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 1000,
        r.getLong(2), r.getString(3)))
    val byUser = evs.groupBy(_._1)
    // every (purchase, in-window click) pair, then the greedy credit
    val pairs: Seq[(Long, Long, Long)] = byUser.values.toSeq.flatMap { us =>
      val clicks = us.filter(_._4 == "click").toSeq
      us.toSeq.filter(_._4 == "purchase").flatMap { p =>
        val (tp, pid) = (p._2, p._3)
        clicks.collect { case (_, tc, cid, _) if tc < tp && tc >= tp - W =>
          (pid, tc, cid)
        }
      }
    }
    val credits = pairs.groupBy(_._1).values.flatMap { ps =>
      val k = ps.size.toLong
      val sorted = ps.sortBy(p => (p._2, p._3))
      sorted.zipWithIndex.map { case ((_, tc, _), i) =>
        (tc, 1000000L / k + (if (i == 0) 1000000L % k else 0L))
      }
    }.toSeq
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:00:00").withZone(java.time.ZoneOffset.UTC)
    val expected = credits.groupBy(c => fmt.format(java.time.Instant.ofEpochSecond(c._1)))
      .map { case (h, cs) => h -> (cs.size.toLong, cs.map(_._2).sum) }
    val got = run("attribution_linear").collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_touches"),
        r.getAs[Long]("n_purchases_touched"), r.getAs[Long]("credit_pm"))).toMap
    assert(got.keySet == expected.keySet && got.nonEmpty)
    expected.foreach { case (h, (nt, credit)) =>
      assert(got(h)._1 == nt, s"hour $h touches: ${got(h)._1} vs $nt")
      assert(got(h)._3 == credit, s"hour $h credit: ${got(h)._3} vs $credit")
    }
    // EXACT conservation: total credit = 1e6 per touched purchase —
    // the invariant a float split can never give
    val touchedPurchases = pairs.map(_._1).distinct.size.toLong
    assert(got.values.map(_._3).sum == 1000000L * touchedPurchases)
    // multi-touch purchases exist, so the split is not vacuous
    assert(pairs.groupBy(_._1).values.exists(_.size > 1))
  }

  test("burst_detect: flags replay the exact-integer trailing z-test; some but not all hours burst") {
    val got = run("burst_detect").collect()
      .map(r => (r.getString(0), r.getTimestamp(1)) ->
        (r.getAs[Long]("cnt"), r.getAs[Long]("trail_n"),
         r.getAs[Long]("trail_sum"), r.getAs[Long]("is_burst"))).toMap
    // local recount: hourly counts per type, 24-row trailing frame
    val hours = graft.Tables.events(spark, sf)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("c")).collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getAs[Long]("c")))
    assert(got.size == hours.length)
    hours.groupBy(_._1).foreach { case (tpe, rows) =>
      val ordered = rows.sortBy(_._2.getTime).map(r => (r._2, r._3))
      ordered.zipWithIndex.foreach { case ((h, c), i) =>
        val trail = ordered.slice(math.max(0, i - 24), i).map(_._2)
        val (n, s2, ss) = (BigInt(trail.length), BigInt(trail.sum),
          trail.map(v => BigInt(v) * v).sum)
        val dev = n * c - s2
        val burst = n >= graft.queries.Behavior.BurstMinTrail && dev > 0 &&
          dev * dev > 9 * (n * ss - s2 * s2)
        val g = got((tpe, h))
        assert(g == (c, n.toLong, s2.toLong, if (burst) 1L else 0L),
          s"$tpe@$h: $g vs ($c,$n,$s2,$burst)")
      }
    }
    val flags = got.values.map(_._4).sum
    assert(flags > 0 && flags < got.size, s"degenerate burst count $flags/${got.size}")
  }

  /** Local 30-min-gap sessionization of the raw events — shared by
    * the concurrency_peak and session_paths recounts. Returns per
    * (user, sess) the ordered event types and [start, end] seconds. */
  private def localSessions: Seq[(Long, Seq[String], Long, Long)] = {
    val evs = graft.Tables.events(spark, sf)
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 1000,
        r.getLong(2), r.getString(3)))
    evs.groupBy(_._1).toSeq.flatMap { case (uid, rows) =>
      val ordered = rows.sortBy(r => (r._2, r._3))
      val sess = scala.collection.mutable.ArrayBuffer[
        scala.collection.mutable.ArrayBuffer[(Long, String)]]()
      var prev = Long.MinValue
      ordered.foreach { case (_, t, _, tpe) =>
        if (sess.isEmpty || t - prev > 1800)
          sess += scala.collection.mutable.ArrayBuffer[(Long, String)]()
        sess.last += ((t, tpe)); prev = t
      }
      sess.map(es => (uid, es.map(_._2).toSeq, es.head._1, es.last._1))
    }
  }

  test("concurrency_peak: day peaks replay a single global sweep over session boundaries") {
    val deltas = localSessions.flatMap { case (_, _, t0, t1) =>
      Seq((t0, 1), (t1, -1))
    }
    // global sweep, +1 before -1 at equal instants (inclusive overlap)
    var cur = 0L
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd")
      .withZone(java.time.ZoneOffset.UTC)
    val peaks = scala.collection.mutable.Map[String, Long]()
    val started = scala.collection.mutable.Map[String, Long]()
    deltas.sortBy { case (t, d) => (t, -d) }.foreach { case (t, d) =>
      cur += d
      val day = fmt.format(java.time.Instant.ofEpochSecond(t))
      peaks(day) = math.max(peaks.getOrElse(day, Long.MinValue), cur)
      if (d == 1) started(day) = started.getOrElse(day, 0L) + 1
    }
    val got = run("concurrency_peak").collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("peak_conc"), r.getAs[Long]("n_started"))).toMap
    assert(got.keySet == peaks.keySet.toSet)
    peaks.foreach { case (day, p) =>
      assert(got(day) == (p, started.getOrElse(day, 0L)),
        s"$day: ${got(day)} vs ($p, ${started.getOrElse(day, 0L)})")
    }
    // concurrency is real: some instant holds >1 overlapping session
    assert(peaks.values.max > 1)
  }

  test("session_paths: path table replays the per-session 3-step prefixes") {
    val expected = localSessions
      .map { case (uid, types, _, _) => (uid, types.take(3)) }
      .groupBy(_._2).map { case (p, rs) =>
        p.mkString(">") -> (rs.size.toLong, rs.map(_._1).distinct.size.toLong,
          p.length.toLong)
      }
    val got = run("session_paths").collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_sessions"),
        r.getAs[Long]("n_users"), r.getAs[Long]("path_len"))).toMap
    assert(got == expected, s"${got.size} paths vs ${expected.size}")
    // multi-step paths dominate single events and sessions conserve
    assert(got.keys.count(_.contains(">")) > 0)
    assert(got.values.map(_._1).sum == localSessions.size)
  }

  /** Local (event_type → hour-index → count) map shared by the
    * gap_fill and ewma_smooth replays. */
  private lazy val hourlyCounts: Map[String, Map[Long, Long]] =
    Tables.events(spark, sf).select("event_type", "ts").collect()
      .map { r =>
        val sec = r.getTimestamp(1).getTime / 1000
        (r.getString(0), sec / 3600)
      }
      .groupBy(_._1)
      .map { case (t, rs) =>
        t -> rs.groupBy(_._2).map { case (h, hs) => h -> hs.length.toLong }
      }

  test("gap_fill: dense per-type hourly grid, zeros marked, fill-forward correct") {
    val got = run("gap_fill").collect()
      .map(r => (r.getString(0), r.getAs[Long]("hour_idx")) ->
        (r.getAs[Long]("observed"), r.getAs[Long]("cnt"), r.getAs[Long]("cnt_filled")))
      .toMap
    hourlyCounts.foreach { case (t, hc) =>
      val (h0, h1) = (hc.keys.min, hc.keys.max)
      // the grid is exactly the span — no holes, nothing outside
      assert(got.keys.filter(_._1 == t).map(_._2).toSet == (h0 to h1).toSet)
      var lastSeen = 0L
      (h0 to h1).foreach { h =>
        val (obs, cnt, filled) = got((t, h))
        hc.get(h) match {
          case Some(n) =>
            assert(obs == 1L && cnt == n); lastSeen = n
          case None =>
            assert(obs == 0L && cnt == 0L)
        }
        assert(filled == lastSeen, s"$t@$h filled $filled vs $lastSeen")
      }
      // the corpus actually exercises gaps (otherwise the test is vacuous)
      assert(got.keys.count(k => k._1 == t) >= hc.size)
    }
    assert(hourlyCounts.exists { case (t, hc) =>
      (hc.keys.min to hc.keys.max).exists(h => !hc.contains(h))
    }, "no gaps anywhere — fixture assumption broken")
  }

  test("interp_linear: two-sided interpolation replays locally, exact on observed hours") {
    val got = run("interp_linear").collect()
      .map(r => (r.getString(0), r.getAs[Long]("hour_idx")) ->
        (r.getAs[Long]("observed"), r.getAs[Long]("cnt"), r.getAs[Double]("interp")))
      .toMap
    hourlyCounts.foreach { case (t, hc) =>
      val (h0, h1) = (hc.keys.min, hc.keys.max)
      assert(got.keys.filter(_._1 == t).map(_._2).toSet == (h0 to h1).toSet)
      val obsHours = hc.keys.toSeq.sorted
      (h0 to h1).foreach { h =>
        val (obs, cnt, interp) = got((t, h))
        hc.get(h) match {
          case Some(n) =>
            assert(obs == 1L && cnt == n && interp == n.toDouble, s"$t@$h")
          case None =>
            assert(obs == 0L && cnt == 0L)
            val ph = obsHours.filter(_ < h).max
            val nh = obsHours.filter(_ > h).min
            val (pv, nv) = (hc(ph), hc(nh))
            val want = (pv * (nh - h) + nv * (h - ph)).toDouble / (nh - ph)
            assert(math.abs(interp - want) < 5e-5, s"$t@$h: $interp vs $want")
            // interpolation stays inside the bracket values
            assert(interp >= math.min(pv, nv) - 1e-9 &&
              interp <= math.max(pv, nv) + 1e-9)
        }
      }
    }
  }

  test("ewma_smooth: dyadic weights replay exactly, converges to cnt on constant runs") {
    val S = graft.queries.Behavior.EwmaW
    val got = run("ewma_smooth").collect()
      .map(r => (r.getString(0), r.getAs[Long]("hour_idx")) ->
        (r.getAs[Long]("cnt"), r.getAs[Double]("ewma"))).toMap
    hourlyCounts.foreach { case (t, hc) =>
      val (h0, h1) = (hc.keys.min, hc.keys.max)
      (h0 to h1).foreach { h =>
        val (cnt, ewma) = got((t, h))
        assert(cnt == hc.getOrElse(h, 0L))
        val num = (0 until S).map { k =>
          hc.getOrElse(h - k, 0L) * (1L << (S - 1 - k))
        }.sum
        val den =
          if (h - h0 >= S - 1) (1L << S) - 1L
          else (1L << S) - (1L << (S - 1 - (h - h0).toInt))
        // mirror Spark exactly: double division, then portable round
        val expected = graft.Portable.jround(num.toDouble / den, 4)
        assert(math.abs(ewma - expected) < 1e-9, s"$t@$h: $ewma vs $expected")
      }
    }
    // sanity: ewma tracks level — correlated with cnt on observed rows
    assert(got.nonEmpty)
  }

  test("delta_stats: per-user lag deltas replay with the (ts, event_id) total order") {
    val evs = Tables.events(spark, sf)
      .select("user_id", "event_id", "event_type", "ts").collect()
      .map { r =>
        val ts = r.getTimestamp(3)
        val sec = ts.getTime / 1000
        // order by FULL timestamp precision (sub-second parts are
        // real in this corpus), delta in truncated whole seconds —
        // exactly what the query and oracle both do
        (r.getLong(0), r.getLong(1), r.getString(2),
          sec, sec * 1000000000L + ts.getNanos)
      }
    val deltas = evs.groupBy(_._1).values.flatMap { us =>
      us.sortBy(u => (u._5, u._2)).sliding(2).collect {
        case Array(prev, cur) => (cur._3, cur._4 - prev._4)
      }
    }.toSeq
    val expected = deltas.groupBy(_._1).map { case (t, ds) =>
      val vs = ds.map(_._2)
      t -> (vs.length.toLong, vs.min, vs.max,
        graft.Portable.jround(vs.sum.toDouble / vs.length, 4),
        vs.count(_ < graft.queries.Behavior.RapidSec).toLong)
    }
    val got = run("delta_stats").collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_deltas"),
        r.getAs[Long]("min_s"), r.getAs[Long]("max_s"),
        r.getAs[Double]("avg_s"), r.getAs[Long]("n_rapid"))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (t, (n, mn, mx, avg, rapid)) =>
      val g = got(t)
      assert(g._1 == n && g._2 == mn && g._3 == mx && g._5 == rapid, s"type $t")
      assert(math.abs(g._4 - avg) < 1e-9, s"type $t avg ${g._4} vs $avg")
    }
    // the corpus exercises the rapid-fire band
    assert(expected.values.map(_._5).sum > 0)
  }

  test("feature_lags: lag/delta/rolling features replay an exact local recount") {
    val F = graft.queries.Behavior.FeatWin
    val ev = Tables.events(spark, sf)
      .select("user_id", "event_id", "ts", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime,
        math.floor(r.getDouble(3) * 100 + 0.5).toLong))
    val expected = ev.groupBy(_._1).toSeq.flatMap { case (u, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._2))
      sorted.zipWithIndex.map { case ((_, eid, _, q), i) =>
        val lag1 = if (i == 0) None else Some(sorted(i - 1)._4)
        val win = sorted.slice(math.max(0, i - (F - 1)), i + 1).map(_._4)
        (u, eid) -> (q, lag1, lag1.map(q - _), win.sum, win.length.toLong,
          graft.Portable.jround(win.sum.toDouble / win.length / 100.0, 4))
      }
    }
    val got = run("feature_lags").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("q"),
          Option(r.getAs[Any]("lag1_q")).map(_.asInstanceOf[Long]),
          Option(r.getAs[Any]("delta_q")).map(_.asInstanceOf[Long]),
          r.getAs[Long]("rsum_q"), r.getAs[Long]("n_win"),
          r.getAs[Double]("rmean"))).toMap
    assert(got.size == ev.length)
    expected.foreach { case (k, e) => assert(got(k) == e, s"event $k: ${got(k)} vs $e") }
  }

  test("seasonality: dow profile and residuals replay an exact integer recount") {
    val S = graft.queries.Behavior.SeasScale
    val days = Tables.events(spark, sf).select("ts").collect()
      .map(_.getTimestamp(0).toLocalDateTime.toLocalDate.toEpochDay)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val prof = days.toSeq.groupBy(_._1 % 7).view
      .mapValues(ds => (ds.map(_._2).sum, ds.length.toLong)).toMap
    val got = run("seasonality").collect()
      .map(r => r.getAs[Long]("epoch_day") ->
        (r.getAs[Long]("dow"), r.getAs[Long]("n_events"),
          r.getAs[Long]("expected_q"), r.getAs[Long]("resid_q"))).toMap
    assert(got.keySet == days.keySet)
    got.foreach { case (d, (dow, n, eq, rq)) =>
      assert(dow == d % 7 && n == days(d), s"day $d")
      val (sn, nd) = prof(d % 7)
      assert(eq == sn * S / nd, s"day $d expected")
      assert(rq == n * S - sn * S / nd, s"day $d resid")
    }
    // residuals cancel within each dow (mean decomposition property,
    // up to the integer-floor remainder per dow: < nd)
    got.values.groupBy(_._1).foreach { case (dow, rs) =>
      val (_, nd) = prof(dow)
      // sum over the dow = sn*S - nd*floor(sn*S/nd) = (sn*S) mod nd
      val resid = rs.map(_._4).sum
      assert(resid >= 0 && resid < nd, s"dow $dow residual sum $resid")
    }
  }

  test("ab_lift: exposure/conversion counts replay exactly; z sign tracks the rates") {
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("ts")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2).getTime))
    val firstView = ev.filter(_._2 == "view").groupBy(_._1)
      .view.mapValues(_.map(_._3).min).toMap
    val conv = ev.filter { case (u, t, ts) =>
      t == "purchase" && firstView.get(u).exists(ts > _)
    }.map(_._1).toSet
    def cnt(variant: Long) = {
      val users = firstView.keySet.filter(_ % 2 == variant)
      (users.size.toLong, users.count(conv).toLong)
    }
    val (na, ca) = cnt(0); val (nb, cb) = cnt(1)
    val r = run("ab_lift").head()
    assert(r.getAs[Long]("n_a") == na && r.getAs[Long]("conv_a") == ca)
    assert(r.getAs[Long]("n_b") == nb && r.getAs[Long]("conv_b") == cb)
    assert(r.getAs[Double]("rate_a") ==
      graft.Portable.jround(ca.toDouble / na, 6))
    // z's sign agrees with the raw rate difference (or both are zero)
    val diff = cb.toDouble / nb - ca.toDouble / na
    val z = r.getAs[Double]("z")
    assert(z == 0.0 && diff == 0.0 || z.sign == diff.sign, s"z $z diff $diff")
  }

  test("ivm_agg: delta-only refresh equals the full recompute over the merged table") {
    val got = run("ivm_agg").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("sum_chars"))).toMap
    val full = run("merge_delete")
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sc"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n"), r.getAs[Long]("sc"))).toMap
    assert(got == full, "incremental refresh diverged from the full recompute")
    // the fixture exercises every delta kind: deletes + updates shrink
    // or rewrite existing groups, so got must differ from the base view
    val base = Tables.documents(spark, sf)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n")).toMap
    assert(base != got.view.mapValues(_._1).toMap, "deltas must change the view")
  }

  test("time_split: per-type counts and user leakage recount locally") {
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), col("user_id"), col("ts").cast("long")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val tmin = ev.map(_._3).min
    val cut = tmin + (ev.map(_._3).max - tmin) * 4 / 5
    val expected = ev.groupBy(_._1).map { case (ty, g) =>
      val byUser = g.groupBy(_._2).view.mapValues { us =>
        (us.count(_._3 <= cut).toLong, us.count(_._3 > cut).toLong) }.toMap
      val uTr = byUser.values.count(_._1 > 0).toLong
      val uTe = byUser.values.count(_._2 > 0).toLong
      val uBoth = byUser.values.count(v => v._1 > 0 && v._2 > 0).toLong
      ty -> (byUser.values.map(_._1).sum, byUser.values.map(_._2).sum,
        uTr, uTe, uBoth, uBoth * 1000000L / math.max(uTe, 1L))
    }
    val got = run("time_split").collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))).toMap
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("soundex_blocking: the canonical Soundex test vectors encode " +
    "correctly through the corpus pipeline, and buckets conserve tokens") {
    // encode the classic vectors by running them through the SAME
    // Spark expression pipeline via a literal frame
    import spark.implicits._
    import graft.operators.Maintenance.{SdxMatch, SdxReplace}
    val vectors = Map("robert" -> "R163", "rupert" -> "R163",
      "ashcraft" -> "A261", "ashcroft" -> "A261", "tymczak" -> "T522",
      "pfister" -> "P236", "honeyman" -> "H555", "hmm" -> "H500",
      "white" -> "W300", "gag" -> "G200", "smith" -> "S530",
      "smyth" -> "S530")
    val got = vectors.keys.toSeq.toDF("tok")
      .withColumn("codes", translate(col("tok"), SdxMatch, SdxReplace))
      .withColumn("collapsed",
        expr("aggregate(filter(split(codes, ''), c -> c <> ''), '', " +
          "(acc, c) -> CASE WHEN substring(acc, -1, 1) = c THEN acc " +
          "ELSE concat(acc, c) END)"))
      .withColumn("sdx", concat(upper(substring(col("tok"), 1, 1)),
        substring(concat(regexp_replace(
          when(substring(col("tok"), 1, 1).isin("h", "w"), col("collapsed"))
            .otherwise(expr("substring(collapsed, 2)")), "0", ""),
          lit("000")), 1, 3)))
      .collect().map(r => r.getString(0) -> r.getString(3)).toMap
    assert(got == vectors)
    // corpus: buckets conserve the distinct-token universe, every
    // code is letter + 3 digits, and the blocking is non-vacuous
    // (some bucket holds >1 distinct token)
    val rows = SparkEntry.queries("soundex_blocking")(spark, sf).collect()
    val nTok = graft.Tables.part(spark, sf)
      .selectExpr("explode(split(lower(p_name), ' ')) AS tok")
      .where("tok rlike '^[a-z]+$'").select("tok").distinct().count()
    assert(rows.map(_.getLong(1)).sum == nTok)
    assert(rows.forall(_.getString(0).matches("[A-Z][0-9]{3}")))
    assert(rows.exists(_.getLong(1) > 1), "no phonetic collisions — vacuous")
  }

  test("record_linkage: Fellegi-Sunter scores replay from first principles; " +
    "full-agreement pairs are links and are all true twins") {
    import graft.operators.Maintenance.{RlMBal, RlMName, RlMSeg,
      RlPrefixLen, RlSegs, RlThLink, RlThPoss, RlTwinBase}
    val cust = Tables.customer(spark, sf)
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getDouble(3),
        r.getString(4)))
    val twins = cust.filter(_._1 % 7 == 0).map { case (k, n, nat, bal, seg) =>
      val b = if (k % 3 == 0) bal + 1.0 else bal
      val sg = if (k % 5 == 0) RlSegs((RlSegs.indexOf(seg) + 1) % 5) else seg
      (k + RlTwinBase, n, nat, b, sg)
    }
    val pairs = for {
      (ka, na, nata, bala, sega) <- cust
      (kb, nb, natb, balb, segb) <- twins
      if nata == natb && na.take(RlPrefixLen) == nb.take(RlPrefixLen)
    } yield (ka, kb, if (na == nb) 1L else 0L, if (bala == balb) 1L else 0L,
      if (sega == segb) 1L else 0L)
    val np = pairs.length.toLong
    val (uName, uBal, uSeg) =
      (pairs.map(_._3).sum, pairs.map(_._4).sum, pairs.map(_._5).sum)
    def ilog2(x: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(x)
    def llr(g: Long, m: Long, u: Long): Long =
      if (g == 1) ilog2(m * np + 1) - ilog2(1000 * u + 1)
      else ilog2((1000 - m) * np + 1) - ilog2(1000 * (np - u) + 1)
    val expected = pairs.map { case (ka, kb, gn, gb, gs) =>
      val score = llr(gn, RlMName, uName) + llr(gb, RlMBal, uBal) +
        llr(gs, RlMSeg, uSeg)
      val dec = if (score >= RlThLink) "link"
        else if (score >= RlThPoss) "possible" else "non_link"
      ((gn * 4 + gb * 2 + gs, score, dec), kb == ka + RlTwinBase)
    }.groupBy(_._1).view
      .mapValues(g => (g.length.toLong, g.count(_._2).toLong)).toMap
    val got = run("record_linkage").collect()
      .map(r => (r.getAs[Long]("pattern"), r.getAs[Long]("score"),
        r.getAs[String]("decision")) ->
        ((r.getAs[Long]("n_pairs"), r.getAs[Long]("n_true")))).toMap
    assert(got == expected)
    // the three-way decision is live and full agreement means twin:
    // names are unique, so pattern 7 pairs are exactly true matches
    val p7 = got.filter(_._1._1 == 7L)
    assert(p7.nonEmpty)
    p7.foreach { case ((_, _, dec), (n, t)) =>
      assert(dec == "link" && n == t, s"pattern-7 $dec $n/$t")
    }
    assert(got.keys.map(_._3).toSet == Set("link", "possible", "non_link"))
    // conservation: pairs and true twins both fully accounted
    assert(got.values.map(_._1).sum == np)
    assert(got.values.map(_._2).sum == twins.length.toLong)
  }

  test("record_linkage: candidate pairs grow ~linearly in N on a planted " +
    "2-nation skew corpus (the compound block; nation-only would be ~4x)") {
    import graft.operators.Maintenance.{RlPrefixLen, RlSegs, RlTwinBase}
    import spark.implicits._
    def plant(n: Int): String = {
      val dir = java.nio.file.Files.createTempDirectory(s"rl_lin_$n")
        .toFile.getAbsolutePath
      (1 to n).map { k =>
        (k.toLong, f"Customer#$k%09d", k % 2, k * 1.0, RlSegs(k % 5))
      }.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/customer.parquet")
      dir
    }
    def pairCount(dir: String): Long =
      graft.operators.Maintenance.recordLinkage(spark, dir)
        .agg(sum(col("n_pairs"))).collect()(0).getLong(0)
    // local replay of the candidate count under the compound block
    def replay(n: Int): Long = {
      val cust = (1 to n).map(k => (k.toLong, f"Customer#$k%09d", k % 2))
      val twins = cust.filter(_._1 % 7 == 0)
        .map { case (k, nm, nat) => (k + RlTwinBase, nm, nat) }
      (for {
        (_, na, nata) <- cust
        (_, nb, natb) <- twins
        if nata == natb && na.take(RlPrefixLen) == nb.take(RlPrefixLen)
      } yield 1L).sum
    }
    val (small, big) = (700, 1400)
    val (pS, pB) = (pairCount(plant(small)), pairCount(plant(big)))
    assert(pS == replay(small) && pB == replay(big),
      s"candidate volume diverged from the blocked replay: $pS $pB")
    val ratio = pB.toDouble / pS
    // compound block: blocks grow with N, ratio ~2.3 here (coarse
    // 1000-key blocks vs N=700); nation-only blocking gives exactly 4.0
    assert(ratio < 3.0, s"pairs grew ${ratio}x on 2x data — quadratic block")
    assert(ratio > 1.5, s"pairs grew only ${ratio}x — recall suspicious")
  }

  test("seq_patterns: supports replay against brute-force subsequence " +
    "containment; order is live (itemsets cannot express it)") {
    import graft.queries.Behavior.SeqMinSupPm
    val byUser = Tables.events(spark, sf)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0),
        (r.getTimestamp(1).getTime, r.getTimestamp(1).getNanos, r.getLong(2)),
        r.getString(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).toSeq).toMap
    // sequence database = user-days (the measured non-degenerate unit)
    val seqs: Map[(Long, String), Seq[String]] = byUser.toSeq.flatMap {
      case (u, evs) =>
        evs.map { case (_, (ms, _, _), e) =>
          val day = new java.sql.Timestamp(ms).toLocalDateTime.toLocalDate.toString
          ((u, day), e)
        }
    }.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    def contains(seq: Seq[String], pat: Seq[String]): Boolean = {
      var i = 0
      seq.foreach { e => if (i < pat.length && e == pat(i)) i += 1 }
      i == pat.length
    }
    val types = seqs.values.flatten.toSet.toSeq.sorted
    val nu = seqs.size.toLong
    def sup(pat: Seq[String]): Long =
      seqs.values.count(contains(_, pat)).toLong
    val expected = (
      types.map(a => (1L, a, null: String, null: String, sup(Seq(a)))) ++
      (for (a <- types; b <- types) yield
        (2L, a, b, null: String, sup(Seq(a, b)))) ++
      (for (a <- types; b <- types; c <- types) yield
        (3L, a, b, c, sup(Seq(a, b, c))))
    ).filter(t => t._5 * 1000L >= SeqMinSupPm * nu)
      .map(t => (t._1, t._2, t._3, t._4) -> ((t._5, t._5 * 1000L / nu))).toMap
    val got = SparkEntry.queries("seq_patterns")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))
        -> ((r.getAs[Long]("n_sup"), r.getAs[Long]("support_pm")))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (k, v) => assert(got(k) == v, s"pattern $k") }
    assert(got.forall(_._1._1 >= 1L) && got.exists(_._1._1 == 3L))
    // order matters somewhere: some pair supports differ by direction
    // (else the operator degenerates to co-occurrence)
    val l2 = got.collect { case ((2L, a, b, _), (s, _)) => (a, b) -> s }.toMap
    assert(l2.exists { case ((a, b), s) =>
      a != b && l2.get((b, a)).exists(_ != s) },
      "every pair symmetric — order carries no information here")
  }

  test("cusum_changepoint: the prefix-min closed form equals Page's " +
    "recursion replayed day by day") {
    import graft.queries.Behavior.{CusumKa, CusumKd, CusumH}
    val daily = Tables.events(spark, sf)
      .select(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1)))
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .map { case ((t, d), n) => (t, d, n) }
    val got = SparkEntry.queries("cusum_changepoint")(spark, sf).collect()
      .map(r => (r.getString(0), r.getTimestamp(1)) ->
        ((r.getAs[Long]("x"), r.getAs[Long]("cusum_pos"),
          r.getAs[Long]("cusum_neg"), r.getAs[Long]("alarm_pos"),
          r.getAs[Long]("alarm_neg")))).toMap
    assert(got.size == daily.size)
    daily.groupBy(_._1).foreach { case (t, rows) =>
      val series = rows.sortBy(_._2.getTime).map(r => (r._2, r._3))
      val nd = series.length.toLong
      val total = series.map(_._2).sum
      var sp = 0L; var sn = 0L
      series.foreach { case (day, x) =>
        // Page 1954: S_t = max(0, S_{t-1} + (x_t - mu - k)), scaled by nd*Kd
        sp = math.max(0L, sp + CusumKd * (nd * x - total) - CusumKa * total)
        sn = math.max(0L, sn + CusumKd * (total - nd * x) - CusumKa * total)
        val g = got((t, day))
        assert(g._1 == x, s"$t/$day x")
        assert(g._2 == sp, s"$t/$day cusum_pos")
        assert(g._3 == sn, s"$t/$day cusum_neg")
        assert(g._4 == (if (sp > CusumH * CusumKd * total) 1L else 0L))
        assert(g._5 == (if (sn > CusumH * CusumKd * total) 1L else 0L))
      }
    }
  }

  test("mann_kendall machinery: planted monotone series hit tau ±1 with the " +
    "exact S/var18, a flat series nulls out, ties land on tau_b") {
    import spark.implicits._
    import java.sql.Date
    def series(t: String, ys: Seq[Long]) = ys.zipWithIndex.map { case (y, i) =>
      (t, Date.valueOf(f"1995-01-${i + 1}%02d"), y)
    }
    val daily = (series("inc", Seq(1, 2, 3, 4, 5, 6, 7, 8)) ++
      series("dec", Seq(8, 7, 6, 5, 4, 3, 2, 1)) ++
      series("flat", Seq.fill(8)(3L)) ++
      series("mixed", Seq(1, 3, 2, 3, 5, 4))).toDF("event_type", "d", "y")
    val got = graft.queries.Behavior.mkFromDaily(daily).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Double]),
        Option(r.get(5)).map(_.asInstanceOf[Double])))).toMap
    // locally recomputed: S = Σ sgn pairs, var18 tie-corrected,
    // z continuity-corrected, tau_b with the tie denominator
    assert(got("inc") == ((8L, 28L, 1176L, Some(3.340384), Some(1.0))))
    assert(got("dec") == ((8L, -28L, 1176L, Some(-3.340384), Some(-1.0))))
    assert(got("flat") == ((8L, 0L, 0L, None, None)))
    assert(got("mixed") == ((6L, 10L, 492L, Some(1.721457), Some(0.690066))))
  }

  test("kaplan_meier machinery: a planted censoring pattern reproduces the " +
    "hand-computed product limit, with the censored subject leaving the " +
    "risk set without a survival drop") {
    import spark.implicits._
    // deaths at t=0,0,1,3 + one censored at t=1:
    // n_risk 5/3/1, S = 3/5, then ×2/3, then ×0
    val durs = Seq((1L, 0L), (1L, 0L), (1L, 1L), (0L, 1L), (1L, 3L))
      .toDF("died", "t")
    val got = graft.queries.Behavior.kmFromDurations(durs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.toSeq == Seq((0L, 5L, 2L, 0L, 600000000L),
      (1L, 3L, 1L, 1L, 400000000L), (3L, 1L, 1L, 0L, 0L)))
  }

  test("kaplan_meier: corpus curve replays from a local sequential " +
    "product limit over the same session assembly") {
    val rows = graft.Tables.events(spark, sf)
      .selectExpr("user_id", "event_id", "CAST(ts AS LONG) AS t").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    import graft.queries.Behavior.{KmGapSecs, KmStepSecs, KmScale}
    val durs = rows.groupBy(_._1).values.flatMap { es =>
      val ts = es.sortBy(e => (e._3, e._2)).map(_._3)
      val bounds = ts.indices.filter(i => i > 0 && ts(i) - ts(i - 1) > KmGapSecs)
      val cuts = (0 +: bounds) :+ ts.length
      cuts.sliding(2).map { case Seq(a, b) => (ts(a), ts(b - 1)) }.toSeq
    }.toSeq
    val h = durs.map(_._2).max
    val obs = durs.map { case (t0, t1) =>
      (if (h - t1 > KmGapSecs) 1L else 0L, (t1 - t0) / KmStepSecs)
    }
    val steps = obs.groupBy(_._2).map { case (t, os) =>
      (t, os.count(_._1 == 1L).toLong, os.count(_._1 == 0L).toLong)
    }.toSeq.sortBy(_._1)
    var s0 = KmScale; var atRisk = obs.size.toLong
    val expected = steps.map { case (t, d, c) =>
      s0 = s0 * (atRisk - d) / atRisk
      val row = (t, atRisk, d, c, s0)
      atRisk -= d + c
      row
    }
    val got = SparkEntry.queries("kaplan_meier")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(_._1).toSeq
    assert(got == expected)
    val survs = got.map(_._5)
    assert(survs.zip(survs.tail).forall { case (a, b) => b <= a },
      "survival not monotone")
    assert(got.map(_._4).sum > 0, "no censored sessions — vacuous censoring")
  }

  test("nelson_aalen machinery: the planted K-M censoring pattern yields the " +
    "hand-summed cumulative hazard, and hazard grows exactly where " +
    "survival drops") {
    import spark.implicits._
    // same plant as the K-M spec: d=2 of 5 at t0, d=1 c=1 of 3 at t1,
    // d=1 of 1 at t3 → hazards 400000, 333333, 1000000
    val durs = Seq((1L, 0L), (1L, 0L), (1L, 1L), (0L, 1L), (1L, 3L))
      .toDF("died", "t")
    val got = graft.queries.Behavior.naFromDurations(durs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4), r.getLong(5),
        r.getLong(6)))
    assert(got.toSeq == Seq(
      (0L, 5L, 400000L, 400000L, 80000000000L),
      (1L, 3L, 333333L, 733333L, 191111111111L),
      (3L, 1L, 1000000L, 1733333L, 1191111111111L)))
    // complementarity on the corpus: every step where K-M survival
    // drops, the cumulative hazard strictly rises, and vice versa
    val km = SparkEntry.queries("kaplan_meier")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).sortBy(_._1)
    val na = SparkEntry.queries("nelson_aalen")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(5)).sortBy(_._1)
    assert(km.map(_._1).sameElements(na.map(_._1)))
    km.zip(na).sliding(2).filter(_.length == 2).foreach { pair =>
      val ((_, s0), (_, h0)) = pair(0)
      val ((_, s1), (_, h1)) = pair(1)
      assert((s1 < s0) == (h1 > h0), s"surv/hazard disagree at $s1/$h1")
    }
  }

  test("cuped machinery: a NULL experiment with covariate imbalance reads a " +
    "false raw lift that CUPED zeroes exactly, at variance reduction 1") {
    import spark.implicits._
    // y = 2x + 5 for EVERYONE (no treatment effect), arms imbalanced
    // in x (control {0,10}, treat {20,30}): raw lift = 2·Δx̄ = 40 —
    // pure covariate bias — θ = 2 exactly, CUPED lift = 0, ρ² = 1
    val users = Seq((0L, 0L, 5L), (0L, 10L, 25L),
      (1L, 20L, 45L), (1L, 30L, 65L)).toDF("variant", "x", "y")
    val r = graft.queries.Behavior.cupedFromUsers(users).collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 2.0)      // theta
    assert(r.getDouble(3) == 40.0)     // raw lift (pure imbalance bias)
    assert(r.getDouble(4) == 0.0)      // cuped lift (the true null)
    assert(r.getDouble(5) == 1.0)      // var_reduction = rho^2
  }

  test("cuped_lift: corpus moments replay locally and the adjustment obeys " +
    "the mean identity") {
    import graft.queries.Behavior.CupedSplitDay
    val rows = graft.Tables.events(spark, sf)
      .selectExpr("user_id", "to_date(ts) AS d",
        "CAST(floor(value * 100 + 0.5) AS LONG) AS vq").collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate, r.getLong(2)))
    val d0 = rows.map(_._2).min
    val users = rows.groupBy(_._1).map { case (uid, es) =>
      val (pre, post) = es.partition(e =>
        java.time.temporal.ChronoUnit.DAYS.between(d0, e._2) < CupedSplitDay)
      (uid % 2, pre.map(_._3).sum, post.map(_._3).sum)
    }.toSeq
    def mean(s: Seq[Long]) = s.sum.toDouble / s.size
    val n = users.size.toDouble
    val sx = users.map(_._2).sum.toDouble; val sy = users.map(_._3).sum.toDouble
    val sxy = users.map(u => u._2 * u._3).sum.toDouble
    val sxx = users.map(u => u._2 * u._2).sum.toDouble
    val theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val a = users.filter(_._1 == 0); val b = users.filter(_._1 == 1)
    val liftRaw = mean(b.map(_._3)) - mean(a.map(_._3))
    val cuped = liftRaw - theta * (mean(b.map(_._2)) - mean(a.map(_._2)))
    val r = SparkEntry.queries("cuped_lift")(spark, sf).collect().head
    assert(r.getLong(0) == a.size.toLong && r.getLong(1) == b.size.toLong)
    assert(math.abs(r.getDouble(2) - theta) < 1e-5, "theta")
    assert(math.abs(r.getDouble(3) - liftRaw) < 0.011, "raw lift")
    assert(math.abs(r.getDouble(4) - cuped) < 0.011, "cuped lift")
    assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0)
  }

  test("markov machinery: removing the only converting channel zeroes the " +
    "chain, a dead-end channel has zero removal effect, and shares " +
    "normalize to the decisive channel") {
    import spark.implicits._
    // START→click(2)→{CONV(1), NULL(1)}; START→view(1)→NULL(1);
    // START→NULL(1): p_full = (2/4)·(1/2) = 250000 ppm exactly
    val trans = Seq(("START", "click", 2L), ("click", "CONV", 1L),
      ("click", "NULL", 1L), ("START", "view", 1L), ("view", "NULL", 1L),
      ("START", "NULL", 1L)).toDF("src", "dst", "c")
    val got = graft.queries.Behavior.removalEffects(spark, trans).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(got("click") == ((250000L, 0L, 250000L, 1000L)))
    assert(got("view") == ((250000L, 250000L, 0L, 0L)))
    assert(got("error") == ((250000L, 250000L, 0L, 0L)))
    assert(got("signup") == ((250000L, 250000L, 0L, 0L)))
  }

  test("markov_attribution: corpus result replays from a local chain over " +
    "the operator's own transition counts") {
    import graft.queries.Behavior.{ShapChannels, MkSteps}
    val trans = graft.queries.Behavior.transitionCounts(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    def pconv(removed: Option[String]): Long = {
      val redirected = trans
        .filter { case (src, _, _) => !removed.contains(src) }
        .map { case (src, dst, c) =>
          (src, if (removed.contains(dst)) "NULL" else dst, c) }
        .groupBy(t => (t._1, t._2)).view.mapValues(_.map(_._3).sum).toMap
      val loops = redirected ++ Map(("CONV", "CONV") -> 1L, ("NULL", "NULL") -> 1L)
      val r = loops.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
      var v = Map("START" -> 1000000L)
      for (_ <- 1 to MkSteps) {
        v = loops.toSeq.flatMap { case ((src, dst), c) =>
          v.get(src).map(m => dst -> m * c / r(src))
        }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      }
      v.getOrElse("CONV", 0L)
    }
    val pFull = pconv(None)
    val expected = ShapChannels.map { case (nm, _) =>
      nm -> ((pFull, pconv(Some(nm)), pFull - pconv(Some(nm))))
    }.toMap
    val got = SparkEntry.queries("markov_attribution")(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == expected)
    val totRem = expected.values.map(_._3).sum
    assert(totRem > 0, "no removal effect anywhere — vacuous chain")
  }

  test("markov_attribution: driver-absorb and relational forms are " +
    "row-identical (the r13-opt swap)") {
    val a = SparkEntry.queries("markov_attribution")(spark, sf)
      .collect().map(_.toSeq).toSet
    val b = ReferenceForms.markovRemovalRelational(spark,
        graft.queries.Behavior.transitionCounts(spark, sf))
      .collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }

  test("shapley machinery: a planted decisive channel takes all the credit, " +
    "a dummy channel gets exactly zero, destroyers go negative, and the " +
    "efficiency identity holds on the x24 lattice") {
    import spark.implicits._
    // click converts alone (v=1) and with view (v=1); view alone never
    // converts; error/signup are never touched (absent masks worth 0)
    val masks = Seq((1L, 4L, 1000000L), (8L, 4L, 0L), (9L, 2L, 1000000L))
      .toDF("mask", "tot", "v_ppm")
    val got = graft.queries.Behavior.shapleyFromMasks(spark, masks).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // hand enumeration: phi_click = 6w*v(1) + 2w*(v(9)-v(8)) = 8e6;
    // view marginal is 0 everywhere (dummy); error/signup each destroy
    // click value on 2 coalitions (v absent = 0): -2e6 - 2e6
    assert(got("click") == ((6L, 8000000L, 333333L)))
    assert(got("view") == ((6L, 0L, 0L)))
    assert(got("error") == ((0L, -4000000L, -166666L)))
    assert(got("signup") == ((0L, -4000000L, -166666L)))
    // efficiency: sums to 24*(v(full) - v(empty)) = 0 here, exactly
    assert(got.values.map(_._2).sum == 0L)
  }

  test("shapley_attribution: corpus result replays from a local full " +
    "coalition enumeration over the operator's own worth frame") {
    import graft.queries.Behavior.ShapChannels
    val masks = graft.queries.Behavior.journeyMasks(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def v(m: Long): Long = masks.get(m).map(_._2).getOrElse(0L)
    val fact = Map(0 -> 6L, 1 -> 2L, 2 -> 2L, 3 -> 6L)
    val expected = ShapChannels.map { case (nm, bit) =>
      val ss = (0 until 16).map(_.toLong).filter(s => (s & bit) == 0)
      nm -> ((
        ss.map(s => masks.get(s | bit).map(_._1).getOrElse(0L)).sum,
        ss.map(s => fact(java.lang.Long.bitCount(s)) * (v(s | bit) - v(s))).sum))
    }.toMap
    val got = SparkEntry.queries("shapley_attribution")(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected)
    assert(got.values.map(_._2).sum == 24L * v(15L),
      "efficiency identity broken")
  }

  test("mann_kendall: corpus run replays from a local pair count and agrees " +
    "with trend_fit's slope sign per event type") {
    val daily = SparkEntry.queries("trend_fit")(spark, sf) // just for types
    val got = SparkEntry.queries("mann_kendall")(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val local = graft.Tables.events(spark, sf)
      .selectExpr("event_type", "to_date(ts) AS d").groupBy("event_type", "d")
      .count().collect()
      .map(r => (r.getString(0), r.getDate(1).getTime, r.getLong(2)))
      .groupBy(_._1)
    local.foreach { case (t, rows) =>
      val ys = rows.sortBy(_._2).map(_._3)
      val s = (for (i <- ys.indices; j <- i + 1 until ys.length)
        yield java.lang.Long.signum(ys(j) - ys(i)).toLong).sum
      assert(got(t) == ((ys.length.toLong, s)), s"type $t")
    }
    assert(daily.columns.contains("slope"))
  }
}
