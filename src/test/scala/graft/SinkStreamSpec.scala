package graft

import org.apache.spark.sql.functions._
import graft.sinks.JdbcUpsertSink
import graft.streaming.StreamIngest

class SinkStreamSpec extends SparkSpec {

  test("upsertSql: every non-key column gets EXCLUDED, key drives conflict") {
    val sql = JdbcUpsertSink.upsertSql("decisions", Seq("uuid", "reason", "ts"), "uuid")
    assert(sql == "INSERT INTO decisions (uuid, reason, ts) VALUES (?, ?, ?) " +
      "ON CONFLICT (uuid) DO UPDATE SET reason = EXCLUDED.reason, ts = EXCLUDED.ts")
    assertThrows[IllegalArgumentException] {
      JdbcUpsertSink.upsertSql("t", Seq("a", "b"), "missing")
    }
  }

  test("upsertSql guard: table aliased, DO UPDATE conditional — and stream_decisions passes it") {
    val sql = JdbcUpsertSink.upsertSql("decisions", Seq("uuid", "reason"), "uuid",
      guard = "EXCLUDED.reason > t.reason")
    assert(sql == "INSERT INTO decisions AS t (uuid, reason) VALUES (?, ?) " +
      "ON CONFLICT (uuid) DO UPDATE SET reason = EXCLUDED.reason " +
      "WHERE EXCLUDED.reason > t.reason")
    // the stream_decisions guard compares the LWW triple on both
    // sides, with the row-hash tiebreak computed in SQL
    val g = graft.ingest.Decisions.lwwGuardSql
    assert(g.startsWith("(EXCLUDED.created_at, EXCLUDED.platform_uid, md5(concat_ws(chr(1)"))
    assert(g.contains(" > (t.created_at, t.platform_uid, md5(concat_ws(chr(1)"))
    assert(g.contains("EXCLUDED.decision_visibility") && g.contains("t.decision_visibility"))
  }

  test("ddlSql: CREATE TABLE from the Decision schema, key as PRIMARY KEY (AutoMigrate analog)") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("uuid", StringType, nullable = false),
      StructField("created_at", TimestampType),
      StructField("decision_visibility", ArrayType(StringType)),
      StructField("n_rows", LongType),
      StructField("score", DoubleType),
      StructField("automated", BooleanType)))
    val ddl = JdbcUpsertSink.ddlSql("decisions", schema, "uuid")
    assert(ddl == "CREATE TABLE IF NOT EXISTS decisions (" +
      "uuid TEXT PRIMARY KEY, created_at TIMESTAMP, " +
      "decision_visibility TEXT[], n_rows BIGINT, " +
      "score DOUBLE PRECISION, automated BOOLEAN)")
    // the full 40-column round-trip schema must map without gaps
    val full = SparkEntry.queries("decision_roundtrip")(spark, sf).schema
    val fullDdl = JdbcUpsertSink.ddlSql("decisions", full, "uuid")
    assert(full.fields.forall(f => fullDdl.contains(f.name + " ")))
    assert(fullDdl.contains("uuid TEXT PRIMARY KEY"))
    assertThrows[IllegalArgumentException] {
      JdbcUpsertSink.ddlSql("t", schema, "missing")
    }
    // migrate executes the DDL once through a connection
    FakeDb.reset(failInserts = false)
    JdbcUpsertSink.migrate(FakeDb.connect("jdbc:fake"), "decisions", schema, "uuid")
    assert(FakeDb.entries.exists(e => e.startsWith("exec:CREATE TABLE IF NOT EXISTS decisions")))
  }

  /** Row count of each `batchSize` chunk of `n` rows — the sink's
    * batching math, recomputed independently of its executeBatch loop. */
  private def batchSizes(n: Long, batchSize: Int): Seq[Long] =
    (0L until (n + batchSize - 1) / batchSize)
      .map(b => math.min(batchSize.toLong, n - b * batchSize))

  test("batchSizes: 1000-row chunking matches the reference's batching") {
    assert(batchSizes(2500, 1000) == Seq(1000L, 1000L, 500L))
    assert(batchSizes(1000, 1000) == Seq(1000L))
    assert(batchSizes(0, 1000).isEmpty)
  }

  test("jdbc_sink query: per-writer batch sizes sum to row count, all full but last") {
    val rows = SparkEntry.queries("jdbc_sink")(spark, sf)
      .orderBy("writer", "batch_id").collect()
    val byWriter = rows.groupBy(_.getAs[Long]("writer"))
    assert(byWriter.nonEmpty && byWriter.size <= Ingest.JdbcShards)
    assert(rows.map(_.getAs[Long]("n_rows")).sum ==
      Tables.documents(spark, sf).count())
    byWriter.values.foreach { ws =>
      val sizes = ws.sortBy(_.getAs[Long]("batch_id")).map(_.getAs[Long]("n_rows"))
      assert(sizes.init.forall(_ == Ingest.JdbcBatch))
      assert(sizes.last <= Ingest.JdbcBatch)
    }
  }

  test("stream_ingest: real streaming run equals the batch twin") {
    val streamed = SparkEntry.queries("stream_ingest")(spark, sf)
    val batch = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(streamed.count() == batch.count())
    assert(streamed.agg(sum("n")).collect()(0).getLong(0) ==
      Tables.events(spark, sf).count())
  }

  test("stream_topk: streaming windowed state + rank equals the relational recount") {
    val got = SparkEntry.queries("stream_topk")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getAs[Long]("n"), r.getAs[Int]("rk"))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("hour")).orderBy(col("n").desc, col("event_type"))
    val expected = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= graft.streaming.StreamTopk.K).collect()
      .map(r => (r.getString(0), r.getString(1), r.getAs[Long]("n"), r.getAs[Int]("rk"))).toSet
    assert(got == expected && got.nonEmpty)
  }

  test("stream_topk: watermark ages out old hour windows — state stays flat across waves") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("topk_waves").toFile.getAbsolutePath
    val base = java.sql.Timestamp.valueOf("2025-01-01 00:00:00").getTime
    def writeWave(i: Int): Unit =
      (0 until 3).flatMap { h =>
        Seq("click", "view").map(t =>
          (i * 6L + h * 2 + t.length, // unique event ids
            new java.sql.Timestamp(base + ((i * 3 + h) * 3600L + 60) * 1000), t))
      }.toDF("event_id", "ts", "event_type")
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
    writeWave(0)
    val src = spark.readStream
      .schema(spark.read.parquet(s"$dir/in").schema).parquet(s"$dir/in")
    val q = graft.streaming.StreamTopk.counts(src)
      .writeStream.format("memory")
      .queryName("topk_state").outputMode("update").start()
    q.processAllAvailable()
    val sizes = (1 to 4).map { i =>
      writeWave(i); q.processAllAvailable()
      q.lastProgress.stateOperators(0).numRowsTotal
    }
    q.stop()
    // each wave adds 3 fresh hour windows × 2 types; without the
    // watermark state would grow by 6 rows per wave (18 by wave 4).
    // With it, expired windows are evicted: flat after the first
    // eviction kicks in (eviction lags one trigger, hence >= and the
    // comparison from wave 2 on)
    assert(sizes.last <= sizes(1),
      s"state grew across waves: $sizes — windows are not aging out")
    assert(sizes.last <= 12, s"state ${sizes.last} exceeds the 2-wave horizon")
  }

  test("stream_kmv: sketch-in-state cardinality equals the relational KMV per hour") {
    val got = SparkEntry.queries("stream_kmv")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getAs[Int]("sketch_n"), r.getAs[Double]("est_users")))
      .toMap
    // relational recount: K smallest distinct hashes per hour
    val K = graft.operators.Sketches.K
    val hashes = Tables.events(spark, sf)
      .select(date_format(window(col("ts"), "1 hour")("start"),
        "yyyy-MM-dd HH:mm:ss").as("hour"),
        pmod(col("user_id") * graft.operators.Sketches.Mult,
          lit(graft.operators.Sketches.M)).as("h"))
      .distinct().collect()
      .groupBy(_.getString(0)).view
      .mapValues(_.map(_.getLong(1)).sorted.take(K)).toMap
    assert(got.keySet == hashes.keySet)
    hashes.foreach { case (hour, sk) =>
      val est =
        if (sk.length < K) sk.length.toDouble
        else graft.Portable.jround(
          (K - 1).toDouble * graft.operators.Sketches.M / sk.last, 4)
      assert(got(hour)._1 == sk.length, s"hour $hour sketch size")
      assert(math.abs(got(hour)._2 - est) < 1e-9, s"hour $hour estimate")
    }
  }

  test("stream_sessionize: stateful streaming sessions equal the batch query") {
    val streamed = SparkEntry.queries("stream_sessionize")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getString(3), r.getDouble(4))).toMap
    val batch = SparkEntry.queries("sessionize")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getString(3), r.getDouble(4))).toMap
    assert(streamed.size == batch.size)
    batch.foreach { case (k, v) => assert(streamed(k) == v, s"session $k") }
  }

  test("stream_sessionize: idle-user state ages out at the gap — state tracks active users") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sess_waves").toFile.getAbsolutePath
    val base = java.sql.Timestamp.valueOf("2025-01-01 00:00:00").getTime
    // wave i: 4 FRESH users, 2 events each, inside hour i — prior
    // waves' users go idle past the 30-min gap as event time advances
    def writeWave(i: Int): Unit =
      (0 until 4).flatMap { u =>
        (0 until 2).map { e =>
          (i * 4L + u, new java.sql.Timestamp(base + (i * 3600L + e * 60) * 1000),
            i * 100L + u * 10 + e, 1.0)
        }
      }.toDF("user_id", "ts", "event_id", "value")
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
    writeWave(0)
    val src = spark.readStream
      .schema(spark.read.parquet(s"$dir/in").schema).parquet(s"$dir/in")
    val q = graft.streaming.StreamSessionize.transform(src)
      .writeStream.format("memory")
      .queryName("sess_state").outputMode("update").start()
    q.processAllAvailable()
    val sizes = (1 to 4).map { i =>
      writeWave(i); q.processAllAvailable()
      q.lastProgress.stateOperators(0).numRowsTotal
    }
    q.stop()
    // 4 fresh users per wave: NoTimeout state would reach 20 rows by
    // wave 4; with EventTimeTimeout it holds at the active horizon
    // (eviction lags one trigger, hence the wave-2-on comparison)
    assert(sizes.last <= sizes(1),
      s"state grew across waves: $sizes — idle users are not aging out")
    assert(sizes.last <= 8, s"state ${sizes.last} exceeds the active-user horizon")
    // and every wave's sessions were still emitted correctly: one
    // session of 2 events per (wave, user)
    val emitted = spark.table("sess_state")
      .groupBy(col("user_id"), col("sess_id"))
      .agg(max(col("n_events")).as("n_events")).collect()
    assert(emitted.length == 20 && emitted.forall(_.getAs[Long]("n_events") == 2L))
  }

  test("stream_enrich: stream-static broadcast enrichment equals the batch join") {
    val got = SparkEntry.queries("stream_enrich")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("n_purchases"))).toMap
    val expected = Tables.events(spark, sf)
      .join(Tables.customer(spark, sf),
        col("user_id") === col("c_custkey"))
      .groupBy(date_format(window(col("ts"), "1 hour")("start"),
        "yyyy-MM-dd HH:mm:ss").as("hour"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("p"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n"), r.getAs[Long]("p"))).toMap
    assert(got == expected)
    // the enrichment is real: multiple segments appear, purchases counted
    assert(got.keys.map(_._2).toSet.size > 1)
    assert(got.values.map(_._2).sum > 0)
  }

  test("stream_session_window: native merging windows equal a local gap-sessionizer") {
    import graft.streaming.StreamSessionWindow.GapMinutes
    val got = SparkEntry.queries("stream_session_window")(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("s_start"),
        r.getAs[String]("s_end"), r.getAs[Long]("n_events"))).toSet
    // local reference: per-user sorted event times, break at gap ≥ 30 min
    // (session_window's end-exclusive merge rule), end = last + gap,
    // same margin cutoff as the operator
    // compare in MICROSECONDS: the operator and oracle both work at
    // epoch_us precision, and Timestamp.getTime truncates sub-ms — a
    // pair of events exactly at the gap boundary with sub-ms parts
    // could merge in Spark but break in an ms-granular fold
    def us(t: java.sql.Timestamp): Long =
      t.getTime * 1000 + (t.getNanos / 1000) % 1000
    val byUser = Tables.events(spark, sf).select("user_id", "ts").collect()
      .map(r => r.getLong(0) -> us(r.getTimestamp(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val maxUs = byUser.values.flatten.max
    val cutoff = maxUs - 3L * 3600 * 1000000
    val gapUs = GapMinutes.toLong * 60 * 1000000
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    def fmtUs(u: Long): String =
      fmt.format(new java.util.Date(Math.floorDiv(u, 1000L)))
    val expected = byUser.iterator.flatMap { case (u, ts) =>
      // fold into sessions: head of `cur` is the LAST event seen
      val sessions = ts.foldLeft(List.empty[List[Long]]) {
        case (cur :: rest, t) if t - cur.head < gapUs =>
          (t :: cur) :: rest
        case (acc, t) => List(t) :: acc
      }.map(_.reverse).reverse
      sessions.collect {
        case sess if sess.last + gapUs <= cutoff =>
          (u, fmtUs(sess.head), fmtUs(sess.last + gapUs), sess.length.toLong)
      }
    }.toSet
    assert(got == expected)
    assert(got.nonEmpty, "no sessions emitted — eviction margin swallowed everything")
    // merging actually happened: some session has more than one event
    assert(got.exists(_._4 > 1L), "every session is singleton — gap merge untested")
  }

  test("stream_cdc: streamed compaction equals the batch replay across the wave boundary") {
    def rows(name: String) = SparkEntry.queries(name)(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Boolean]("alive"),
        r.getAs[String]("last_ts"), r.getAs[String]("last_op"),
        r.getAs[Long]("n_creates"), r.getAs[Long]("n_updates"),
        r.getAs[Long]("n_deletes"), r.getAs[Long]("n_resurrections"))).toSet
    val streamed = rows("stream_cdc")
    val batch = rows("cdc_replay")
    assert(streamed == batch,
      s"stream=${streamed.size} batch=${batch.size}; diff=${(streamed -- batch).take(2)}")
    assert(streamed.nonEmpty)
    assert(streamed.exists(_._2) && streamed.exists(!_._2),
      "need both live and tombstoned keys for the gate to mean anything")
    // the wave split actually exercises cross-batch state: some key
    // has ops on BOTH sides of the mid-span cut
    val e = Tables.events(spark, sf).select("user_id", "ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime))
    val cut = e.map(_._2).min + 15L * 86400 * 1000
    val straddlers = e.groupBy(_._1).values
      .count(ts => ts.exists(_._2 < cut) && ts.exists(_._2 >= cut))
    assert(straddlers > 0, "no key spans the wave boundary — cross-batch state untested")
    // state-footprint accounting: the store holds EXACTLY one row per
    // live key across both waves (state is never evicted — it IS the
    // compacted table), so at 100 TB the RocksDB footprint is
    // key-cardinality × one fixed-width row, nothing time-dependent
    assert(graft.streaming.StreamCdc.lastStateRows == streamed.size.toLong,
      s"state rows ${graft.streaming.StreamCdc.lastStateRows} != live keys ${streamed.size}")
    // and each wave arrived as exactly ONE micro-batch — the per-key
    // ordering contract run() now pins and asserts
    assert(graft.streaming.StreamCdc.waveBatches == Seq(1L, 1L),
      s"waves split across batches: ${graft.streaming.StreamCdc.waveBatches}")
  }

  test("stream_funnel: streamed greedy chains equal batch window_funnel across a chain-spanning cut") {
    def rows(name: String) = SparkEntry.queries(name)(spark, sf).collect()
      .map(r => r.getAs[Int]("level") ->
        (r.getAs[Long]("n_users"), Option(r.getAs[Any]("avg_conv_secs")))).toMap
    val streamed = rows("stream_funnel")
    val batch = rows("window_funnel")
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    assert(streamed.contains(3), "no conversions — the latency column is untested")
    // the chain-aware cut actually splits a conversion: the latest
    // converting user's view lands in wave A, click/purchase in wave B
    val cut = graft.streaming.StreamFunnel.chainCut(spark, sf).getTime
    val winMs = graft.queries.Behavior.FunnelWindowHours.toLong * 3600000L
    val chains = Tables.events(spark, sf)
      .select("user_id", "ts", "event_type").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getString(2)))
      .groupBy(_._1).values.flatMap { es =>
        val t0 = es.filter(_._3 == "view").map(_._2).minOption
        val t1 = t0.flatMap(a => es.filter(e => e._3 == "click" &&
          e._2 > a && e._2 <= a + winMs).map(_._2).minOption)
        val t2 = t1.flatMap(b => es.filter(e => e._3 == "purchase" &&
          e._2 > b && e._2 <= t0.get + winMs).map(_._2).minOption)
        for (a <- t0; b <- t1; _ <- t2) yield (a, b)
      }
    assert(chains.exists { case (a, b) => a < cut && b >= cut },
      "no conversion chain spans the wave boundary — cross-batch funnel state untested")
  }

  test("stream_dedup: planted replays dropped exactly once, accounting matches a recount") {
    val got = SparkEntry.queries("stream_dedup")(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("n_arrivals"), r.getAs[Long]("n_unique"), r.getAs[Long]("n_dropped")))
      .toMap
    val base = Tables.events(spark, sf).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_id") % graft.streaming.StreamDedup.DupMod ===
          graft.streaming.StreamDedup.DupRes, 1L).otherwise(0L)).as("planted"))
      .collect().map(r => r.getString(0) -> (r.getAs[Long]("n"), r.getAs[Long]("planted"))).toMap
    assert(got.keySet == base.keySet && got.nonEmpty)
    base.foreach { case (t, (n, planted)) =>
      assert(got(t) == (n + planted, n, planted), s"type $t: ${got(t)} vs base ($n, $planted)")
    }
  }

  test("stream_dedup: id state ages out behind the watermark — flat across waves") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sdedup_waves").toFile.getAbsolutePath
    val base = java.sql.Timestamp.valueOf("2025-01-01 00:00:00").getTime
    // wave i: 20 fresh ids inside hour i (+ the op's own replays)
    def writeWave(i: Int): Unit =
      (0 until 20).map { e =>
        (i * 100L + e, new java.sql.Timestamp(base + (i * 3600L + e) * 1000), "click")
      }.toDF("event_id", "ts", "event_type")
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
    writeWave(0)
    val src = spark.readStream
      .schema(spark.read.parquet(s"$dir/in").schema).parquet(s"$dir/in")
    val q = graft.streaming.StreamDedup.dedup(graft.streaming.StreamDedup.arrivals(src))
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("sdedup_state").outputMode("update").start()
    q.processAllAvailable()
    val sizes = (1 to 4).map { i =>
      writeWave(i); q.processAllAvailable()
      // operator 0 is the dedup state (the agg keeps 1 row/type)
      q.lastProgress.stateOperators.map(_.numRowsTotal).max
    }
    q.stop()
    // 20 fresh ids/wave: unbounded dropDuplicates state would reach
    // 100 rows by wave 4; the watermarked form holds at the horizon
    assert(sizes.last <= sizes(1),
      s"dedup state grew across waves: $sizes — ids are not aging out")
    assert(sizes.last <= 48, s"state ${sizes.last} exceeds the 2-wave id horizon")
  }

  test("streaming state is RocksDB-backed (disk-spillable), not heap-only HDFS-backed") {
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
      .contains("RocksDBStateStoreProvider"))
    // prove a real stateful query ran on RocksDB, not just the conf:
    // its per-operator progress carries the provider's own metrics
    // (every stream_* spec in this suite runs under the same session)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("rocks_probe").toFile.getAbsolutePath
    Seq((1L, new java.sql.Timestamp(0L))).toDF("k", "ts")
      .write.parquet(s"$dir/in")
    val src = spark.readStream
      .schema(spark.read.parquet(s"$dir/in").schema).parquet(s"$dir/in")
    val q = src.groupBy(col("k")).count()
      .writeStream.format("memory").queryName("rocks_probe")
      .outputMode("update").start()
    q.processAllAvailable()
    val metrics = q.lastProgress.stateOperators(0).customMetrics.keySet()
    q.stop()
    assert(metrics.toString.contains("rocksdb"),
      s"state operator metrics carry no rocksdb counters: $metrics")
  }

  test("withStatePartitions: concurrent scopes serialize, conf restores exactly") {
    import graft.streaming.Staging
    val key = "spark.sql.shuffle.partitions"
    val outer = spark.conf.get(key)
    val inScope = new java.util.concurrent.atomic.AtomicInteger(0)
    val sawOverlap = new java.util.concurrent.atomic.AtomicBoolean(false)
    val sawWrongConf = new java.util.concurrent.atomic.AtomicBoolean(false)
    val threads = (1 to 4).map { _ =>
      new Thread(() =>
        Staging.withStatePartitions(spark) {
          if (inScope.incrementAndGet() > 1) sawOverlap.set(true)
          if (spark.conf.get(key) != Staging.StatePartitions.toString)
            sawWrongConf.set(true)
          Thread.sleep(25)
          inScope.decrementAndGet()
        })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(!sawOverlap.get, "two scopes ran concurrently — conf clobber possible")
    assert(!sawWrongConf.get, "scope body saw a conf other than StatePartitions")
    assert(spark.conf.get(key) == outer, "caller's conf not restored")
    // reentrancy: a nested scope must not deadlock or early-restore
    Staging.withStatePartitions(spark) {
      Staging.withStatePartitions(spark) {
        assert(spark.conf.get(key) == Staging.StatePartitions.toString)
      }
      assert(spark.conf.get(key) == Staging.StatePartitions.toString,
        "inner scope exit restored the conf before the outer scope ended")
    }
    assert(spark.conf.get(key) == outer)
  }

  test("write: per-partition transactions through a fake connection, batch chunking") {
    import spark.implicits._
    FakeDb.reset(failInserts = false)
    val df = (1L to 10L).map(i => (i, s"v$i")).toDF("uuid", "v").repartition(3)
    JdbcUpsertSink.writeOptimistic(df, "jdbc:fake", "t", "uuid",
      batchSize = 2, connect = FakeDb.connect)
    val log = FakeDb.entries
    // one transaction per non-empty partition
    val parts = df.mapPartitions(it => Iterator(it.size)).collect().count(_ > 0)
    assert(log.count(_ == "commit") == parts, s"commits vs partitions: $log")
    assert(!log.contains("rollback"))
    // every statement is the plain INSERT (no conflict, no replay);
    // chunk count matches the batching math summed over partitions
    val execs = log.filter(_.startsWith("exec:"))
    assert(execs.nonEmpty && execs.forall(_ == "exec:INSERT INTO t (uuid, v) VALUES (?, ?)"))
    val expectedChunks = df.mapPartitions(it => Iterator(it.size)).collect()
      .filter(_ > 0).map(n => batchSizes(n, 2).size).sum
    assert(execs.size == expectedChunks, s"chunks: got ${execs.size}, want $expectedChunks")
  }

  test("stream_decisions: the sink path is JdbcUpsertSink.write, per-partition, collect-free") {
    import graft.streaming.StreamDecisions
    val out = SparkEntry.queries("stream_decisions")(spark, sf)
    assert(out.count() > 0)
    // the store was populated through per-partition sink transactions
    // (foreachPartition on executor threads), not a driver collect
    assert(StreamDecisions.Store.commits.get() >= 1,
      "no sink transaction committed — the JDBC write path did not run")
    assert(StreamDecisions.Store.rows.nonEmpty)
  }

  test("writeOptimistic: duplicate-key insert rolls back and replays as upsert") {
    import spark.implicits._
    FakeDb.reset(failInserts = true)
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("uuid", "v").coalesce(1)
    JdbcUpsertSink.writeOptimistic(df, "jdbc:fake", "t", "uuid",
      batchSize = 2, connect = FakeDb.connect)
    val log = FakeDb.entries
    val insertAt = log.indexWhere(_.startsWith("fail:INSERT"))
    val rollbackAt = log.indexOf("rollback")
    val upsertAt = log.indexWhere(_.startsWith("exec:INSERT INTO t (uuid, v) VALUES (?, ?) ON CONFLICT"))
    val commitAt = log.lastIndexOf("commit")
    assert(insertAt >= 0 && rollbackAt > insertAt && upsertAt > rollbackAt && commitAt > upsertAt,
      s"bad control flow: $log")
    // all 3 rows replayed through the upsert in 2 batches of (2, 1)
    assert(log.count(_.startsWith("exec:INSERT INTO t (uuid, v) VALUES (?, ?) ON CONFLICT")) == 2)
  }

  test("writeOptimistic: the duplicate-key replay carries the guard, the INSERT does not") {
    import spark.implicits._
    FakeDb.reset(failInserts = true)
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("uuid", "v").coalesce(1)
    JdbcUpsertSink.writeOptimistic(df, "jdbc:fake", "t", "uuid",
      batchSize = 2, connect = FakeDb.connect, guard = "EXCLUDED.v > t.v")
    val log = FakeDb.entries
    assert(log.exists(_ == "fail:INSERT INTO t (uuid, v) VALUES (?, ?)"), s"no plain INSERT: $log")
    val replays = log.filter(_.contains("ON CONFLICT"))
    assert(replays == Seq.fill(2)("exec:INSERT INTO t AS t (uuid, v) VALUES (?, ?) " +
      "ON CONFLICT (uuid) DO UPDATE SET v = EXCLUDED.v WHERE EXCLUDED.v > t.v"), s"replays: $log")
  }

  test("writeOptimistic: clean insert commits without any upsert replay") {
    import spark.implicits._
    FakeDb.reset(failInserts = false)
    val df = Seq((1L, "a"), (2L, "b")).toDF("uuid", "v").coalesce(1)
    JdbcUpsertSink.writeOptimistic(df, "jdbc:fake", "t", "uuid",
      batchSize = 10, connect = FakeDb.connect)
    val log = FakeDb.entries
    assert(log.exists(e => e.startsWith("exec:INSERT") && !e.contains("ON CONFLICT")))
    assert(!log.exists(_.contains("ON CONFLICT")))
    assert(!log.contains("rollback") && log.contains("commit"))
  }

  test("write/writeOptimistic: a failing rollback never masks the batch failure") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("uuid", "v").coalesce(1)
    val writers = Seq[(String, () => Unit)](
      "guarded" -> (() => JdbcUpsertSink.writeOptimistic(df, "jdbc:fake", "t", "uuid",
        connect = RollbackFailDb.connect, guard = "EXCLUDED.v > t.v")),
      "unguarded" -> (() => JdbcUpsertSink.writeOptimistic(df, "jdbc:fake", "t",
        "uuid", connect = RollbackFailDb.connect)))
    for ((name, run) <- writers) {
      val e = intercept[Exception](run())
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.toString).mkString(" <- ")
      assert(chain.contains("boom"), s"$name surfaced the rollback failure instead: $chain")
    }
  }

  private object Ingest {
    val JdbcBatch = graft.ingest.Ingest.JdbcBatch
    val JdbcShards = graft.ingest.Ingest.JdbcShards
  }

  test("stream_fanout: sinks partition the stream exactly (counts + checksums)") {
    import org.apache.spark.sql.functions._
    val got = graft.streaming.StreamFanout.run(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_rows"),
        r.getAs[Long]("n_users"), r.getAs[Long]("sum_ids"))).toMap
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    def sink(t: String) =
      if (t == "purchase" || t == "view") "commerce"
      else if (t == "error") "ops" else "engagement"
    val expected = ev.groupBy(e => sink(e._3)).view.mapValues { es =>
      (es.length.toLong, es.map(_._2).distinct.length.toLong, es.map(_._1).sum)
    }.toMap
    assert(got == expected)
    // exhaustive + disjoint: the sinks partition the source exactly
    assert(got.values.map(_._1).sum == ev.length.toLong)
    assert(got.values.map(_._3).sum == ev.map(_._1).sum)
  }

  test("stream_quantile: per-hour histogram quantiles replay the batch arithmetic exactly") {
    import org.apache.spark.sql.functions._
    import graft.operators.Sketches.QmWidth
    val ev = Tables.events(spark, sf)
      .select(date_format(col("ts"), "yyyy-MM-dd HH:00:00").as("hour"),
        expr(s"CAST(floor(value * 100 + 0.5) AS BIGINT)").as("vq"))
      .collect().map(r => (r.getString(0), r.getLong(1) / QmWidth))
    val expected = ev.groupBy(_._1).map { case (h, rows) =>
      val hist = rows.groupBy(_._2).view.mapValues(_.length.toLong).toMap
      val n = rows.length.toLong
      def quant(p: Long): Long = {
        val rank = (p * n + 99) / 100
        var cum = 0L
        hist.toSeq.sortBy(_._1).collectFirst {
          case (b, c) if { cum += c; cum >= rank } => b * QmWidth
        }.get
      }
      h -> (n, quant(50), quant(90))
    }
    val got = graft.streaming.Staging.withStatePartitions(spark)(
      graft.streaming.StreamQuantile.run(spark, sf)).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n"),
        r.getAs[Long]("p50_q"), r.getAs[Long]("p90_q"))).toMap
    assert(got == expected)
    assert(got.values.forall { case (_, p50, p90) => p50 <= p90 })
  }

  test("stream_drift: per-hour L1 drift vs the corpus profile replays exactly") {
    import org.apache.spark.sql.functions._
    import graft.operators.Sketches.QmWidth
    val ev = Tables.events(spark, sf)
      .select(date_format(col("ts"), "yyyy-MM-dd HH:00:00").as("hour"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("vq"))
      .collect().map(r => (r.getString(0), r.getLong(1) / QmWidth))
    val ref = ev.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val nRef = ev.length.toLong
    val expected = ev.groupBy(_._1).map { case (h, rows) =>
      val hist = rows.groupBy(_._2).view.mapValues(_.length.toLong).toMap
      val n = rows.length.toLong
      val l1 = (ref.keySet ++ hist.keySet).toSeq.map { b =>
        math.abs(hist.getOrElse(b, 0L) * 1000000L / n -
          ref.getOrElse(b, 0L) * 1000000L / nRef)
      }.sum
      h -> (n, l1, l1 > graft.streaming.StreamDrift.DriftThresholdPm)
    }
    val got = graft.streaming.Staging.withStatePartitions(spark)(
      graft.streaming.StreamDrift.run(spark, sf)).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n"),
        r.getAs[Long]("l1_pm"), r.getAs[Boolean]("drifted"))).toMap
    assert(got == expected)
    // L1 of two distributions lives in [0, 2·10⁶]
    got.values.foreach { case (_, l1, _) => assert(l1 >= 0 && l1 <= 2000000L) }
  }
}

/** Reflection-proxy stand-in for a JDBC connection (no DB in the
  * container): records prepare/execute/commit/rollback order and can
  * throw SQLSTATE 23505 on plain inserts to drive the retry path.
  * Static so the executor-side closure (local mode: same JVM) and
  * the assertions see the same log. */
object FakeDb {
  import java.lang.reflect.{InvocationHandler, Method, Proxy}
  private val log = new java.util.concurrent.CopyOnWriteArrayList[String]()
  @volatile var failInserts = false

  def reset(failInserts: Boolean): Unit = { log.clear(); this.failInserts = failInserts }

  def entries: List[String] = {
    import scala.jdk.CollectionConverters._
    log.asScala.toList
  }

  val connect: String => java.sql.Connection = { _ =>
    def ps(sql: String): java.sql.PreparedStatement = {
      var inBatch = 0
      Proxy.newProxyInstance(getClass.getClassLoader,
        Array(classOf[java.sql.PreparedStatement]),
        new InvocationHandler {
          def invoke(proxy: Any, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
            case "addBatch" => inBatch += 1; null
            case "executeBatch" =>
              if (failInserts && sql.startsWith("INSERT") && !sql.contains("ON CONFLICT")) {
                log.add(s"fail:$sql")
                throw new java.sql.SQLException("duplicate key value", "23505")
              }
              log.add(s"exec:$sql"); val n = inBatch; inBatch = 0
              Array.fill(n)(1)
            case "setObject" | "close" => null
            case "toString" => s"ps[$sql]"
            case _ => null
          }
        }).asInstanceOf[java.sql.PreparedStatement]
    }
    def st(): java.sql.Statement =
      Proxy.newProxyInstance(getClass.getClassLoader,
        Array(classOf[java.sql.Statement]),
        new InvocationHandler {
          def invoke(proxy: Any, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
            case "execute" => log.add(s"exec:${args(0)}"); java.lang.Boolean.FALSE
            case "toString" => "fakest"
            case _ => null
          }
        }).asInstanceOf[java.sql.Statement]
    Proxy.newProxyInstance(getClass.getClassLoader,
      Array(classOf[java.sql.Connection]),
      new InvocationHandler {
        def invoke(proxy: Any, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
          case "prepareStatement" => ps(args(0).asInstanceOf[String])
          case "createStatement" => st()
          case "commit" => log.add("commit"); null
          case "rollback" => log.add("rollback"); null
          case "setAutoCommit" | "close" => null
          case "toString" => "fakeconn"
          case _ => null
        }
      }).asInstanceOf[java.sql.Connection]
  }
}

/** A connection whose every executeBatch fails with "boom" and whose
  * rollback fails as if the connection had already closed — the shape
  * of an engine error that tears down its own session. */
object RollbackFailDb {
  import java.lang.reflect.{InvocationHandler, Method, Proxy}

  val connect: String => java.sql.Connection = { _ =>
    def ps(): java.sql.PreparedStatement =
      Proxy.newProxyInstance(getClass.getClassLoader,
        Array(classOf[java.sql.PreparedStatement]),
        new InvocationHandler {
          def invoke(proxy: Any, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
            case "executeBatch" => throw new java.sql.SQLException("boom")
            case _ => null
          }
        }).asInstanceOf[java.sql.PreparedStatement]
    Proxy.newProxyInstance(getClass.getClassLoader,
      Array(classOf[java.sql.Connection]),
      new InvocationHandler {
        def invoke(proxy: Any, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
          case "prepareStatement" => ps()
          case "rollback" => throw new java.sql.SQLException("No current connection.")
          case _ => null
        }
      }).asInstanceOf[java.sql.Connection]
  }
}
