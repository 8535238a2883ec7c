package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.ingest.{Decisions, Upsert}

class DecisionsSpec extends SparkSpec {

  private lazy val rt = SparkEntry.queries("decision_roundtrip")(spark, sf)
  private lazy val q = SparkEntry.queries("decision_quality")(spark, sf).collect()(0)

  test("round-trip emits the full 40-column Decision surface") {
    assert(rt.columns.length == 40)
    assert(rt.columns.toSeq == Decisions.OutCols)
    // one row per surviving uuid, no blanks
    val n = rt.count()
    assert(n > 0)
    assert(rt.select("uuid").distinct().count() == n)
    assert(rt.filter(col("uuid") === "").count() == 0)
  }

  test("fixture: N archives, archive-level scan parallelism, every archive contributes") {
    import graft.ingest.{DecisionFixture, ZipCsv}
    val dir = DecisionFixture.ensure(spark, sf)
    val zips = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".zip"))
    assert(zips.length == DecisionFixture.NumArchives,
      s"expected ${DecisionFixture.NumArchives} archives, found ${zips.length}")
    val df = ZipCsv.read(spark, dir, Decisions.FieldNames)
    // the parse stage inherits the binaryFile split count — with one
    // archive per task the stage parallelizes like production's
    // thousands of dailies (2 archives capped it at 2 tasks)
    assert(df.rdd.getNumPartitions > 2,
      s"scan partitions: ${df.rdd.getNumPartitions}")
    // every archive (incl. the nested reversed-header ones) yields rows
    val srcs = df.select("_src").distinct().collect().map(_.getString(0))
    assert(srcs.length >= DecisionFixture.NumArchives, srcs.mkString("\n"))
    assert(srcs.exists(_.contains("!inner.zip!")), "no nested archive contributed")
  }

  test("LWW upsert keeps the latest created_at per uuid") {
    val parsed = Decisions.parse(
      graft.ingest.ZipCsv.read(spark,
        graft.ingest.DecisionFixture.ensure(spark, sf), Decisions.FieldNames)
        .drop("_src"))
      .filter(col("uuid") =!= "")
    val latest = parsed.groupBy("uuid").agg(max("created_at").as("m"))
    val joined = rt.join(latest, "uuid")
      .filter(col("created_at") =!= col("m")).count()
    assert(joined == 0, "kept a non-latest version for some uuid")
    // dups were actually planted and collapsed
    assert(parsed.count() > rt.count() ||
      parsed.select("uuid").distinct().count() == parsed.count())
  }

  test("quality metrics: counts line up with synthesis rates") {
    val events = Tables.events(spark, sf)
    val total = events.count()
    assert(q.getAs[Long]("n_rows") == total)
    assert(q.getAs[Long]("n_missing_uuid") ==
      events.filter(col("event_id") % 97 === 0).count())
    // end_date_visibility_restriction is field index 3
    assert(q.getAs[Long]("n_bad_ts") ==
      events.filter((col("event_id") + 3) % 11 === 0).count())
    assert(q.getAs[Long]("n_bad_uid") ==
      events.filter(col("event_id") % 13 === 0).count())
    assert(q.getAs[Long]("n_keys") == rt.count())
  }

  test("stream_decisions: the streaming upsert pipeline equals the batch round-trip") {
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[String]("uuid") -> r.toSeq.map(String.valueOf)).toMap
    val streamed = keyed(SparkEntry.queries("stream_decisions")(spark, sf))
    val batch = keyed(rt)
    assert(streamed.size == batch.size && streamed.keySet == batch.keySet)
    batch.foreach { case (k, v) => assert(streamed(k) == v, s"uuid $k") }
  }

  test("rowHashJvm is the exact JVM twin of the Spark-side rowHash column") {
    val parsed = Decisions.parse(
      graft.ingest.ZipCsv.read(spark,
        graft.ingest.DecisionFixture.ensure(spark, sf), Decisions.FieldNames)
        .drop("_src"))
      .filter(col("uuid") =!= "")
    val sample = parsed.withColumn("__h", Decisions.rowHash).limit(100).collect()
    sample.foreach { r =>
      assert(Decisions.rowHashJvm(r) == r.getAs[String]("__h"))
    }
  }

  test("cross-batch merge keeps the LWW winner regardless of arrival order") {
    import graft.streaming.StreamDecisions
    import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
    val newer = rt.limit(1).collect()(0).asInstanceOf[GenericRowWithSchema]
    val caIdx = newer.schema.fieldIndex("created_at")
    val older = new GenericRowWithSchema(
      newer.toSeq.toArray.updated(caIdx, "1999-01-01 00:00:00": Any), newer.schema)
    // newer first, older in a later batch: the put must NOT overwrite
    StreamDecisions.Store.rows.clear()
    StreamDecisions.mergeRow(newer)
    StreamDecisions.mergeRow(older)
    assert(StreamDecisions.Store.rows(newer.getAs[String]("uuid")) eq newer)
    // older first, newer later: the put must overwrite
    StreamDecisions.Store.rows.clear()
    StreamDecisions.mergeRow(older)
    StreamDecisions.mergeRow(newer)
    assert(StreamDecisions.Store.rows(newer.getAs[String]("uuid")) eq newer)
    StreamDecisions.Store.rows.clear()
  }

  test("lwwOrder and beats pick the same winner on every key: created_at, platform_uid, row hash") {
    import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
    val base = rt.limit(1).collect()(0).asInstanceOf[GenericRowWithSchema]
    def row(vals: (String, Any)*): Row = new GenericRowWithSchema(vals.foldLeft(base.toSeq.toArray) {
      case (vs, (c, v)) => vs.updated(base.schema.fieldIndex(c), v) }, base.schema)
    // one uuid per pair; a pair ties on every LWW key before the one
    // its change decides (content_language leaves only the row hash)
    val pairs = Seq("created_at" -> "1999-01-01 00:00:00", "platform_uid" -> "0-0-user",
      "content_language" -> "zz_hash_only").map { case (c, v) => (row("uuid" -> c), row("uuid" -> c, c -> v)) }
    pairs.foreach { case (a, b) => assert(Decisions.beats(a, b) != Decisions.beats(b, a)) }
    val expected = pairs.map { case (a, b) =>
      a.getAs[String]("uuid") -> (if (Decisions.beats(a, b)) a else b).toSeq }.toMap
    val got = Upsert.lastWriteWins(
      spark.createDataFrame(spark.sparkContext.parallelize(pairs.flatMap(p => Seq(p._1, p._2)), 2),
        base.schema),
      Seq("uuid"), Decisions.lwwOrder).collect()
      .map(r => r.getAs[String]("uuid") -> r.toSeq).toMap
    assert(got == expected)
  }

  test("scd2_history: contiguous versions, one current row agreeing with LWW") {
    val h = SparkEntry.queries("scd2_history")(spark, sf).collect()
    val byUuid = h.groupBy(_.getAs[String]("uuid"))
    byUuid.foreach { case (u, rs) =>
      val vs = rs.map(_.getAs[Int]("version")).sorted
      assert(vs.sameElements(1 to rs.length), s"$u: versions not contiguous")
      assert(rs.count(_.getAs[Boolean]("is_current")) == 1, s"$u: current rows != 1")
      // intervals chain: version i's valid_to = version i+1's valid_from
      val sorted = rs.sortBy(_.getAs[Int]("version"))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[String]("valid_to") == b.getAs[String]("valid_from"), s"$u: gap")
        case _ =>
      }
      assert(sorted.last.getAs[String]("valid_to") == null)
    }
    // the current row per uuid is the LWW winner the upsert keeps
    val current = h.filter(_.getAs[Boolean]("is_current"))
      .map(r => r.getAs[String]("uuid") -> r.getAs[String]("valid_from")).toMap
    val winners = rt.collect()
      .map(r => r.getAs[String]("uuid") -> r.getAs[String]("created_at")).toMap
    assert(current == winners)
  }

  test("parse branches: array/ts/bool/uid kernels fire on every path") {
    val r = rt.orderBy("uuid").limit(200).collect()
    val vis = r.map(_.getAs[String]("decision_visibility"))
    assert(vis.exists(v => v != null && v.contains("|")))   // JSON array path
    assert(vis.contains(null))                               // empty path
    assert(vis.exists(v => v != null && v == "[bad"))        // fallback path
    val det = r.map(_.getAs[java.lang.Boolean]("automated_detection"))
    assert(det.contains(true) && det.contains(false) && det.contains(null))
    val ms = r.map(_.getAs[java.lang.Long]("snowflake_ms"))
    assert(ms.exists(_ != null) && ms.contains(null))
    // snowflake decode round-trips the event epoch
    val ok = rt.filter(col("entity_type") === "user").limit(5).collect()
    ok.foreach { row =>
      val uid = row.getAs[String]("platform_uid").split("-")(0).toLong
      assert(row.getAs[Long]("snowflake_ms") ==
        (uid >> 22) + graft.functions.Snowflake.DiscordEpochMs)
    }
  }
}
