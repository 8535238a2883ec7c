package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** H16: watermark late-data semantics, END-TO-END deterministic.
  *
  * The one streaming behavior the other stream ops can't show (their
  * input fits one micro-batch, so the watermark never advances
  * mid-stream): a second wave of data arrives AFTER the watermark
  * moved, and rows older than the watermark are dropped while
  * on-time rows pass. Batch boundaries are forced by staging files
  * into the watched directory between `processAllAvailable()` calls,
  * so the watermark trajectory — and therefore the exact drop set —
  * is a pure function of the data:
  *
  *   wave A = events with event_id % 4 != 0 (one batch) →
  *     watermark = max(ts_A) - 1 hour
  *   wave B = events with event_id % 4 == 0 (next batch), of which
  *     - rows with ts < watermark are dropped (late),
  *     - rows whose dedup key collides with wave A (event_id % 8 == 0
  *       maps to key event_id + 1, a wave-A key) are dropped as
  *       duplicates even when on time,
  *     - the rest survive.
  *
  * The oracle recomputes that set relationally. Scale shape: the
  * stateful dedup keys are (key) only — state is keys + timestamps,
  * evicted by the watermark, never payloads.
  */
object StreamLateData {

  def run(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(
      col("event_id"), col("user_id"), col("ts"),
      when(col("event_id") % 8 === 0, col("event_id") + 1)
        .otherwise(col("event_id")).as("k"))
    val a = e.filter(col("event_id") % 4 =!= 0)
    val b = e.filter(col("event_id") % 4 === 0)

    val watch = Files.createTempDirectory(
      Paths.get("target"), "stream_late_watch")
    // unique per run: concurrent suites each get their own memory
    // sink and watch dir, so runs never share streaming state
    val mem = "stream_late_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val q = s.readStream
      .schema(a.schema)
      .parquet(watch.toString)
      .withWatermark("ts", "1 hour")
      .dropDuplicates("k")
      .writeStream.format("memory").queryName(mem).outputMode("append")
      .start()
    try {
      Staging.stage(a, watch.toString, "wave_a")
      q.processAllAvailable() // watermark advances to max(ts_A) - 1h
      Staging.stage(b, watch.toString, "wave_b")
      q.processAllAvailable() // late B rows dropped, dup B keys dropped
    } finally q.stop()
    val out = s.table(mem)
      .select(col("k"), col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"))
      // materialize off the transient memory table before cleanup
      .localCheckpoint()
    s.catalog.dropTempView(mem)
    Staging.clearDir(watch)
    out
  }

  /** Empirical Spark boundary: a row is dropped when its event time
    * is STRICTLY below the watermark (ts >= wm survives). */
  val sql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CASE WHEN event_id % 8 = 0 THEN event_id + 1 ELSE event_id END AS k
      |  FROM events),
      |wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM e WHERE event_id % 4 <> 0)
      |SELECT k, event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts
      |FROM e WHERE event_id % 4 <> 0
      |UNION ALL
      |SELECT e.k, e.event_id, e.user_id, strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts
      |FROM e, wm
      |WHERE e.event_id % 4 = 0 AND e.event_id % 8 <> 0 AND e.ts >= wm.w""".stripMargin
}
