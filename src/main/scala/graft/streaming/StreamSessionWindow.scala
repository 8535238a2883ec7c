package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** K65: native SESSION WINDOWS — `session_window(ts, gap)` with
  * watermark eviction in append mode, the built-in complement to G6's
  * custom `flatMapGroupsWithState` sessionizer. Session windows are
  * the one window type whose STATE MERGES: a new event can fuse two
  * open windows, so the state store must support window union and a
  * session emits only when the watermark proves no event can extend
  * it again (watermark ≥ last event + gap). That merge-then-evict
  * machinery is exactly what a custom stateful op has to hand-roll —
  * exercising Spark's native path pins the semantics the G6
  * implementation must reproduce.
  *
  * Same eviction-boundary normalization as stream_join_outer: whether
  * a session whose deadline sits exactly at the final watermark has
  * flushed is engine-internal, so emitted sessions are kept only with
  * end ≤ max(ts) − 3h (delay 1h + gap 30m + a full hour of margin —
  * strictly inside any correct implementation's evicted region). The
  * oracle rebuilds gap-sessions relationally (islands with a ≥ gap
  * break — session_window's end-exclusive merge rule) under the same
  * cutoff from the same max(ts).
  */
object StreamSessionWindow {

  val GapMinutes = 30

  def run(s: SparkSession, dir: String): DataFrame = Staging.run(s) { r =>
    val events = Tables.events(s, dir).select(col("user_id"), col("ts"))
    r.drive(Staging.Wave("events" -> events))(r.toMemory(
      r.watch("events", events.schema)
        .withWatermark("ts", "1 hour")
        .groupBy(col("user_id"), session_window(col("ts"), s"$GapMinutes minutes"))
        .agg(count(lit(1)).as("n_events")),
      "append"))
    val cutoff = events.agg(max(col("ts")).as("max_ts"))
    r.table()
      .crossJoin(broadcast(cutoff))
      .filter(col("session_window.end") <= col("max_ts") - expr("INTERVAL 3 HOURS"))
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("s_start"),
        date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss").as("s_end"),
        col("n_events"))
      .localCheckpoint()
  }

  val sql: String =
    s"""WITH e AS (
       |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
       |b AS (
       |  SELECT user_id, ts,
       |    CASE WHEN lag(ts) OVER win IS NULL
       |           OR epoch_us(ts) - epoch_us(lag(ts) OVER win) >= ${GapMinutes.toLong * 60 * 1000000}
       |         THEN 1 ELSE 0 END AS brk
       |  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ts)),
       |g AS (
       |  SELECT user_id, ts,
       |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
       |                   ROWS UNBOUNDED PRECEDING) AS grp
       |  FROM b),
       |sess AS (
       |  SELECT user_id,
       |    min(ts) AS s_start,
       |    max(ts) + INTERVAL $GapMinutes MINUTE AS s_end,
       |    count(*) AS n_events
       |  FROM g GROUP BY user_id, grp)
       |SELECT user_id,
       |  strftime(s_start, '%Y-%m-%d %H:%M:%S') AS s_start,
       |  strftime(s_end, '%Y-%m-%d %H:%M:%S') AS s_end,
       |  n_events
       |FROM sess, (SELECT max(CAST(ts AS TIMESTAMP)) AS max_ts FROM events) m
       |WHERE s_end <= max_ts - INTERVAL 3 HOUR""".stripMargin
}
