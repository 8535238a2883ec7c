package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** K62: stream-stream LEFT OUTER event-time join — I5's sibling with
  * the semantics only a watermark can provide: a `view` with NO
  * `purchase` in its following hour must still be emitted (with null
  * purchase columns), and the ONLY correct moment to emit it is when
  * the watermark proves no matching purchase can arrive anymore —
  * i.e. at state eviction. This is the streaming construct batch
  * left-joins take for granted and append-mode streams cannot fake:
  * without the event-time range + watermark pair, Spark rejects the
  * outer join outright (state would be unbounded and nulls undecidable).
  *
  * Determinism at the eviction BOUNDARY is the subtle part: whether a
  * view whose deadline sits exactly at the final watermark has been
  * flushed is engine-internal. The emitted null set is therefore
  * normalized to the views at least a full watermark-delay BELOW the
  * final GLOBAL watermark: under Spark's default 'min' multiple-
  * watermark policy eviction is driven by least(max(vts), max(pts)),
  * so the margin (deadline vts+1h ≤ wm−3h) is computed from that
  * least on BOTH sides of the gate — strictly inside any correct
  * implementation's evicted region even if one stream's event time
  * runs hours past the other's (matched rows are boundary-free and
  * pass through unfiltered). The oracle replays exactly that: a
  * relational left join plus the same margin cutoff from the same
  * least(), so the gate checks the null semantics, not scheduler
  * accidents.
  */
object StreamJoinOuter {

  def run(s: SparkSession, dir: String): DataFrame = Staging.run(s) { r =>
    val e = Tables.events(s, dir)
    val views = e.filter(col("event_type") === "view")
      .select(col("event_id").as("vid"), col("user_id"), col("ts").as("vts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id").as("p_user"), col("ts").as("pts"))

    val vStream = r.watch("views", views.schema).withWatermark("vts", "1 hour")
    val pStream = r.watch("purchases", purchases.schema).withWatermark("pts", "1 hour")
    val joined = vStream.join(pStream,
      col("user_id") === col("p_user") &&
        col("pts") >= col("vts") &&
        col("pts") <= col("vts") + expr("INTERVAL 1 HOUR"),
      "leftOuter")
    r.drive(Staging.Wave("views" -> views, "purchases" -> purchases))(
      r.toMemory(joined, "append"))
    // deadline(v) = vts + 1h; keep nulls only with deadline ≤ wm − 3h
    // where wm = least(max(vts), max(pts)) — under Spark's default
    // 'min' multiple-watermark policy the evicted region is bounded by
    // the SLOWER stream's max, so the margin must be computed from the
    // global watermark, not max(pts) alone (safe even if one side's
    // event time ran hours past the other's)
    val cutoff = views.agg(max(col("vts")).as("max_vts"))
      .crossJoin(purchases.agg(max(col("pts")).as("max_pts")))
      .select(least(col("max_vts"), col("max_pts")).as("wm"))
    r.table()
      .crossJoin(broadcast(cutoff))
      .filter(col("pid").isNotNull ||
        col("vts") + expr("INTERVAL 1 HOUR") <= col("wm") - expr("INTERVAL 3 HOURS"))
      .select(col("vid"), col("user_id"),
        date_format(col("vts"), "yyyy-MM-dd HH:mm:ss").as("vts"),
        col("pid"),
        date_format(col("pts"), "yyyy-MM-dd HH:mm:ss").as("pts"),
        col("pid").isNull.cast("int").as("unmatched"))
      .localCheckpoint()
  }

  val sql: String =
    """WITH v AS (
      |  SELECT event_id AS vid, user_id, CAST(ts AS TIMESTAMP) AS vts
      |  FROM events WHERE event_type = 'view'),
      |p AS (
      |  SELECT event_id AS pid, user_id AS p_user, CAST(ts AS TIMESTAMP) AS pts
      |  FROM events WHERE event_type = 'purchase'),
      |mp AS (SELECT least((SELECT max(vts) FROM v),
      |                    (SELECT max(pts) FROM p)) AS wm)
      |SELECT vid, v.user_id,
      |  strftime(vts, '%Y-%m-%d %H:%M:%S') AS vts,
      |  pid,
      |  strftime(pts, '%Y-%m-%d %H:%M:%S') AS pts,
      |  CASE WHEN pid IS NULL THEN 1 ELSE 0 END AS unmatched
      |FROM v LEFT JOIN p
      |  ON v.user_id = p_user
      | AND pts >= vts AND pts <= vts + INTERVAL 1 HOUR, mp
      |WHERE pid IS NOT NULL
      |   OR vts + INTERVAL 1 HOUR <= wm - INTERVAL 3 HOUR""".stripMargin
}
