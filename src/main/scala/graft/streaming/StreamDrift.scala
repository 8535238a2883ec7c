package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Sketches.QmWidth
import graft.Tables

/** K105: STREAMING DISTRIBUTION-DRIFT MONITOR — J3's dist_drift read
  * maintained continuously: per hour window the stream keeps the same
  * fixed-grid integer value histogram as [[StreamQuantile]] (state ≤
  * ~50 counters per window, bounded by value-range/width, never by
  * rows), and the consumer scores each window against a STATIC
  * reference profile (the whole corpus's bucket distribution — the
  * "yesterday's shape" a monitor is armed with) as an L1 distance in
  * exact per-million integers:
  *
  *   l1_pm = Σ_buckets |obs_c·10⁶ div n − ref_c·10⁶ div n_ref|
  *
  * so the drift score — and the `drifted` alert bit at
  * [[DriftThresholdPm]] — ride the cross-engine hash gate. This is
  * the production alert for "this hour's value distribution stopped
  * looking like the corpus": exact per-window distributions are
  * unbounded state, but the grid histogram merges across batches by
  * addition (K92's mergeability, live) and the reference is a
  * ≤-grid-size broadcast.
  *
  * Scale shape: the stream side is one (window, bucket) stateful
  * aggregate (Update mode, 1 h watermark ages windows out — the
  * stream_kmv discipline); the scoring side joins the report-sized
  * (hour, bucket) histogram against an hours × buckets dense grid
  * built from two bounded frames (the gap_fill convention — absent
  * buckets must contribute their full reference mass, so the grid,
  * not an inner join, is correct). Nothing row-scale ever re-shuffles.
  */
object StreamDrift {

  /** Alert threshold: L1 ∈ [0, 2·10⁶]; a quarter of the mass moved. */
  val DriftThresholdPm = 500000L

  def run(s: SparkSession, dir: String): DataFrame = Staging.run(s) { r =>
    r.drive()(r.toMemory(StreamIngest.readEvents(s, dir)
      .withWatermark("ts", "1 hour")
      .select(window(col("ts"), "1 hour").as("w"),
        expr(s"CAST(floor(value * 100 + 0.5) AS BIGINT) div $QmWidth")
          .as("bucket"))
      .groupBy(col("w"), col("bucket"))
      .agg(count(lit(1)).as("c"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("bucket"), col("c")),
      "update"))
    // latest update per (hour, bucket): counts are monotone in-window.
    // Materialized (report-sized: hours × ≤~50 buckets) — it feeds
    // both the grid axes and the scoring join, and a shared lineage
    // there is a self-join reference conflict.
    val hist = r.table()
      .groupBy(col("hour"), col("bucket")).agg(max(col("c")).as("c"))
      .localCheckpoint()
    // static reference profile: the whole corpus's bucket distribution
    val ref = Tables.events(s, dir)
      .select(expr(s"CAST(floor(value * 100 + 0.5) AS BIGINT) div $QmWidth")
        .as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("rc"))
    val refTot = ref.agg(sum(col("rc")).as("n_ref"))
    // dense hours × buckets grid spanning BOTH bucket ranges (the
    // gap_fill sequence-explode convention; a missing observed bucket
    // still pays its reference mass, and buckets in neither set
    // contribute |0 − 0| = 0 — the dense span is harmless and keeps
    // the only crossJoin a 1-row bounds frame)
    val hours = hist.select(col("hour")).distinct()
    val bounds = hist.select(col("bucket"))
      .unionByName(ref.select(col("bucket")))
      .agg(min(col("bucket")).as("b0"), max(col("bucket")).as("b1"))
    val grid = hours.crossJoin(broadcast(bounds))
      .select(col("hour"), explode(sequence(col("b0"), col("b1"))).as("bucket"))
    val n = hist.groupBy(col("hour")).agg(sum(col("c")).as("n"))
    grid
      .join(hist, Seq("hour", "bucket"), "left")
      .join(broadcast(ref), Seq("bucket"), "left")
      .na.fill(0L, Seq("c", "rc"))
      .join(broadcast(n), Seq("hour"))
      .crossJoin(broadcast(refTot))
      .withColumn("d",
        abs(expr("(c * 1000000L) div n") - expr("(rc * 1000000L) div n_ref")))
      .groupBy(col("hour"))
      .agg(max(col("n")).as("n"), sum(col("d")).as("l1_pm"))
      .withColumn("drifted", col("l1_pm") > DriftThresholdPm)
  }

  val sql: String =
    s"""WITH q AS (
       |  SELECT strftime(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)),
       |           '%Y-%m-%d %H:%M:%S') AS hour,
       |    CAST(floor(value * 100 + 0.5) AS BIGINT) // $QmWidth AS bucket
       |  FROM events),
       |h AS (SELECT hour, bucket, count(*) AS c FROM q GROUP BY 1, 2),
       |n AS (SELECT hour, sum(c)::BIGINT AS n FROM h GROUP BY 1),
       |r AS (SELECT bucket, count(*) AS rc FROM q GROUP BY 1),
       |rt AS (SELECT sum(rc)::BIGINT AS n_ref FROM r),
       |bounds AS (
       |  SELECT min(bucket) AS b0, max(bucket) AS b1 FROM
       |    (SELECT bucket FROM h UNION ALL SELECT bucket FROM r)),
       |grid AS (
       |  SELECT hour, unnest(generate_series(b0, b1)) AS bucket
       |  FROM (SELECT DISTINCT hour FROM h), bounds),
       |j AS (
       |  SELECT g.hour, g.bucket,
       |    coalesce(h.c, 0) AS c, coalesce(r.rc, 0) AS rc
       |  FROM grid g
       |  LEFT JOIN h ON h.hour = g.hour AND h.bucket = g.bucket
       |  LEFT JOIN r ON r.bucket = g.bucket)
       |SELECT j.hour, max(n.n) AS n,
       |  sum(abs((j.c * 1000000) // n.n - (j.rc * 1000000) // rt.n_ref))::BIGINT
       |    AS l1_pm,
       |  sum(abs((j.c * 1000000) // n.n - (j.rc * 1000000) // rt.n_ref))::BIGINT
       |    > $DriftThresholdPm AS drifted
       |FROM j JOIN n ON n.hour = j.hour CROSS JOIN rt
       |GROUP BY j.hour""".stripMargin
}
