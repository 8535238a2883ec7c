package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Sketches.QmWidth

/** K98: STREAMING HISTOGRAM QUANTILES — K92's quantile_merge
  * maintained continuously: per hour window, a fixed-grid integer
  * histogram (bucket = value-cents div [[QmWidth]]) kept in
  * streaming state, with p50/p90 read off the cumulative histogram
  * downstream. This is the production shape for "p90 latency per
  * window" on an unbounded stream: Structured Streaming cannot hold
  * per-window value buffers (exact percentile state is unbounded),
  * but the histogram's state is ≤ ~50 counters per window — bounded
  * by value-range/width, never by rows — and counters merge across
  * batches by addition, the same mergeability K92 proves in batch.
  * Update mode + a 1-hour watermark age expired windows out of the
  * store (the stream_kmv state discipline); the consumer takes each
  * (window, bucket)'s LATEST update (counts grow monotonically
  * within a window) and computes exact ceil-rank bucket lower
  * bounds — identical arithmetic to the batch twin, so the DuckDB
  * oracle replays it relationally. */
object StreamQuantile {

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
    // latest update per (hour, bucket): counts are monotone in-window
    val hist = r.table()
      .groupBy(col("hour"), col("bucket")).agg(max(col("c")).as("c"))
    val wCum = Window.partitionBy(col("hour")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(col("hour"))
    hist
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wTot))
      .groupBy(col("hour"))
      .agg(max(col("n")).as("n"),
        (min(when(col("cum") >= expr("(50 * n + 99) div 100"),
          col("bucket"))) * QmWidth).as("p50_q"),
        (min(when(col("cum") >= expr("(90 * n + 99) div 100"),
          col("bucket"))) * QmWidth).as("p90_q"))
  }

  val sql: String =
    s"""WITH q AS (
       |  SELECT strftime(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)),
       |           '%Y-%m-%d %H:%M:%S') AS hour,
       |    CAST(floor(value * 100 + 0.5) AS BIGINT) // $QmWidth AS bucket
       |  FROM events),
       |h AS (SELECT hour, bucket, count(*) AS c FROM q GROUP BY 1, 2),
       |c AS (
       |  SELECT hour, bucket, c,
       |    sum(c) OVER (PARTITION BY hour ORDER BY bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    sum(c) OVER (PARTITION BY hour) AS n
       |  FROM h)
       |SELECT hour, max(n)::BIGINT AS n,
       |  min(CASE WHEN cum >= (50 * n + 99) // 100 THEN bucket END)
       |    * $QmWidth AS p50_q,
       |  min(CASE WHEN cum >= (90 * n + 99) // 100 THEN bucket END)
       |    * $QmWidth AS p90_q
       |FROM c GROUP BY hour""".stripMargin
}
