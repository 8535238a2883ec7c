package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Sketches.{K, M, Mult}

/** K-line: streaming cardinality — distinct users per hour window
  * maintained as a KMV sketch in STREAMING STATE via the custom
  * [[graft.plans.KmvAgg]] aggregate. Structured Streaming forbids
  * `count_distinct` outright (state would be unbounded per group);
  * the sketch is the production answer: state per window is ≤ K
  * longs, updates fold new hashes into the TreeSet buffer, and the
  * estimate is read off the sketch downstream. Update mode + a 1-hour
  * watermark age expired windows out of the store (the stream_topk
  * state discipline). The consumer view takes each window's largest
  * sketch (sketches only grow within a window) and applies the
  * standard KMV estimator — exact below K by construction, since a
  * sketch holding fewer than K values IS the distinct hash set.
  *
  * All verify input arrives in one wave, so the result equals the
  * relational per-hour KMV — the oracle recomputes it. */
object StreamKmv {

  def run(s: SparkSession, dir: String): DataFrame = Staging.run(s) { r =>
    r.drive()(r.toMemory(StreamIngest.readEvents(s, dir)
      .withWatermark("ts", "1 hour")
      .select(window(col("ts"), "1 hour").as("w"),
        pmod(col("user_id") * Mult, lit(M)).as("h"))
      .groupBy(col("w"))
      .agg(call_function("kmv_agg", col("h"), lit(K)).as("sk"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour"), col("sk")),
      "update"))
    // latest update per window = the largest sketch; ties broken by
    // the sketch itself (identical arrays hash identically anyway)
    val w = Window.partitionBy(col("hour"))
      .orderBy(size(col("sk")).desc, element_at(col("sk"), size(col("sk"))).asc)
    r.table()
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("hour"), size(col("sk")).as("sketch_n"),
        graft.Portable.pround(when(size(col("sk")) < K, size(col("sk")).cast("double"))
          .otherwise(lit((K - 1).toDouble * M) / element_at(col("sk"), K)), 4)
          .as("est_users"))
  }

  val sql: String =
    s"""WITH d AS (
       |  SELECT DISTINCT strftime(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)),
       |           '%Y-%m-%d %H:%M:%S') AS hour,
       |    (user_id * $Mult) % $M AS h
       |  FROM events),
       |r AS (
       |  SELECT hour, h,
       |    row_number() OVER (PARTITION BY hour ORDER BY h) AS rn
       |  FROM d),
       |sk AS (
       |  SELECT hour, count(*) AS sketch_n, max(h) AS hk
       |  FROM r WHERE rn <= $K GROUP BY 1)
       |SELECT hour, sketch_n,
       |  floor((CASE WHEN sketch_n < $K THEN sketch_n::DOUBLE
       |             ELSE ${(K - 1).toDouble} * $M / hk END) * 10000.0 + 0.5) / 10000.0 AS est_users
       |FROM sk""".stripMargin
}
