package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** J-line: streaming top-K — hourly event-type leaders maintained as
  * a live windowed aggregate. The COUNTS are streaming state; the
  * rank is a batch view over the sink table, because top-K is a
  * consumer-side read of the maintained state, not more stream state
  * (ranking inside the stream would force per-trigger global sorts).
  *
  * State is BOUNDED: update mode + a 1-hour watermark, so hour
  * windows older than (max event time − 1h) age out of the store —
  * state size tracks the watermark horizon × event types, not the
  * stream's lifetime (complete mode would retain every window ever
  * seen; the flat-state property is spec-checked across waves). The
  * consumer view takes max(n) per (hour, type): counts are
  * monotonically increasing, so the max IS the latest update a
  * trigger emitted, and late rows beyond the watermark are dropped
  * (never resurrected as a fresh count). At scale the aggregate
  * shuffles one row per updated (window, type) per trigger.
  *
  * All verify input arrives in one wave, so the result is the exact
  * relational windowed-count + rank — the oracle recomputes it. */
object StreamTopk {

  val K = 3

  /** The streaming transform (exposed so the state-boundedness spec
    * can drive it with its own multi-wave file source). */
  def counts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n"))

  def run(s: SparkSession, dir: String): DataFrame = Staging.run(s) { r =>
    r.drive()(r.toMemory(counts(StreamIngest.readEvents(s, dir)), "update"))
    val latest = r.table().groupBy(col("hour"), col("event_type"))
      .agg(max(col("n")).as("n"))
    val w = Window.partitionBy(col("hour")).orderBy(col("n").desc, col("event_type"))
    latest
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= K)
  }

  val sql: String =
    s"""WITH c AS (
       |  SELECT strftime(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)),
       |           '%Y-%m-%d %H:%M:%S') AS hour,
       |    event_type, count(*) AS n
       |  FROM events GROUP BY 1, 2)
       |SELECT hour, event_type, n, rk FROM (
       |  SELECT hour, event_type, n,
       |    row_number() OVER (PARTITION BY hour ORDER BY n DESC, event_type) AS rk
       |  FROM c)
       |WHERE rk <= $K""".stripMargin
}
