package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** K42: STREAM-STATIC ENRICHMENT — the one Structured Streaming join
  * mode the line didn't yet cover (stream_join is stream-stream):
  * the event stream joined per micro-batch against a STATIC
  * broadcast dimension (customer → market segment), then windowed
  * segment counts. This is the canonical streaming enrichment shape:
  * the static side needs no watermark and no state — Spark re-plans
  * it into each micro-batch as an ordinary broadcast hash join, so
  * the stream pays one in-memory probe per row and the state store
  * holds only the windowed counts. Update mode + 1 h watermark (the
  * stream_topk discipline); the consumer view takes the latest
  * (largest) update per key, counts are monotone within a window.
  *
  * All verify input arrives in one wave, so the result equals the
  * batch join + aggregate — the oracle recomputes exactly that. */
object StreamEnrich {

  def run(s: SparkSession, dir: String): DataFrame = Staging.run(s) { r =>
    val dim = graft.Tables.customer(s, dir)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    r.drive()(r.toMemory(StreamIngest.readEvents(s, dir)
      .withWatermark("ts", "1 hour")
      .join(broadcast(dim), Seq("user_id"))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("segment"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchases"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("segment"), col("n_events"), col("n_purchases")),
      "update"))
    // latest update per key: counts are monotone within a window
    r.table().groupBy(col("hour"), col("segment"))
      .agg(max(col("n_events")).as("n_events"),
        max(col("n_purchases")).as("n_purchases"))
  }

  val sql: String =
    """SELECT strftime(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)),
      |         '%Y-%m-%d %H:%M:%S') AS hour,
      |  c_mktsegment AS segment, count(*) AS n_events,
      |  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
      |    AS n_purchases
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY 1, 2""".stripMargin
}
