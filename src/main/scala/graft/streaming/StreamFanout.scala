package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** K96: STREAMING MULTI-SINK FAN-OUT — the router every ingestion
  * topology ends in: ONE stream pass splits events across per-domain
  * sinks (commerce / ops / engagement) inside `foreachBatch`, the
  * only Structured Streaming construct that can feed multiple
  * writers from a single source read. The contract under test:
  *
  *  - the batch is persisted ONCE and every sink filter reads the
  *    cache — without it each writer re-executes the upstream plan
  *    per sink (the documented foreachBatch trap, N× source reads at
  *    100 TB);
  *  - routing is exhaustive and disjoint (CASE semantics: the
  *    `commerce`/`ops` predicates first, `engagement` the explicit
  *    complement), so Σ sink rows = source rows with no row written
  *    twice — the oracle's hash equality proves it;
  *  - the result is read back FROM THE SINKS (not from the routing
  *    frame), so what's checked is what a downstream consumer
  *    actually sees on disk.
  *
  * Sinks and checkpoint are dirs in the run's root (the fan-out is a
  * transport, not a write-once artifact), which the lifecycle deletes
  * after the report is materialized. Routing is stateless, so the result is
  * batching-invariant — append-mode writes accumulate the same rows
  * however the source splits the waves; exactly-once across RESTARTS
  * would add the checkpoint-replay + idempotent-path machinery A8/K73
  * already prove. */
object StreamFanout {

  /** (sink, predicate) routing table; `engagement` is the complement. */
  def routes: Seq[(String, org.apache.spark.sql.Column)] = Seq(
    "commerce" -> (col("event_type") === "purchase" || col("event_type") === "view"),
    "ops" -> (col("event_type") === "error"))

  def run(s: SparkSession, dir: String): DataFrame = Staging.run(s) { r =>
    val cols = Seq("event_id", "user_id", "event_type")
    r.drive()(StreamIngest.readEvents(s, dir)
      .writeStream.outputMode("append")
      .option("checkpointLocation", r.path("_chk"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.persist()
        routes.foreach { case (name, pred) =>
          batch.filter(pred).selectExpr(cols: _*)
            .write.mode("append").parquet(r.path(name))
        }
        batch.filter(!routes.map(_._2).reduce(_ || _))
          .selectExpr(cols: _*)
          .write.mode("append").parquet(r.path("engagement"))
        batch.unpersist()
        ()
      })
    (routes.map(_._1) :+ "engagement").map { name =>
      s.read.parquet(r.path(name))
        .agg(count(lit(1)).as("n_rows"),
          count_distinct(col("user_id")).as("n_users"),
          sum(col("event_id")).as("sum_ids"))
        .select(lit(name).as("sink"), col("n_rows"), col("n_users"),
          col("sum_ids"))
    }.reduce(_ unionByName _)
      // 3-row report: materialized before the run deletes its root
      .localCheckpoint()
  }

  val sql: String =
    """WITH r AS (
      |  SELECT event_id, user_id,
      |    CASE WHEN event_type IN ('purchase', 'view') THEN 'commerce'
      |         WHEN event_type = 'error' THEN 'ops'
      |         ELSE 'engagement' END AS sink
      |  FROM events)
      |SELECT sink, count(*) AS n_rows,
      |  count(DISTINCT user_id)::BIGINT AS n_users,
      |  sum(event_id)::BIGINT AS sum_ids
      |FROM r GROUP BY 1""".stripMargin
}
