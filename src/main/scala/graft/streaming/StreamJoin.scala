package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** I5: stream-stream event-time join — the attribution query every
  * event pipeline runs live: each `view` joined to the same user's
  * `purchase`s within the following hour. Both sides are real
  * streams (watched parquet dirs), both carry watermarks, and the
  * join condition is the user key PLUS an event-time range — exactly
  * the construct that lets Spark bound the join state: view-side
  * state is evicted once the purchase watermark passes vts + 1h, so
  * state is window-sized at any scale, never stream-sized.
  *
  * Determinism: all input is staged before one processAllAvailable,
  * so every match is in-state when its partner arrives and the
  * result equals the relational join — the oracle.
  */
object StreamJoin {

  def run(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val views = e.filter(col("event_type") === "view")
      .select(col("event_id").as("vid"), col("user_id"), col("ts").as("vts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id").as("p_user"), col("ts").as("pts"))

    val base = Files.createTempDirectory(Paths.get("target"), "stream_join")
    val vDir = Files.createDirectory(base.resolve("views"))
    val pDir = Files.createDirectory(base.resolve("purchases"))
    val mem = "stream_join_" + java.util.UUID.randomUUID().toString.replace("-", "")

    val vStream = s.readStream.schema(views.schema).parquet(vDir.toString)
      .withWatermark("vts", "1 hour")
    val pStream = s.readStream.schema(purchases.schema).parquet(pDir.toString)
      .withWatermark("pts", "1 hour")
    val joined = vStream.join(pStream,
      col("user_id") === col("p_user") &&
        col("pts") >= col("vts") &&
        col("pts") <= col("vts") + expr("INTERVAL 1 HOUR"))
    val q = joined
      .writeStream.format("memory").queryName(mem).outputMode("append")
      .start()
    try {
      Staging.stage(views, vDir.toString, "v")
      Staging.stage(purchases, pDir.toString, "p")
      q.processAllAvailable()
    } finally q.stop()
    val out = s.table(mem)
      .select(col("vid"), col("pid"), col("user_id"),
        date_format(col("vts"), "yyyy-MM-dd HH:mm:ss").as("vts"),
        date_format(col("pts"), "yyyy-MM-dd HH:mm:ss").as("pts"))
      .localCheckpoint()
    s.catalog.dropTempView(mem)
    Seq(vDir, pDir).foreach(Staging.clearDir)
    Files.deleteIfExists(base)
    out
  }

  val sql: String =
    """SELECT v.event_id AS vid, p.event_id AS pid, v.user_id,
      |  strftime(CAST(v.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS vts,
      |  strftime(CAST(p.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS pts
      |FROM events v JOIN events p
      |  ON v.user_id = p.user_id
      | AND v.event_type = 'view' AND p.event_type = 'purchase'
      | AND CAST(p.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP)
      | AND CAST(p.ts AS TIMESTAMP) <= CAST(v.ts AS TIMESTAMP) + INTERVAL 1 HOUR""".stripMargin
}
