package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Continuous daily-dump ingestion (SURVEY.md A8): the streaming
  * twin of the batch ingest — a file source watched for new dumps,
  * event-time dedup within a watermark (the reference's ON CONFLICT
  * upsert, expressed as streaming state), and a windowed count
  * aggregate as the downstream consumer.
  *
  * Scale: file-source listing is incremental; dedup state is keyed
  * by event_id and bounded by the watermark (state for ids older
  * than watermark − delay is dropped), so state size tracks the
  * dedup horizon, not the stream's history. `foreachBatch` +
  * [[graft.sinks.JdbcUpsertSink]] is the production sink; the memory
  * sink of [[run]] is the test/verify harness.
  */
object StreamIngest {

  /** The streaming transform: watermark → dedup → hourly counts. */
  def transform(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n"))

  /** Open the events parquet directory as a stream (schema from a
    * batch peek — file sources need an explicit schema). */
  def readEvents(s: SparkSession, dir: String): DataFrame = {
    val schema = Tables.events(s, dir).schema
    // events.parquet is a bare file; a file stream source wants a
    // directory, so watch the sf dir filtered down to that file
    val raw = s.readStream.schema(
      s.read.parquet(s"$dir/events.parquet").schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    // same timestamp normalization as the batch reader
    Tables.normalizeTs(raw)
      .select(schema.fieldNames.map(col).toSeq: _*)
  }

  /** A8: run the pipeline to a memory sink in UPDATE mode (so the
    * 1-hour watermark ages expired windows out of state — complete
    * mode would retain every window forever, the stream_topk lesson).
    * The read-back takes max(n) per key: window counts are monotone,
    * so the max IS the latest update. All input fits the first
    * micro-batch here, so the watermark drops nothing and the batch
    * twin is the oracle. */
  def run(s: SparkSession, dir: String): DataFrame = Staging.run(s) { r =>
    r.drive()(r.toMemory(transform(readEvents(s, dir)), "update"))
    r.table().groupBy(col("hour"), col("event_type"))
      .agg(max(col("n")).as("n"))
  }
}
