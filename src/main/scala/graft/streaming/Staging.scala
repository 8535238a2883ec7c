package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.stream.{Stream => JStream}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.types.StructType

/** The one lifecycle of a streaming run. Every `stream_*` operator is
  * `Staging.run(s) { r => ... }`, and supplies only three things
  * through its [[Run]] `r`: its streaming plan (writers built over
  * [[Run.watch]] sources or to [[Run.toMemory]] sinks), its waves (the
  * frames to stage, each into a named watch dir) and its read-back (the
  * body's result, usually over [[Run.table]]). The lifecycle does the
  * rest:
  *
  *  - pins the state partitions ([[withStatePartitions]]) for the
  *    whole run;
  *  - creates the run's root under [[RunParent]] on first use, with
  *    its named watch dirs;
  *  - names each memory sink uniquely for the run;
  *  - starts the queries, stages each wave and drains every query
  *    after it ([[Run.drive]]), then stops them and hands the
  *    operator each wave's data micro-batch count;
  *  - in `finally`, also when a wave, a `require` or the read-back
  *    throws: stops the queries, drops the sink views and deletes the
  *    root. No run leaves a view, a directory or an active query
  *    behind.
  *
  * A read-back frame over a memory sink is analyzed when it is built,
  * so it stays bound to the sink after the view is dropped; read-backs
  * over files in the root must materialize (`localCheckpoint`) before
  * the body returns.
  *
  * Staging writes a wave as parquet into a sibling temp dir, then
  * ATOMIC_MOVEs the part-files into the watched dir: the file-stream
  * source must only ever list whole files, and a rename on the same
  * filesystem is the one atomic publish the local file source offers
  * (the same contract a production file-drop ingest relies on).
  */
object Staging {

  /** Parent of every run root, relative to the working directory. A
    * root lives only as long as its run, so this is empty between
    * runs. */
  val RunParent: Path = Paths.get("target", "stream_runs")

  /** Frames staged together, each into its named watch dir, before
    * one drain of the run's queries. */
  final case class Wave(frames: (String, DataFrame)*)

  /** Run `body` as one streaming run: see the object doc. */
  def run[A](s: SparkSession)(body: Run => A): A =
    withStatePartitions(s) {
      val r = new Run(s)
      try body(r) finally r.close()
    }

  final class Run private[Staging] (s: SparkSession) {
    private val id = java.util.UUID.randomUUID().toString.replace("-", "")
    private var root: Option[Path] = None
    private val sinks = ArrayBuffer.empty[String]
    private val queries = ArrayBuffer.empty[StreamingQuery]

    /** `name` under the run's root, which is created on first use. */
    def path(name: String): String = {
      val r = root.getOrElse {
        val p = Files.createDirectories(RunParent.resolve(id))
        root = Some(p)
        p
      }
      r.resolve(name).toString
    }

    /** A parquet file stream over the watch dir `name`. Every file a
      * wave stages is read in one micro-batch: maxFilesPerTrigger is
      * pinned far above any wave's file count, so a global default can
      * never split a wave. */
    def watch(name: String, schema: StructType): DataFrame = {
      val dir = Files.createDirectories(Paths.get(path(name))).toString
      s.readStream.schema(schema).option("maxFilesPerTrigger", "1000000").parquet(dir)
    }

    /** A writer of `ds` to the run's memory sink `tag`. */
    def toMemory(ds: Dataset[_], mode: String, tag: String = "out"): DataStreamWriter[_] = {
      sinks += sinkName(tag)
      ds.writeStream.format("memory").queryName(sinkName(tag)).outputMode(mode)
    }

    /** The memory sink `tag` as a frame, bound to the sink. */
    def table(tag: String = "out"): DataFrame = s.table(sinkName(tag))

    private def sinkName(tag: String): String = s"stream_${tag}_$id"

    /** Start `plan`, then per wave stage its frames and drain every
      * query; with no waves, drain once. Stops the queries and
      * returns each wave's count of micro-batches that read data. */
    def drive(waves: Wave*)(plan: DataStreamWriter[_]*): Seq[Long] = {
      plan.foreach(w => queries += w.start())
      val seen = (if (waves.isEmpty) Seq(Wave()) else waves).zipWithIndex.map { case (w, i) =>
        w.frames.foreach { case (dir, df) => stage(df, path(dir), s"wave_$i") }
        queries.foreach(_.processAllAvailable())
        queries.map(_.recentProgress.count(_.numInputRows > 0).toLong).sum
      }
      queries.foreach(_.stop())
      seen.zip(0L +: seen).map { case (total, before) => total - before }
    }

    private[Staging] def close(): Unit =
      try queries.foreach(_.stop())
      finally try sinks.foreach(s.catalog.dropTempView)
      finally root.foreach(graft.ingest.ArtifactCache.deleteTree)
  }

  /** Driver-side rows as a frame over `schema`, parallelized across
    * the shuffle partitions instead of a driver-local relation:
    * consumers (verify's parquet dump, the bench's noop write) then
    * serialize it from executor threads, not one driver loop. */
  def rowsFrame(s: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    s.createDataFrame(
      s.sparkContext.parallelize(rows, s.conf.get("spark.sql.shuffle.partitions").toInt),
      schema)

  /** The rows a `foreachBatch` sink collects batch by batch, read back
    * by [[frame]] under the collected frames' schema. */
  final class Collected {
    private val rows = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    @volatile private var schema: StructType = _

    def add(df: DataFrame): Unit = {
      schema = df.schema
      df.collect().foreach(rows.add)
    }

    def frame(s: SparkSession): DataFrame = rowsFrame(s, rows.asScala.toSeq, schema)
  }

  /** Every `Files.list` is closed (it holds a directory fd open until
    * then); a leaked stream per wave would accumulate across a bench. */
  private def listing[A](dir: Path)(f: JStream[Path] => A): A = {
    val s = Files.list(dir)
    try f(s) finally s.close()
  }

  /** Stage `df` into `watchDir` as `<wave>_<i>.parquet` files. */
  private def stage(df: DataFrame, watchDir: String, wave: String): Unit = {
    val tmp = Files.createTempDirectory(Paths.get(watchDir).getParent, s"stage_$wave")
    df.coalesce(2).write.mode("overwrite").parquet(tmp.toString)
    var i = 0
    listing(tmp)(_.filter(p => p.getFileName.toString.endsWith(".parquet"))
      .forEach { p =>
        Files.move(p, Paths.get(watchDir, s"${wave}_$i.parquet"),
          StandardCopyOption.ATOMIC_MOVE)
        i += 1
      })
    graft.ingest.ArtifactCache.deleteTree(tmp)
  }

  /** State partition count for the file-drop streams. A streaming
    * query's shuffle-partition count is FIXED into its checkpoint at
    * first start and becomes the number of state stores per stateful
    * operator — so production streams size it to STATE volume
    * explicitly instead of inheriting the batch-side default.
    * Inheriting local[32]'s batch setting here means 32 RocksDB
    * instances per stateful operator per micro-batch for streams
    * whose keyed state is tiny (measured on stream_join at sf0.1:
    * 10.8 s → 4.3 s warm by moving 32 → 8; 4 adds nothing). At
    * 100 TB the same decision happens in the submit conf with a
    * larger number — the point is that it is a per-stream decision,
    * not the scan-side default. */
  val StatePartitions = 8

  /** Guards [[withStatePartitions]]: the override mutates SHARED
    * session conf, so two concurrent scopes would clobber/restore each
    * other's value non-deterministically. One JVM-wide lock serializes
    * them (reentrant, so a scope may nest). */
  private val scopeLock = new java.util.concurrent.locks.ReentrantLock()

  /** Run `body` with the session's shuffle-partition conf pinned to
    * [[StatePartitions]] (captured by the query cloned at `start()`),
    * restoring the caller's value afterwards.
    *
    * The override is session-global while `body` runs: batch-side work
    * inside the scope (staging writes, the final memory-table
    * aggregation) runs at [[StatePartitions]] too — acceptable here
    * because every such frame is wave- or report-sized. Concurrent
    * scopes (a parallel bench, parallel specs on one session) would
    * interleave set/restore, so scopes SERIALIZE on a JVM-wide
    * reentrant lock: correctness is preserved and the constraint is
    * structural instead of a prose convention. */
  def withStatePartitions[A](s: org.apache.spark.sql.SparkSession)(body: => A): A = {
    scopeLock.lock()
    try {
      val key = "spark.sql.shuffle.partitions"
      val prev = s.conf.get(key)
      s.conf.set(key, StatePartitions.toString)
      try body finally s.conf.set(key, prev)
    } finally scopeLock.unlock()
  }
}
