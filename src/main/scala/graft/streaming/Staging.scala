package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.stream.{Stream => JStream}

import org.apache.spark.sql.DataFrame

/** Shared file-staging for the file-source streaming operators: write
  * a wave of rows as parquet into a sibling temp dir, then ATOMIC_MOVE
  * the part-files into the watched dir — the file-stream source must
  * only ever list whole files, and a rename on the same filesystem is
  * the one atomic publish the local file source offers (the same
  * contract a production file-drop ingest relies on).
  *
  * Every `Files.list` is closed (it holds a directory fd open until
  * then); the streaming operators call this per wave, so a leaked
  * stream per call would otherwise accumulate across a bench run.
  */
object Staging {

  private def listing[A](dir: Path)(f: JStream[Path] => A): A = {
    val s = Files.list(dir)
    try f(s) finally s.close()
  }

  /** Stage `df` into `watchDir` as `<wave>_<i>.parquet` files. */
  def stage(df: DataFrame, watchDir: String, wave: String): Unit = {
    val tmp = Files.createTempDirectory(Paths.get(watchDir).getParent, s"stage_$wave")
    df.coalesce(2).write.mode("overwrite").parquet(tmp.toString)
    var i = 0
    listing(tmp)(_.filter(p => p.getFileName.toString.endsWith(".parquet"))
      .forEach { p =>
        Files.move(p, Paths.get(watchDir, s"${wave}_$i.parquet"),
          StandardCopyOption.ATOMIC_MOVE)
        i += 1
      })
    // scrub the leftovers (_SUCCESS, crc files)
    listing(tmp)(_.forEach(p => Files.deleteIfExists(p): Unit))
    Files.deleteIfExists(tmp)
  }

  /** Delete a staging dir's remaining files and the dir itself.
    * SINGLE-LEVEL by design — for flat staging dirs this session
    * wrote; a nested subdir (a Spark `_temporary` leftover, a crc
    * sidecar dir) makes the final delete a silent no-op. Trees that
    * may contain writer leftovers use
    * [[graft.ingest.ArtifactCache.deleteTree]]. */
  def clearDir(dir: Path): Unit = {
    listing(dir)(_.forEach(p => Files.deleteIfExists(p): Unit))
    Files.deleteIfExists(dir)
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
