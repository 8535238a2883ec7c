package graft.ingest

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Retrying archive fetch — the reference's download layer
  * (utils.go:25-48 `downloadWithBackoff`, main.go:176-186 worker
  * loop): each manifest URL is fetched with exponential backoff; the
  * 403-analog ("forbidden or does not exist") is PERMANENT and never
  * retried, every other failure retries up to `maxAttempts`.
  *
  * Spark-first shape: the manifest is a DataFrame and fetching runs
  * per-partition on executors (`mapPartitions` — genuine imperative
  * IO, the legitimate RDD-ish case), so a year of daily dumps
  * fans out across the cluster exactly like the reference's worker
  * pool — except the "pool" is the executor fleet and the result is
  * a DataFrame that flows straight into [[ZipCsv]]/[[Csv]] parsing.
  * Backoff sleeps happen on the executor between attempts for ONE
  * url; they never block other partitions.
  */
object Fetch {

  sealed trait Result
  final case class Ok(bytes: Array[Byte]) extends Result
  final case class Permanent(msg: String) extends Result
  final case class Transient(msg: String) extends Result

  /** `file://` fetcher (tests and the local-mirror path): a missing
    * file is the reference's 403 — the dump was never published —
    * and therefore permanent; IO errors are transient. */
  def fileFetcher(url: String): Result = {
    val p = Paths.get(new java.net.URI(url))
    try {
      if (!Files.exists(p)) Permanent("forbidden or does not exist")
      else Ok(Files.readAllBytes(p))
    } catch { case e: java.io.IOException => Transient(e.toString) }
  }

  val schema: StructType = StructType(Seq(
    StructField("url", StringType, nullable = false),
    StructField("status", StringType, nullable = false),
    StructField("attempts", IntegerType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("content", BinaryType, nullable = true),
    StructField("error", StringType, nullable = true)))

  /** Fetch every URL in `urlCol`; transient failures retry with
    * exponential backoff (`backoffMs` · 2^attempt, tiny in tests),
    * permanent failures record immediately. Output: one row per URL
    * with status ∈ {fetched, permanent_fail, transient_fail},
    * attempt count, size, payload. */
  def fetchArchives(manifest: DataFrame, urlCol: String,
                    maxAttempts: Int = 5, backoffMs: Long = 10,
                    fetcher: String => Result = fileFetcher): DataFrame = {
    require(maxAttempts >= 1)
    manifest.select(col(urlCol)).mapPartitions { it: Iterator[Row] =>
      it.map { r =>
        val url = r.getString(0)
        var attempt = 0
        var res: Result = Transient("not attempted")
        var done = false
        while (!done) {
          attempt += 1
          res = try fetcher(url)
          catch { case scala.util.control.NonFatal(e) => Transient(e.toString) }
          res match {
            case _: Ok | _: Permanent => done = true
            case _: Transient if attempt >= maxAttempts => done = true
            case _: Transient => Thread.sleep(backoffMs << (attempt - 1))
          }
        }
        res match {
          case Ok(b)        => Row(url, "fetched", attempt, b.length.toLong, b, null)
          case Permanent(m) => Row(url, "permanent_fail", attempt, 0L, null, m)
          case Transient(m) => Row(url, "transient_fail", attempt, 0L, null, m)
        }
      }
    }(Encoders.row(schema))
  }
}

/** Plain-CSV fixture for the fetch_ingest query: the documents table
  * split over three `part_<doc_id % 3>.csv` files (deterministic
  * membership → the oracle can recompute per-file rows AND exact
  * byte sizes from the table), built once per documents table.
  */
object FetchFixture {
  val Cols: Seq[String] = Seq("doc_id", "text", "lang", "source", "n_chars")

  val Fixture: ArtifactCache.Artifact =
    ArtifactCache.Artifact("fetchcsv", Seq("documents"), "parts=3")

  def ensure(s: SparkSession, dir: String): String =
    Fixture.ensure(dir) { tmp =>
      // driver-side by design: fabricates the remote files a cluster
      // would fetch from object storage
      val rows = Tables.documents(s, dir).select(Cols.head, Cols.tail: _*)
        .orderBy("doc_id").collect()
      (0 until 3).foreach { part =>
        Files.write(Paths.get(tmp, s"part_$part.csv"),
          Csv.render(Cols, rows.filter(r => r.getLong(0) % 3 == part)))
      }
    }
}

/** file:// manifest over the [[FetchFixture]] parts plus one
  * never-published URL (the reference's not-yet-uploaded daily dump,
  * whose fetch 403s permanently). */
object FetchManifest {
  def manifest(s: SparkSession, dir: String): DataFrame = {
    val base = Paths.get(FetchFixture.ensure(s, dir)).toAbsolutePath
    import s.implicits._
    Seq("part_0.csv", "part_1.csv", "part_2.csv", "part_404.csv")
      .map(f => s"file://$base/$f").toDF("url")
  }
}
