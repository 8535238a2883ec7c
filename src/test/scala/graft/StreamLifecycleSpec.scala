package graft

import org.apache.spark.sql.functions._
import graft.streaming.Staging

/** The streaming run lifecycle itself, on tiny file-drop streams: what
  * a run hands back, and what it leaves behind when it fails. */
class StreamLifecycleSpec extends SparkSpec {

  private def ids(n: Int) = spark.range(n).toDF("id")

  test("drive: one data micro-batch per wave; the read-back stays bound after cleanup") {
    var batches = Seq.empty[Long]
    val out = leavesNothing(Staging.run(spark) { r =>
      batches = r.drive(Staging.Wave("in" -> ids(3)), Staging.Wave("in" -> ids(2)))(
        r.toMemory(r.watch("in", ids(1).schema), "append"))
      r.table()
    })
    assert(batches == Seq(1L, 1L))
    // the view is dropped; the analyzed frame still reads its sink
    assert(out.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 0L, 1L, 1L, 2L))
  }

  test("a wave that throws propagates, and the root, view and query are gone") {
    var root: java.nio.file.Path = null
    val e = leavesNothing(intercept[Exception] {
      Staging.run(spark) { r =>
        root = java.nio.file.Paths.get(r.path("in")).getParent
        val bad = ids(3).select(
          when(col("id") >= 0, raise_error(lit("boom in wave"))).otherwise(col("id")).as("id"))
        r.drive(Staging.Wave("in" -> ids(1)), Staging.Wave("in" -> bad))(
          r.toMemory(r.watch("in", ids(1).schema), "append"))
      }
    })
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.toString).mkString(" <- ")
    assert(chain.contains("boom in wave"), chain)
    assert(root != null && !java.nio.file.Files.exists(root), s"run root $root survived")
  }
}
