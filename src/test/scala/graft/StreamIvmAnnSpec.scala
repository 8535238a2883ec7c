package graft

import org.apache.spark.sql.functions._

/** K107 stream_ivm and K108 stream_ann: the streamed form must equal
  * its batch twin EXACTLY, and the equality must be earned across
  * multiple micro-batches (one lucky batch proves nothing about
  * accumulation). */
class StreamIvmAnnSpec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  /** `name`'s rows and its count of micro-batches that read data. */
  private def streamed(name: String) = {
    val (rows, progress) = streamProgressOf(leavesNothing(run(name)).collect())
    (rows, progress.count(_.numInputRows > 0))
  }

  test("stream_ivm: three-wave incremental maintenance equals the batch refresh") {
    val (rows, dataBatches) = streamed("stream_ivm")
    val got = rows
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(dataBatches >= 3, s"expected >= 3 data micro-batches, got $dataBatches")
    val batch = SparkEntry.queries("ivm_agg")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got.nonEmpty && got == batch,
      s"streamed=${got.size} batch=${batch.size} " +
        s"diff=${(got.toSet diff batch.toSet).take(3)}")
  }

  test("stream_ann: two probe waves reproduce the exact batch top-K") {
    val (rows, dataBatches) = streamed("stream_ann")
    val got = rows
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(dataBatches >= 2, s"expected >= 2 data micro-batches, got $dataBatches")
    val batch = SparkEntry.queries("ann_bruteforce")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(got.nonEmpty && got == batch,
      s"streamed=${got.size} batch=${batch.size} " +
        s"diff=${(got diff batch).take(3)}")
  }

  test("stream_media_gate: cross-batch CAS dedup conserves arrivals; wave B is all dups") {
    import graft.streaming.StreamMediaGate
    val (rows, dataBatches) = streamed("stream_media_gate")
    assert(dataBatches >= 2, s"expected >= 2 data micro-batches, got $dataBatches")
    val media = graft.operators.Multimodal.mediaTable(spark, sf)
      .select(col("doc_id"), md5(col("payload")).as("h"), col("meta.mime").as("mime"))
    val nDocs = media.count()
    val nResend = media.filter(col("doc_id") % StreamMediaGate.ResendMod === 0).count()
    val nUniq = media.select(col("h")).distinct().count()
    // conservation: every arrival is either a new blob or a dup
    rows.foreach { r =>
      assert(r.getAs[Long]("n_arrivals") ==
        r.getAs[Long]("n_new") + r.getAs[Long]("n_dup"), s"row $r")
      assert(r.getAs[Long]("n_blur_gated") <= r.getAs[Long]("n_new"))
    }
    assert(rows.map(_.getAs[Long]("n_arrivals")).sum == nDocs + nResend)
    // total new blobs = distinct content hashes; wave B added none
    assert(rows.map(_.getAs[Long]("n_new")).sum == nUniq)
    // the blur gate bit: only images can be gated, and some are
    val gatedByMime = rows.map(r => r.getString(0) -> r.getAs[Long]("n_blur_gated")).toMap
    assert(gatedByMime.filter(_._2 > 0).keySet.subsetOf(Set("image/png")))
    assert(gatedByMime.getOrElse("image/png", 0L) > 0, "blur gate never fired")
  }
}
