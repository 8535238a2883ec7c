package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Multimodal

/** K119: STREAMING MEDIA ADMISSION GATE — the arrival-time screen a
  * multimodal ingest runs on every blob BEFORE it costs storage or
  * training compute, composing the multimodal family with streaming
  * transport (the one family×family intersection the suite lacked):
  * payload waves arrive (file-dropped, the K108 harness), and each
  * micro-batch (1) content-hashes its payloads (CAS identity — md5
  * over the raw bytes, the K12 kernel), (2) dedups within the batch
  * (first doc_id per hash — deterministic pick), (3) anti-joins the
  * PERSISTED CAS registry so blobs seen in ANY earlier batch are
  * dups, (4) blur-gates new image payloads (the K118 Laplacian
  * kernel at [[Multimodal.BlurThresh]]), and (5) appends the new
  * hashes to the registry. Cross-batch seen-state lives in the
  * registry PARQUET (a dir in the run's root, deleted with it) — the
  * content-addressed store's own index, sized
  * ∝ unique blobs — never in streaming state (the K73 stream_cdc
  * architecture; an unbounded dropDuplicates would hold every hash
  * in the state store AND recompute it per restart).
  *
  * Determinism: wave A (the corpus) fully precedes wave B (planted
  * resends of doc_id ≡ 0 mod [[ResendMod]]), and the within-batch
  * pick is min doc_id — so "first owner of a hash" = min doc_id in
  * the corpus, and the per-mime admission counts replay exactly in
  * SQL (mime derives from the OWNER, which matters because identical
  * payloads can carry different mimes).
  *
  * Per-mime report: arrivals, new blobs, dup blobs, blur-gated new
  * images, bytes admitted (new ∧ (non-image ∨ sharp)). At 100 TB the
  * per-batch cost is the batch scan + one registry anti-join
  * (registry bucketed by hash in a real store); payloads never
  * shuffle — only 16-byte hashes and counters do.
  */
object StreamMediaGate {

  /** Wave-B resend predicate: every ResendMod-th payload re-arrives. */
  val ResendMod = 5L

  def run(s: SparkSession, dir: String): DataFrame = Staging.run(s) { r =>
    val media = Multimodal.mediaTable(s, dir)
      .select(col("doc_id"), col("payload"),
        col("meta.mime").as("mime"), col("meta.n_bytes").as("n_bytes"))
    val results = new Staging.Collected
    val registry = r.path("cas_registry")

    r.drive(
        Staging.Wave("arrivals" -> media),
        Staging.Wave("arrivals" -> media.filter(col("doc_id") % ResendMod === 0)))(
      r.watch("arrivals", media.schema).writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val hashed = batch.withColumn("chash", md5(col("payload")))
        // within-batch CAS pick: the smallest doc_id owns the hash
        val firsts = hashed
          .groupBy(col("chash"))
          .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("copies"))
          .join(hashed, Seq("chash", "doc_id"))
        val seen =
          if (Files.exists(Paths.get(registry))) s.read.parquet(registry)
          else s.emptyDataFrame.select(lit("").as("chash")).limit(0)
        val fresh = firsts
          .join(seen.select(col("chash")), Seq("chash"), "left_anti")
          .localCheckpoint() // batch-sized; read 3× below (gate, registry, report)
        // the flag is a PROJECT, not a filter: filtering directly on
        // lap_per_pos lets PushPredicateThroughProject substitute the
        // whole Laplacian expression (cs array build included) into
        // every element_at of the fold — O(len²) per payload, 60 s at
        // sf0.1. CollapseProject's multi-reference guard keeps the
        // projected form at one cs build per row.
        val gated = Multimodal.withLap(
            fresh.filter(col("mime") === "image/png")
              .select(col("chash"), decode(col("payload"), "UTF-8").as("t")))
          .select(col("chash"),
            (col("lap_per_pos") < Multimodal.BlurThresh).as("blurry"))
        val report = hashed.groupBy(col("mime"))
          .agg(count(lit(1)).as("n_arrivals"))
          .join(
            fresh.join(gated, Seq("chash"), "left_outer")
              .na.fill(false, Seq("blurry"))
              .groupBy(col("mime"))
              .agg(count(lit(1)).as("n_new"),
                sum(when(col("blurry"), 1L).otherwise(0L)).as("n_blur_gated"),
                sum(when(!col("blurry"), col("n_bytes")).otherwise(0L))
                  .as("bytes_admitted")),
            Seq("mime"), "left_outer")
          .na.fill(0L, Seq("n_new", "n_blur_gated", "bytes_admitted"))
        results.add(report)
        fresh.select(col("chash")).write.mode("append").parquet(registry)
      })
    results.frame(s)
      .groupBy(col("mime"))
      .agg(sum(col("n_arrivals")).as("n_arrivals"),
        sum(col("n_new")).as("n_new"),
        (sum(col("n_arrivals")) - sum(col("n_new"))).as("n_dup"),
        sum(col("n_blur_gated")).as("n_blur_gated"),
        sum(col("bytes_admitted")).as("bytes_admitted"))
  }

  /** DuckDB twin: first owner of a hash = min doc_id in the corpus
    * (wave order + the min-doc_id batch pick make this exact); wave-B
    * resends are always dups of wave A. */
  lazy val sql: String = {
    val thresh = Multimodal.BlurThresh
    s"""WITH m AS (
       |  SELECT doc_id, text AS t, strlen(text)::BIGINT AS n_bytes,
       |    md5(text) AS chash,
       |    CASE WHEN doc_id % 3 = 0 THEN 'image/png'
       |         WHEN doc_id % 3 = 1 THEN 'audio/wav'
       |         ELSE 'video/mp4' END AS mime
       |  FROM documents),
       |arrivals AS (
       |  SELECT mime FROM m
       |  UNION ALL SELECT mime FROM m WHERE doc_id % $ResendMod = 0),
       |owner AS (
       |  SELECT chash, min(doc_id) AS doc_id FROM m GROUP BY 1),
       |fresh AS (
       |  SELECT m.mime, m.n_bytes, m.t FROM owner JOIN m USING (chash, doc_id)),
       |lap AS (
       |  SELECT mime, n_bytes,
       |    coalesce(
       |      mime = 'image/png' AND len(cs) >= 3 AND
       |      list_sum(list_transform(
       |        [ascii(cs[i-1]) - 2*ascii(cs[i]) + ascii(cs[i+1])
       |         for i in range(2, len(cs))],
       |        d -> (d * d)::BIGINT)) * 1000 // (len(cs) - 2) < $thresh,
       |      FALSE) AS blurry
       |  FROM (SELECT mime, n_bytes,
       |          list_filter(string_split(t, ''), x -> x <> '') AS cs
       |        FROM fresh)),
       |arr AS (SELECT mime, count(*) AS n_arrivals FROM arrivals GROUP BY 1),
       |nw AS (
       |  SELECT mime, count(*) AS n_new,
       |    sum(CASE WHEN blurry THEN 1 ELSE 0 END)::BIGINT AS n_blur_gated,
       |    sum(CASE WHEN blurry THEN 0 ELSE n_bytes END)::BIGINT AS bytes_admitted
       |  FROM lap GROUP BY 1)
       |SELECT mime, n_arrivals,
       |  coalesce(n_new, 0)::BIGINT AS n_new,
       |  (n_arrivals - coalesce(n_new, 0))::BIGINT AS n_dup,
       |  coalesce(n_blur_gated, 0)::BIGINT AS n_blur_gated,
       |  coalesce(bytes_admitted, 0)::BIGINT AS bytes_admitted
       |FROM arr LEFT JOIN nw USING (mime)""".stripMargin
  }
}
