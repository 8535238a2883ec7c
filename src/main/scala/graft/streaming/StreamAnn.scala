package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Ann

/** K108: STREAMING SIMILARITY SEARCH — the ANN family's missing
  * stream-side path: query vectors ARRIVE (two file-dropped waves of
  * probe embeddings) and each micro-batch answers exact top-[[Ann.K]]
  * cosine against the STATIC corpus — the online-retrieval shape
  * (a query service, embedding-drift probes against a frozen index)
  * where the corpus is the big side and the per-trigger probe set is
  * small.
  *
  * Per batch this is the K42 stream-static discipline applied to
  * search: the batch's probes broadcast into ONE corpus scan
  * ([[Ann.bruteforceFor]], the exact kernel D1 itself runs on), the
  * two-phase rank keeps per-reducer state at K rows, and results are
  * probe×K-sized — the only thing that ever leaves the cluster. No
  * watermark and no state store: search is stateless per trigger, so
  * the streaming cost is exactly the batch kernel per wave. At scale
  * the same plan swaps [[Ann.bruteforceFor]] for the IVF/LSH legs
  * (D2/D3) unchanged — candidate generation is a property of the
  * index side, not of the transport.
  *
  * All probes are processed exactly once across the waves and the
  * scoring doubles are the kernel's own, so the union of the batch
  * results equals the batch D1 run — the oracle IS
  * [[Ann.annBruteforceSql]]. The spec asserts ≥ 2 data batches (the
  * result really accumulated across triggers).
  */
object StreamAnn {

  def run(s: SparkSession, dir: String): DataFrame = Staging.run(s) { r =>
    val probeRows = graft.Tables.embeddings(s, dir)
      .filter(col("vec_id") < Ann.NumQueries)
      .select(col("vec_id"), col("embedding"))
    val results = new Staging.Collected
    r.drive(
        Staging.Wave("probes" -> probeRows.filter(col("vec_id") % 2 === 0)),
        Staging.Wave("probes" -> probeRows.filter(col("vec_id") % 2 === 1)))(
      r.watch("probes", probeRows.schema).writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // probes×K rows — report-sized, the service's response payload
          results.add(Ann.bruteforceFor(s, dir, Ann.asProbes(batch)))
        })
    results.frame(s)
  }

  /** Streamed search must equal the batch exact kernel. */
  val sql: String = Ann.annBruteforceSql
}
