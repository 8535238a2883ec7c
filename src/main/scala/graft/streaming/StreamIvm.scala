package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Maintenance

/** K107: STREAMING INCREMENTAL VIEW MAINTENANCE — K101's delta
  * algebra under K73's staged-wave transport: the change feed
  * arrives as three file-dropped waves (deletes, then updates, then
  * inserts — proving cross-batch accumulation, not one lucky batch),
  * and each micro-batch REFRESHES the maintained per-(source, lang)
  * aggregate view by folding signed deltas into it — the base table
  * is never re-aggregated after the initial view build.
  *
  * Per batch, the K101 shape verbatim: old rows for delete/update
  * keys come from ONE broadcast-keyed fetch against the base (the
  * serving store's index lookup — see [[Maintenance.ivmAgg]]'s IO
  * note), additions are map-side projections of the change rows, and
  * the batch's delta aggregate carries |touched-group| rows. The
  * maintained view itself lives driver-side in a concurrent map —
  * GROUP-cardinality (sources × langs, tens of rows), the one
  * cardinality class the repo allows off-cluster; a deployment keys
  * the same merge into its serving store. count/sum are
  * self-maintainable, so no batch ever rescans a base group.
  *
  * The oracle is the FULL recompute over the merged table
  * ([[Maintenance.ivmAggSql]]) — hash equality of a three-batch
  * incremental maintenance against the from-scratch aggregate is the
  * IVM correctness contract, now proven ACROSS batches. Delta
  * folding is commutative (integer sums), so wave order cannot
  * matter; the spec also asserts ≥ 3 data batches were consumed.
  */
object StreamIvm {

  def run(s: SparkSession, dir: String): DataFrame = Staging.run(s) { r =>
    val ch = Maintenance.changes(s, dir)
    val initial = s.read.parquet(Maintenance.ensureIvmView(s, dir))
    val view = new scala.collection.concurrent.TrieMap[(String, String), (Long, Long)]()
    initial.collect().foreach { v =>
      view.put((v.getAs[String]("source"), v.getAs[String]("lang")),
        (v.getAs[Long]("n_docs"), v.getAs[Long]("sum_chars")))
    }

    r.drive(Seq("delete", "update", "insert")
        .map(op => Staging.Wave("changes" -> ch.filter(col("op") === op))): _*)(
      r.watch("changes", ch.schema).writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
        val touched = batch.filter(col("op") =!= "insert").select(col("doc_id"))
        val removals = graft.Tables.documents(s, dir)
          .join(broadcast(touched), Seq("doc_id"))
          .select(col("source"), col("lang"),
            lit(-1L).as("dn"), (col("n_chars").cast("long") * -1L).as("dc"))
        val additions = batch.filter(col("op") =!= "delete")
          .select(col("source"), col("lang"), lit(1L).as("dn"),
            col("n_chars").as("dc"))
        // |touched-group| rows — the per-batch refresh payload
        removals.unionByName(additions)
          .groupBy(col("source"), col("lang"))
          .agg(sum(col("dn")).as("dn"), sum(col("dc")).as("dc"))
          .collect().foreach { d =>
            val k = (d.getAs[String]("source"), d.getAs[String]("lang"))
            val (n0, c0) = view.getOrElse(k, (0L, 0L))
            view.put(k, (n0 + d.getAs[Long]("dn"), c0 + d.getAs[Long]("dc")))
          }
        ()
      })
    Staging.rowsFrame(s, view.toSeq.collect { case ((src, lang), (n, c)) if n > 0 =>
      Row(src, lang, n, c)
    }, initial.schema)
  }

  /** Streamed maintenance must equal the full recompute. */
  val sql: String = Maintenance.ivmAggSql
}
