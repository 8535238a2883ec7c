package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType
import graft.ingest.{Decisions, Upsert}

/** The reference's ACTUAL production shape, end-to-end in Structured
  * Streaming (BASELINE "spark_approach: Structured Streaming + JDBC
  * sink"): a watched source of new records → the full 40-column
  * typed Decision parse → per-micro-batch last-write-wins → an
  * ON-CONFLICT upsert sink (main.go's worker loop + processDecisions,
  * expressed as `foreachBatch` + [[graft.sinks.JdbcUpsertSink]]
  * semantics).
  *
  * The sink IS the production path: each micro-batch goes through
  * the batch ingest's one write path, `JdbcUpsertSink.writeOptimistic`
  * — foreachPartition on executor threads, one transaction per
  * partition, no driver-side collect at any scale — with
  * [[Decisions.lwwGuardSql]] on its duplicate-key replay.
  * The container has no database, so the injectable connection
  * factory points at [[storeConnection]], an in-memory uuid-keyed
  * stand-in for the Postgres table with the same conditional-upsert
  * semantics; a deployment passes the real JDBC url and changes
  * nothing else. All verify input arrives in one micro-batch, so the
  * result equals the batch [[Decisions.decisionRoundtrip]] and shares
  * its oracle.
  * (The archive unzip leg is a batch concern — A2/A9; file streams
  * watch already-extracted staging.)
  */
object StreamDecisions {

  /** uuid-keyed stand-in for the sink database table. `commits`
    * counts sink transactions — one per non-empty partition — so the
    * spec can assert the per-partition (not per-driver) write path
    * actually ran. */
  object Store {
    val rows = new scala.collection.concurrent.TrieMap[String, Row]()
    @volatile var schema: StructType = _
    val commits = new java.util.concurrent.atomic.AtomicInteger(0)
    /** Attempted row merges (including guard-rejected ones) — lets the
      * restart spec prove already-committed files are NOT re-offered
      * to the sink after recovery. */
    val merges = new java.util.concurrent.atomic.AtomicInteger(0)
  }

  /** Store-backed `java.sql.Connection`: what stands in for Postgres
    * in the no-database container.
    * [[graft.sinks.JdbcUpsertSink.writeOptimistic]] drives it per
    * PARTITION on executor threads with the production control flow
    * (prepare → setObject×40 → addBatch → executeBatch per 1000 →
    * commit) — no driver-side collect anywhere; a real deployment
    * passes the JDBC url and drops this factory, changing nothing
    * else. The fake ignores statement text and raises no duplicate-key
    * error: executeBatch applies the conditional upsert to the plain
    * INSERT already — a row replaces the stored one only if it
    * [[Decisions.beats]] it, the SAME predicate the production replay
    * carries, because [[upsertBatch]] passes [[Decisions.lwwGuardSql]]
    * to the sink (an unguarded replay would NOT give cross-batch LWW
    * on a real database).
    * (The shared-JVM Store is a local-mode artifact; on a cluster the
    * database itself is the shared store.) */
  private[graft] def storeConnection(schema: StructType): java.sql.Connection = {
    import java.lang.reflect.{InvocationHandler, Method, Proxy}
    def statement(): java.sql.PreparedStatement = {
      val nCols = schema.size
      var current = new Array[Any](nCols)
      val batch = scala.collection.mutable.ArrayBuffer[Array[Any]]()
      Proxy.newProxyInstance(getClass.getClassLoader,
        Array(classOf[java.sql.PreparedStatement]),
        new InvocationHandler {
          def invoke(proxy: Any, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
            case "setObject" =>
              current(args(0).asInstanceOf[Integer] - 1) = args(1); null
            case "addBatch" =>
              batch += current.clone().asInstanceOf[Array[Any]]; null
            case "executeBatch" =>
              val n = batch.size
              batch.foreach { vals =>
                val row: Row = new org.apache.spark.sql.catalyst.expressions
                  .GenericRowWithSchema(vals, schema)
                mergeRow(row)
              }
              batch.clear()
              Array.fill(n)(1)
            case "close" => null
            case "toString" => "store-ps"
            case _ => null
          }
        }).asInstanceOf[java.sql.PreparedStatement]
    }
    Proxy.newProxyInstance(getClass.getClassLoader,
      Array(classOf[java.sql.Connection]),
      new InvocationHandler {
        def invoke(proxy: Any, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
          case "prepareStatement" => statement()
          case "commit" => Store.commits.incrementAndGet(); null
          case "setAutoCommit" | "rollback" | "close" => null
          case "toString" => "store-conn"
          case _ => null
        }
      }).asInstanceOf[java.sql.Connection]
  }

  /** ON CONFLICT (uuid) DO UPDATE ... WHERE excluded wins (the
    * [[Decisions.lwwGuardSql]] guard): a row replaces the stored one
    * only if it beats it, so last-write-wins holds across micro-batches
    * even when the file source splits the input (maxFilesPerTrigger,
    * late staging) and a later batch carries an OLDER row. */
  private[graft] def mergeRow(r: Row): Unit = {
    Store.merges.incrementAndGet()
    val k = r.getAs[String]("uuid")
    Store.rows.get(k) match {
      case Some(cur) if !Decisions.beats(r, cur) => // stored row is newer: keep
      case _ => Store.rows.put(k, r)
    }
  }

  /** One micro-batch through THE production sink: per-batch LWW, then
    * JdbcUpsertSink.writeOptimistic with the LWW guard on its replay —
    * foreachPartition on executor threads (no driver-side collect at
    * any scale) against the store-backed connection; a deployment
    * with a database passes its JDBC url instead. */
  private[graft] def upsertBatch(batch: DataFrame): Unit = {
    val lww = Upsert.lastWriteWins(batch, Seq("uuid"), Decisions.lwwOrder)
    val schema = lww.schema
    Store.schema = schema
    graft.sinks.JdbcUpsertSink.writeOptimistic(lww, "jdbc:store", "decisions", "uuid",
      connect = _ => storeConnection(schema), guard = Decisions.lwwGuardSql)
  }

  /** Start the pipeline; see [[pipeline]]. */
  private[graft] def startQuery(s: SparkSession, dir: String,
      glob: String = "events.parquet",
      checkpoint: String = null): org.apache.spark.sql.streaming.StreamingQuery =
    pipeline(s, dir, glob, checkpoint).start()

  /** The runnable pipeline: watched staging dir → parse → LWW upsert
    * sink. `checkpoint` pins a checkpointLocation so a STOPPED query
    * can be restarted against the same progress log (the production
    * recovery contract — spec-proven in CheckpointRecoverySpec);
    * null keeps the engine's per-run temp checkpoint. */
  private def pipeline(s: SparkSession, dir: String, glob: String = "events.parquet",
      checkpoint: String = null): DataStreamWriter[Row] = {
    val raw = s.readStream
      .schema(s.read.option("pathGlobFilter", glob).parquet(dir).schema)
      .option("pathGlobFilter", glob)
      .parquet(dir)
      .transform(Tables.normalizeTs)
      // a micro-batch inherits the file split count — one daily dump
      // file = ONE task for the whole 40-column parse; spread the
      // narrow raw rows across the executors before the heavy stage.
      // Round-robin on the NARROW raw rows is the measured optimum
      // (r8 A/B, local[32] sf0.1, 4 interleaved reps): this shape
      // 2.0-2.2 s; hashing on uuid here instead — hoping the LWW
      // window could reuse the partitioning — costs 3.5-3.9 s,
      // because the foreachBatch boundary does NOT carry
      // outputPartitioning into the batch plan (the window re-shuffles
      // regardless) and the uuid hash exchange moves the 36 synthesized
      // string columns instead of the raw rows; a groupBy/max_by LWW
      // (no sort, partial combine) measured 2.3-2.6 s — also no win,
      // since WindowGroupLimit already prunes losers map-side.
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
    val parsed = Decisions.parse(Decisions.synthFrom(raw).drop("event_id"))
      .filter(col("uuid") =!= "")
    val w = parsed.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) => upsertBatch(batch) }
    if (checkpoint == null) w else w.option("checkpointLocation", checkpoint)
  }

  /** The run needs no memory sink and no root: the store is the sink. */
  def run(s: SparkSession, dir: String): DataFrame = Staging.run(s) { r =>
    Store.rows.clear()
    Store.commits.set(0)
    r.drive()(pipeline(s, dir))
    Staging.rowsFrame(s, Store.rows.values.toSeq, Store.schema)
  }
}
