package perfbench

import java.nio.file.{Files, Path}
import java.sql.{DriverManager, SQLException}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.{Decisions, Fetch, Manifest, Upsert, ZipCsv}
import graft.sinks.JdbcUpsertSink

/** The reference pipeline, driven through graft's public layer entry
  * points: `Manifest.daily` → `Fetch.fetchArchives` (landing the
  * fetched archives in a staging directory) → `ZipCsv.read` →
  * `Decisions.parse` → `Upsert.lastWriteWins` →
  * `JdbcUpsertSink.writeOptimistic` into in-memory Derby. */
final class IngestBench(spark: SparkSession, work: Path, probe: RuntimeProbe, tracer: Tracer) {
  import IngestBench._

  /** Per-layer numbers of one traced load. */
  val layer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private def note(k: String, v: Double): Unit = layer.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v

  private var dbCounter = 0

  /** A new in-memory Derby database holding the decisions table,
    * pre-loaded with `rows` (plain JDBC inserts, not the program's
    * sink). Returns its URL. */
  def createDb(rows: Seq[Array[Any]]): String = {
    dbCounter += 1
    val url = s"jdbc:derby:memory:bench$dbCounter"
    val c = DriverManager.getConnection(url + ";create=true")
    try {
      val st = c.createStatement()
      st.execute(s"CREATE TABLE $Table (" + Mirror.OutCols.zip(Mirror.OutTypes).map {
        case (n, t) => if (n == "uuid") s"$n $t PRIMARY KEY" else s"$n $t"
      }.mkString(", ") + ")")
      st.close()
      if (rows.nonEmpty) {
        c.setAutoCommit(false)
        val ps = c.prepareStatement(s"INSERT INTO $Table (${Mirror.OutCols.mkString(", ")}) " +
          s"VALUES (${Mirror.OutCols.map(_ => "?").mkString(", ")})")
        rows.grouped(1000).foreach { chunk =>
          chunk.foreach { r => r.indices.foreach(i => ps.setObject(i + 1, r(i))); ps.addBatch() }
          ps.executeBatch()
        }
        c.commit()
      }
    } finally c.close()
    url
  }

  def dropDb(url: String): Unit =
    try DriverManager.getConnection(url + ";drop=true").close()
    catch { case _: SQLException => () } // Derby reports a successful drop as an exception

  /** Runs the pipeline for `d` (published under `mirror`) into `url`,
    * stopping after layer `upTo` (`Layers`) when tracing splits the
    * layers; a full load ends with the sink's commit. */
  private def pipeline(d: Mirror.Delivery, mirror: Path, url: String, upTo: String,
                       observe: Boolean): (Int, Int) = {
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def observed(df: DataFrame, obs: Observation, cols: org.apache.spark.sql.Column*): DataFrame =
      if (observe) df.observe(obs, count(lit(1)).as("rows"), cols: _*) else df

    val stage = work.resolve("staging")
    Tree.clear(stage)
    Files.createDirectories(stage)
    val base = mirror.toUri.toString.stripSuffix("/")
    val manifest = tracer.span("manifest") {
      Manifest.daily(spark, d.first.toString, d.last.toString)
        .withColumn("url", concat(lit(base + "/"), col("file")))
    }
    if (upTo == "manifest") { manifest.collect(); return (0, 0) }

    // fetch: every URL in the manifest, landed in the staging dir
    var wrong = 0
    var urls = 0
    tracer.span("fetch") {
      FetchProbe.reset()
      val rows = Fetch.fetchArchives(manifest, "url", maxAttempts = 4, backoffMs = 1,
        fetcher = FaultyFetcher(d.faults))
        .select("url", "status", "n_bytes", "content").collect()
      urls = rows.length
      var bytes = 0L
      rows.foreach { r =>
        val file = r.getString(0).substring(r.getString(0).lastIndexOf('/') + 1)
        val fetched = r.getString(1) == "fetched"
        if (fetched == d.withheld(file)) wrong += 1
        if (fetched) {
          Files.write(stage.resolve(file), r.getAs[Array[Byte]](3))
          bytes += r.getLong(2)
        }
      }
      if (observe) {
        val ok = rows.count(_.getString(1) == "fetched")
        note("fetch.bytes", bytes.toDouble)
        note("fetch.attempts", FetchProbe.attempts.get.toDouble)
        note("fetch.retries", (FetchProbe.attempts.get - urls).toDouble)
        note("fetch.permanent_fail", rows.count(_.getString(1) == "permanent_fail").toDouble)
        note("fetch.ok_ratio", ok.toDouble / math.max(1, urls))
      }
    }
    if (upTo == "fetch") return (urls, wrong)

    val zObs = new Observation("zipcsv")
    val raw = tracer.span("zipcsv") {
      observed(ZipCsv.read(spark, stage.toString, Decisions.FieldNames), zObs).drop("_src")
    }
    if (upTo == "zipcsv") {
      noop(raw)
      if (observe) {
        val m = zObs.get
        note("zipcsv.rows", m("rows").asInstanceOf[Long].toDouble)
        val staged = Files.list(stage)
        try note("zipcsv.archives", staged.count().toDouble) finally staged.close()
      }
      return (urls, wrong)
    }

    val pObs = new Observation("parse")
    val tsCols = Decisions.Fields.collect { case (n, Decisions.T) => n }
    val parsed = tracer.span("parse") {
      observed(Decisions.parse(raw), pObs,
        sum(when(col("uuid") === "", 1L).otherwise(0L)).as("dropped"),
        sum(tsCols.map(c => when(col(c).isNull, 1L).otherwise(0L)).reduce(_ + _)).as("null_ts"))
        .filter(col("uuid") =!= "")
    }
    if (upTo == "parse") {
      noop(parsed)
      if (observe) {
        val m = pObs.get
        note("parse.rows_dropped", m("dropped").asInstanceOf[Long].toDouble)
        note("parse.null_ts", m("null_ts").asInstanceOf[Long].toDouble)
      }
      return (urls, wrong)
    }

    val (inObs, keptObs) = (new Observation("upsert_in"), new Observation("upsert_kept"))
    val lww = tracer.span("upsert") {
      Upsert.lastWriteWins(observed(parsed, inObs), Seq("uuid"), Decisions.lwwOrder)
        .select(Mirror.OutCols.map(col): _*)
    }
    if (upTo == "upsert") {
      noop(observed(lww, keptObs))
      if (observe) {
        val in = inObs.get("rows").asInstanceOf[Long]
        note("upsert.rows_in", in.toDouble)
        note("upsert.keep_ratio", keptObs.get("rows").asInstanceOf[Long].toDouble / math.max(1L, in))
      }
      return (urls, wrong)
    }

    tracer.span("sink") {
      JdbcUpsertSink.writeOptimistic(lww, url, Table, "uuid", batchSize = 1000,
        connect = CountingConnect(), mergeTypes = Mirror.OutTypes)
    }
    (urls, wrong)
  }

  /** The loaded table, read back through Spark's JDBC source. */
  def tableDigest(url: String): (Long, Long) =
    rowsDigest(spark.read.jdbc(url, Table, new java.util.Properties)
      .select(Mirror.OutCols.map(col): _*).toLocalIterator().asScala.map(_.toSeq))

  /** One full load of `d` into a fresh database holding `preload`,
    * timed from the manifest to the sink's commit, then checked. */
  def load(d: Mirror.Delivery, mirror: Path, preload: Seq[Array[Any]],
           expected: (Long, Long)): Load = {
    val url = createDb(preload)
    SinkProbe.reset()
    probe.drain()
    val t0 = System.nanoTime()
    val (res, err) =
      try (pipeline(d, mirror, url, "sink", observe = false), None)
      catch { case e: Exception => ((d.days.size, 0), Some(rootMessage(e))) }
    val secs = (System.nanoTime() - t0) / 1e9
    val ok = err.isEmpty && tableDigest(url) == expected
    dropDb(url)
    Load(secs, res._1, res._2, SinkProbe.connections.get, SinkProbe.txnFailed.get, ok, err)
  }

  /** A traced load: every prefix of the pipeline is forced on its
    * own, and a layer's self time is the prefix through it minus the
    * prefix before it. */
  def tracedLoad(d: Mirror.Delivery, mirror: Path, preload: Seq[Array[Any]]): Unit = {
    var prev = 0.0
    Layers.foreach { l =>
      val url = if (l == "sink") createDb(preload) else null
      SinkProbe.reset()
      probe.drain()
      probe.current = s"ingest.$l"
      val t0 = System.nanoTime()
      try tracer.span(s"through.$l")(pipeline(d, mirror, url, l, observe = true))
      catch { case e: Exception => System.err.println(s"[perfbench] traced $l: ${rootMessage(e)}") }
      val t = (System.nanoTime() - t0) / 1e9
      probe.drain()
      probe.current = "idle"
      note(s"$l.s", t - prev)
      prev = t
      if (l == "sink") {
        note("sink.batches", SinkProbe.batches.get.toDouble)
        note("sink.commits", SinkProbe.commits.get.toDouble)
        note("sink.rollbacks", SinkProbe.rollbacks.get.toDouble)
        note("sink.dup_key_replays", SinkProbe.dupKeys.get.toDouble)
        note("sink.txn_failed", SinkProbe.txnFailed.get.toDouble)
        dropDb(url)
      }
    }
  }
}

object IngestBench {
  /** Outcome of one load. */
  final case class Load(seconds: Double, urls: Int, urlsWrong: Int,
                        sinkTxns: Long, sinkFailed: Long, tableOk: Boolean, error: Option[String])

  val Table = "decisions"
  /** Pipeline layers in order; a traced load forces each prefix. */
  val Layers: Seq[String] = Seq("manifest", "fetch", "zipcsv", "parse", "upsert", "sink")

  /** Row count and an order-independent hash (the sum of the rows'
    * hashes) of rows given as column values in `Mirror.OutCols` order. */
  def rowsDigest(rows: Iterator[Seq[Any]]): (Long, Long) = {
    var n = 0L
    var h = 0L
    rows.foreach { r => n += 1; h += scala.util.hashing.MurmurHash3.seqHash(r) }
    (n, h)
  }

  def rootMessage(e: Throwable): String = {
    var c = e
    while (c.getCause != null && (c.getCause ne c)) c = c.getCause
    s"${c.getClass.getSimpleName}: ${c.getMessage}".take(300)
  }
}
