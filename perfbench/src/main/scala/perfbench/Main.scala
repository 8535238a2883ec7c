package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** Runs one workload and prints its metrics; the last stdout line is
  * the JSON result.
  *
  *   Main --workload <ingest_fresh|ingest_redelivery|query_mix> --seed <n>
  *        --seconds <s> --trace <0|1> --work <dir> --golden <file>
  *   Main --write-golden <file> --work <dir>
  *
  * One closed-loop client: each operation starts when the previous
  * one has finished, on `local[n]` with n = min(2, cores): the other
  * cores are left to the driver thread, the JIT compilers and the
  * collector, so that they do not queue behind the tasks. */
object Main {
  val Cores: Int = math.min(2, Runtime.getRuntime.availableProcessors)
  val SetupRepeats = 3
  /** Warm-up before timing. A new JVM's first load takes about four
    * times a warm one (class loading, codegen, JIT), and the JIT keeps
    * compiling for many loads after; the ingest warm-up lasts at least
    * this long and three loads. The query mix warms up with one pass. */
  val IngestWarmSeconds = 20.0
  /** Fewest measured operations, whatever `--seconds` says: enough
    * for a median that one slow operation does not move. */
  val MinLoads = 5
  val MinPasses = 3

  final class Result {
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    var attempted = 0L
    var failed = 0L
    def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)
    phase("JVM up")
    val spark = GraftSession.configured(SparkSession.builder()
      .master(s"local[$Cores]").appName("perfbench")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString), Cores.toString)
    val code =
      try {
        opts.get("write-golden") match {
          case Some(out) => writeGolden(spark, work, Paths.get(out)); 0
          case None => run(spark, work, opts)
        }
      } finally spark.stop()
    phase("Spark stopped")
    sys.exit(code)
  }

  private def run(spark: SparkSession, work: Path, opts: Map[String, String]): Int = {
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val tracer = new Tracer(traced, s"$workload-$seed")
    val probe = new RuntimeProbe(spark)
    val r = new Result
    phase("Spark up")
    workload match {
      case "ingest_fresh" | "ingest_redelivery" =>
        runIngest(spark, work, workload, seed, seconds, traced, probe, tracer, r)
      case "query_mix" =>
        runMix(spark, work, seed, seconds, traced, probe, tracer, r, Golden.read(Paths.get(opts("golden"))))
      case other =>
        System.err.println(s"unknown workload $other"); return 2
    }
    if (traced) tracer.write(work.resolve(s"trace-$workload-$seed.jsonl"))
    // a traced run reports the layer metrics only; set-up is timed in both
    val shown = if (traced) r.metrics.filter { case (k, _) => LayerUnits.exists(_._1 == k) } else r.metrics
    shown.foreach { case (k, (v, u)) => println(f"$k%-28s $v%.6g $u") }
    val ms = shown.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    println(s"""{"correct": ${r.failed == 0}, "attempted": ${r.attempted}, "failed": ${r.failed}, """ +
      s""""metrics": {${ms.mkString(", ")}}}""")
    0
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Heap in use after a full collection at the end of the measured
    * operations, in MB: what the workload leaves live. */
  private def liveHeapMb(): Double = {
    // Spark's context cleaner frees shuffle and broadcast blocks only
    // after a collection finds them unreachable: collect, let it run,
    // collect again
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** The p90 latency is reported, not gated: it is defined only with
    * at least 10 samples beyond it, more than a run of this length has. */
  private def printP90(xs: Seq[Double]): Unit =
    println(f"op_p90_s ${Stats.percentile(xs, 0.9)}%.4f s from ${xs.size} samples, " +
      s"${Stats.beyond(xs, 0.9)} beyond it (defined only with at least 10 beyond)")

  private val started = System.nanoTime()
  /** Progress on stderr: what the run is doing, seconds since start. */
  private def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%.1f s: $what")

  private def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  // ---------------------------------------------------------------- ingest

  val FreshCfg: Mirror.Config = Mirror.Config(days = 20, rowsPerDay = 1000)
  val RedeliveryCfg: Mirror.Config = Mirror.Config(days = 12, rowsPerDay = 1500, dupShare = 0.3,
    faultShare = 1.0 / 3, transientFailures = 2, missingDays = 1)

  private def runIngest(spark: SparkSession, work: Path, workload: String, seed: Long,
                        seconds: Double, traced: Boolean, probe: RuntimeProbe, tracer: Tracer,
                        r: Result): Unit = {
    val bench = new IngestBench(spark, work, probe, tracer)
    val redelivery = workload == "ingest_redelivery"
    // set-up: generate the mirror and its expected table, create the
    // database and pre-load it; repeated, the median is reported
    var last: (Mirror.Delivery, Path, Seq[Array[Any]], Vector[Array[Any]]) = null
    val setups = (1 to SetupRepeats).map { i =>
      time {
        val mirror = work.resolve(s"mirror$i")
        Tree.clear(mirror)
        val (deliv, preload, expected) =
          if (redelivery) {
            val (base, again) = Mirror.redelivery(seed, RedeliveryCfg)
            (again, Mirror.expected(Seq(base)), Mirror.expected(Seq(base, again)))
          } else {
            val d = Mirror.fresh(seed, FreshCfg)
            (d, Vector.empty, Mirror.expected(Seq(d)))
          }
        Mirror.write(deliv, mirror)
        bench.dropDb(bench.createDb(preload))
        last = (deliv, mirror, preload, expected)
      }._2
    }
    val (deliv, mirror, preload, expectedRows) = last
    phase("ingest set-up done")
    val expected = IngestBench.rowsDigest(expectedRows.iterator.map(_.toSeq))
    phase("expected table digested")
    r.put("setup_s", Stats.median(setups), "s")

    def account(l: IngestBench.Load): Unit = {
      r.attempted += l.urls + math.max(1L, l.sinkTxns)
      val sinkBad = math.max(l.sinkFailed, if (l.tableOk) 0L else 1L)
      r.failed += l.urlsWrong + sinkBad
      l.error.foreach(e => System.err.println(s"[perfbench] load failed: $e"))
      if (!l.tableOk) System.err.println("[perfbench] loaded table differs from the expected table")
    }

    // warm-up, not counted
    val w0 = System.nanoTime()
    var warm = 0
    while (warm < 3 || (System.nanoTime() - w0) / 1e9 < IngestWarmSeconds) {
      bench.load(deliv, mirror, preload, expected)
      warm += 1
    }
    phase(s"$warm warm-up loads done")
    val loads = mutable.ArrayBuffer.empty[IngestBench.Load]
    if (!traced) {
      val t0 = System.nanoTime()
      while (loads.size < MinLoads || (System.nanoTime() - t0) / 1e9 < seconds) {
        val l = bench.load(deliv, mirror, preload, expected)
        account(l)
        loads += l
      }
      phase(s"${loads.size} measured loads done")
      val secs = loads.map(_.seconds).toSeq
      val rows = deliv.inputRows
      r.put("pass_s", Stats.median(secs), "s")
      r.put("op_p50_s", Stats.median(secs), "s")
      r.put("ok_ratio", 1.0 - Stats.ratio(r.failed, r.attempted), "ratio")
      r.put("heap_live_mb", liveHeapMb(), "MB")
      println("load_s " + secs.map(x => f"$x%.3f").mkString(" "))
      println(f"ingest_rows_per_s ${rows / Stats.median(secs)}%.1f rows/s over $rows input rows, " +
        f"${loads.size} loads (reference: 14.4 M rows in 6 m 19 s, about 38000 rows/s)")
      printP90(secs)
    } else {
      // tracing overhead: untraced loads alternating with loads that
      // have spans and listeners on (each side first in one of the two
      // pairs); then two loads split by layer (medians)
      var gap = 0.0
      val pairs = (1 to 2).map { i =>
        val plainFirst = if (i == 1) Some(bench.load(deliv, mirror, preload, expected)) else None
        probe.start()
        probe.current = "ingest"
        val w0 = System.currentTimeMillis()
        val l = tracer.span("load")(bench.load(deliv, mirror, preload, expected))
        probe.drain()
        val w1 = System.currentTimeMillis()
        gap += (w1 - w0 - probe.jobCoveredMs("ingest", w0, w1)) / 1e3
        probe.current = "idle"
        probe.stop()
        (plainFirst.getOrElse(bench.load(deliv, mirror, preload, expected)), l)
      }
      pairs.foreach { case (a, b) => account(a); account(b) }
      probe.start()
      (1 to 2).foreach(_ => bench.tracedLoad(deliv, mirror, preload))
      probe.stop()
      val u = Stats.median(pairs.map(_._1.seconds))
      val t = Stats.median(pairs.map(_._2.seconds))
      val layers = bench.layer.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap +
        ("spark.driver_gap_s" -> gap / pairs.size)
      putLayers(r, layers, Seq("ingest"), probe, perLoad = pairs.size)
      r.put("trace.overhead_s", t - u, "s")
      r.put("trace.overhead_share", (t - u) / u, "ratio")
    }
  }

  // ---------------------------------------------------------------- query mix

  private def runMix(spark: SparkSession, work: Path, seed: Long, seconds: Double, traced: Boolean,
                     probe: RuntimeProbe, tracer: Tracer, r: Result, golden: Map[String, (Long, Long)]): Unit = {
    // artifacts the queries persist live under the working directory
    Tree.clear(work.resolve("target"))
    val setups = (1 to SetupRepeats).map { i =>
      val dir = work.resolve(s"tables$i")
      Tree.clear(dir)
      time(QueryMix.generate(spark, dir))._2
    }
    r.put("setup_s", Stats.median(setups), "s")
    phase("tables generated")
    val dir = work.resolve(s"tables$SetupRepeats").toString
    val rnd = new scala.util.Random(seed)

    final case class Exec(name: String, seconds: Double, build: Double, ok: Boolean)
    def exec(name: String): Exec = {
      spark.sparkContext.setJobGroup(name, name)
      val t0 = System.nanoTime()
      val res =
        try {
          val (df, b) = time(tracer.span("build")(SparkEntry.queries(name)(spark, dir)))
          val d = tracer.span("exec")(QueryMix.digest(df))
          val ok = golden.get(name).contains(d)
          if (!ok) System.err.println(s"[perfbench] $name: digest $d, expected ${golden.get(name)}")
          (b, ok)
        } catch { case e: Exception =>
          System.err.println(s"[perfbench] $name failed: ${IngestBench.rootMessage(e)}")
          (0.0, false)
        }
      val secs = (System.nanoTime() - t0) / 1e9
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.clearJobGroup()
      Exec(name, secs, res._1, res._2)
    }
    // each pass runs the mix in a new order drawn from the seed; its
    // time is the sum of its executions
    def pass(): (Seq[Exec], Double) = {
      val es = rnd.shuffle(QueryMix.Queries).map(exec)
      (es, es.map(_.seconds).sum)
    }

    pass() // warm-up: JIT, codegen cache, artifacts; not counted
    phase("warm-up pass done")
    def account(es: Seq[Exec]): Unit = {
      r.attempted += es.size
      r.failed += es.count(!_.ok)
    }
    if (!traced) {
      val passes = mutable.ArrayBuffer.empty[(Seq[Exec], Double)]
      val t0 = System.nanoTime()
      while (passes.size < MinPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
        passes += pass()
      }
      phase(s"${passes.size} measured passes done")
      passes.foreach(p => account(p._1))
      val lat = passes.flatMap(_._1.map(_.seconds)).toSeq
      val perQuery = passes.flatMap(_._1).groupBy(_.name).toSeq.sortBy(_._1)
        .map { case (q, es) => q -> Stats.median(es.map(_.seconds).toSeq) }
      // one warm pass: each query at its median over the passes, so one
      // slow execution moves its own query's figure, not the pass's
      r.put("pass_s", perQuery.map(_._2).sum, "s")
      r.put("op_p50_s", Stats.median(lat), "s")
      r.put("ok_ratio", 1.0 - Stats.ratio(r.failed, r.attempted), "ratio")
      r.put("heap_live_mb", liveHeapMb(), "MB")
      printP90(lat)
      println("pass wall times " + passes.map(p => f"${p._2}%.3f").mkString(" ") + " s")
      perQuery.foreach { case (q, m) => println(f"  ${QueryMix.classOf(q)}%-12s $q%-20s median $m%.3f s") }
    } else {
      // tracing overhead: untraced passes alternating with passes that
      // have spans and listeners on; layer numbers are per traced pass
      val layer = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
      def tracedPass(): (Seq[Exec], Double) = {
        probe.start()
        val es = rnd.shuffle(QueryMix.Queries).map { name =>
          probe.current = name
          val (c0, p0, j0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
            probe.get(name, "plan_s"), probe.get(name, "jobs"))
          val w0 = System.currentTimeMillis()
          val e = tracer.span(s"query.$name")(exec(name))
          probe.drain()
          val w1 = System.currentTimeMillis()
          val execS = tracer.all.filter(_.name == "exec").lastOption.map(_.seconds).getOrElse(0.0)
          for (k <- Seq(QueryMix.classOf(name), "total")) {
            layer(s"query.$k.build_s") += e.build
            layer(s"query.$k.exec_s") += execS
            layer(s"query.$k.plan_s") += probe.get(name, "plan_s") - p0
            layer(s"query.$k.jobs") += probe.get(name, "jobs") - j0
            layer(s"query.$k.codegen_compiles") += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
          }
          layer("spark.driver_gap_s") += (w1 - w0 - probe.jobCoveredMs(name, w0, w1)) / 1e3
          probe.current = "idle"
          e
        }
        probe.stop()
        (es, es.map(_.seconds).sum)
      }
      // untraced and traced passes alternate, each side first once
      val first = (pass(), tracedPass())
      val secondTraced = tracedPass()
      val pairs = Seq(first, (pass(), secondTraced))
      pairs.foreach { case ((a, _), (b, _)) => account(a); account(b) }
      val u = Stats.median(pairs.map(_._1._2))
      val t = Stats.median(pairs.map(_._2._2))
      putLayers(r, layer.map { case (k, v) => k -> v / pairs.size }.toMap, QueryMix.Queries, probe,
        perLoad = pairs.size)
      r.put("trace.overhead_s", t - u, "s")
      r.put("trace.overhead_share", (t - u) / u, "ratio")
    }
  }

  /** Layer metrics, in the order and units `BENCHMARK.json` lists
    * them; a layer the workload does not use reports 0. */
  val LayerUnits: Seq[(String, String)] =
    Seq("manifest.s" -> "s", "fetch.s" -> "s", "fetch.bytes" -> "bytes", "fetch.attempts" -> "count",
      "fetch.retries" -> "count", "fetch.permanent_fail" -> "count", "fetch.ok_ratio" -> "ratio",
      "zipcsv.s" -> "s", "zipcsv.rows" -> "count", "zipcsv.archives" -> "count",
      "parse.s" -> "s", "parse.rows_dropped" -> "count", "parse.null_ts" -> "count",
      "upsert.s" -> "s", "upsert.rows_in" -> "count", "upsert.keep_ratio" -> "ratio",
      "sink.s" -> "s", "sink.batches" -> "count", "sink.commits" -> "count",
      "sink.rollbacks" -> "count", "sink.dup_key_replays" -> "count", "sink.txn_failed" -> "count") ++
      ("total" +: QueryMix.Classes.map(_._1)).flatMap { c =>
        Seq(s"query.$c.build_s" -> "s", s"query.$c.plan_s" -> "s", s"query.$c.exec_s" -> "s",
          s"query.$c.jobs" -> "count", s"query.$c.codegen_compiles" -> "count")
      } ++
      Seq("stream.triggers" -> "count", "stream.add_batch_s" -> "s", "stream.planning_s" -> "s",
        "stream.wal_commit_s" -> "s", "stream.state_rows" -> "count",
        "spark.task_s" -> "s", "spark.cpu_s" -> "s", "spark.gc_s" -> "s", "spark.sched_delay_s" -> "s",
        "spark.driver_gap_s" -> "s", "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
        "trace.overhead_s" -> "s", "trace.overhead_share" -> "ratio")

  private def putLayers(r: Result, layer: Map[String, Double], sparkKeys: Seq[String],
                        probe: RuntimeProbe, perLoad: Int): Unit = {
    def sumOf(m: String) = sparkKeys.map(k => probe.get(k, m)).sum / perLoad
    val derived = Map(
      "stream.triggers" -> sumOf("stream_triggers"), "stream.add_batch_s" -> sumOf("stream_add_batch_s"),
      "stream.planning_s" -> sumOf("stream_planning_s"), "stream.wal_commit_s" -> sumOf("stream_wal_commit_s"),
      "stream.state_rows" -> sumOf("stream_state_rows"),
      "spark.task_s" -> sumOf("task_s"), "spark.cpu_s" -> sumOf("cpu_s"), "spark.gc_s" -> sumOf("gc_s"),
      "spark.sched_delay_s" -> sumOf("sched_delay_s"),
      "spark.shuffle_write_bytes" -> sumOf("shuffle_write_bytes"), "spark.spill_bytes" -> sumOf("spill_bytes"))
    LayerUnits.foreach { case (k, u) =>
      if (!k.startsWith("trace.")) r.put(k, layer.getOrElse(k, derived.getOrElse(k, 0.0)), u)
    }
  }

  // ---------------------------------------------------------------- golden

  /** Runs each query of the mix once and writes its digest. */
  private def writeGolden(spark: SparkSession, work: Path, out: Path): Unit = {
    Tree.clear(work.resolve("target"))
    val dir = work.resolve("tables-golden")
    Tree.clear(dir)
    QueryMix.generate(spark, dir)
    val digests = QueryMix.Queries.map { q =>
      val d = QueryMix.digest(SparkEntry.queries(q)(spark, dir.toString))
      spark.sharedState.cacheManager.clearCache()
      System.err.println(s"[perfbench] golden $q $d")
      q -> d
    }
    Golden.write(out, digests)
  }
}

/** Expected (row count, hash) per query of the mix, as JSON. */
object Golden {
  private val Entry = """"([a-z0-9_]+)": \[(-?\d+), (-?\d+)\]""".r

  def read(p: Path): Map[String, (Long, Long)] =
    Entry.findAllMatchIn(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
      .map(m => m.group(1) -> (m.group(2).toLong, m.group(3).toLong)).toMap

  def write(p: Path, ds: Seq[(String, (Long, Long))]): Unit =
    Files.write(p, ds.map { case (q, (n, h)) => s"""  "$q": [$n, $h]""" }
      .mkString("{\n", ",\n", "\n}\n").getBytes(StandardCharsets.UTF_8))
}
