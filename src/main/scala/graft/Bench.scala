package graft
import org.apache.spark.sql.SparkSession

/** Per-round benchmark: runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR, prints one JSON line with per-query seconds.
  *
  * Each query is forced with a `noop`-format write — full
  * materialization of every output column, unlike count(), under
  * which Catalyst prunes the projected expressions and map-only
  * queries measure as bare scan time. One-time fixtures (bucketed
  * tables, partitioned events, the zipcsv archive, the corpus LSH
  * band index) are built BEFORE the timed loop so timings measure
  * plans, not fixture IO. A query that throws is reported in a
  * separate "failed" list (timing -1), never as a normal-looking
  * number.
  *
  * Every query runs THREE times at the headline SF: one cold pass
  * (`queries`/`value` — comparable with earlier rounds) and two warm
  * passes reported as their minimum (`queries_warm`/`warm_total`).
  * Cold numbers on a loaded box carry 3-30× first-run Janino/JIT
  * compile noise on the codegen-heavy queries (measured round 5:
  * same commit, 262 s idle vs 681 s loaded, the gap concentrated on
  * exactly those queries); the warm minimum is the steady-state plan
  * cost, so regressions in the PLAN are visible even when the driver
  * box is busy.
  *
  * Self-diagnostics the consumers should trust over raw numbers:
  *
  *  - `noisy`: queries whose warm minimum exceeded their cold time —
  *    impossible absent external load (warm reuses everything cold
  *    paid for), so their timings this run are contention artifacts,
  *    not plan costs. Chase regressions only on non-noisy queries.
  *  - `queries_slope` / `slope_flagged`: per-query ratio of headline
  *    warm time to warm time at a [[SlopeDiv]]×-smaller SF (two
  *    passes, min). A linear-scaling query's ratio is ≤ the corpus
  *    growth factor (usually far below it — fixed overheads dominate
  *    at the small SF); a reducer-bound or superlinear shape shows a
  *    ratio well ABOVE it. Flagged when slope > growth × 1.5 (the
  *    slack absorbs timer noise on sub-100 ms denominators). An
  *    empty flagged set is the claim "no query's cost grows faster
  *    than the data"; each member must have a documented reason.
  *  - `queries_start`: each query's wall-clock start offset (seconds
  *    since sweep start) — localizes a mid-run contention episode
  *    to a time window instead of leaving it implied by sort order.
  *  - `warm_transient` vs `warm_regressed`: cross-run flags are
  *    re-measured once at end-of-run; flags that clear move to
  *    `warm_transient` (a time-windowed box episode), flags that
  *    persist stay in `warm_regressed` (see BenchDrift.splitTransient).
  *    Since r13 the split is self-cleaning under contention: a flag
  *    that is simultaneously `noisy` auto-discounts to transient,
  *    and when the calibration re-read taken just before the
  *    re-measure pass (`calib_par_pre_remeasure_ms` vs
  *    `calib_par_run0_ms`) says the box is still contended, ALL
  *    flags land in transient with `remeasure_contended`: true —
  *    a contended window cannot confirm its own phantoms.
  */
/** Cross-RUN warm-regression detection — the `noisy` flag's blind
  * spot (r9: stream_enrich measured 4.04 s warm, 2× every other run,
  * and passed warm<cold because cold was slower still). Each bench
  * compares its warm times against the PRIOR committed
  * bench_last.json and flags queries whose warm minimum grew by more
  * than [[Ratio]]. The flag is advisory by construction: the bench
  * cannot know which queries' CODE changed between runs, so the
  * consumer crosses out intentionally-changed queries and
  * investigates the rest (an unchanged query should never regress
  * 1.5× warm on the same box without a cause). Pure functions, so
  * the planted-regression spec exercises them directly. */
object BenchDrift {
  /** Warm-growth factor that flags. */
  val Ratio = 1.5

  /** Ignore queries under this warm time — sub-second marks carry
    * timer/JIT noise well past [[Ratio]]. */
  val FloorSec = 0.3

  /** Extract the queries_warm map from a committed bench_last.json
    * line (the writer's own fixed shape — flat string keys, numeric
    * values, no nesting inside the object). */
  def parseWarm(json: String): Map[String, Double] = {
    val body = """"queries_warm":\{([^}]*)\}""".r
      .findFirstMatchIn(json).map(_.group(1)).getOrElse("")
    body.split(",").filter(_.nonEmpty).flatMap { kv =>
      kv.split(":") match {
        case Array(k, v) =>
          scala.util.Try(k.replaceAll("\"", "") -> v.toDouble).toOption
        case _ => None
      }
    }.toMap
  }

  /** (name, priorWarm, nowWarm) for every query past the floor whose
    * warm time grew by more than [[Ratio]] vs the prior run. */
  def regressed(prior: Map[String, Double],
                now: Seq[(String, Double)]): Seq[(String, Double, Double)] =
    now.flatMap { case (k, w) =>
      prior.get(k).filter(p => p > 0 && w > FloorSec && w > p * Ratio)
        .map(p => (k, p, w))
    }.sortBy { case (_, p, w) => -(w - p) }

  /** Single-thread integer-spin calibration, milliseconds — a box-
    * speed fingerprint emitted as `calib_ms` next to the timings.
    * The r9→r10 lesson: `warm_regressed` comparisons often span
    * boxes or load states (judge vs builder), and a 2× "regression"
    * can be the BOX, not the plan; a prior/now calib ratio far from
    * 1 tells the consumer to discount the flags before bisecting
    * code. Pure ALU loop (no allocation, no syscalls) so it tracks
    * core speed under contention, not JIT or IO state. */
  def calibMs(): Double = {
    var x = 0L
    val t0 = System.nanoTime()
    var i = 0L
    while (i < 50000000L) {
      x ^= java.lang.Long.rotateLeft(x + i * 0x9E3779B97F4A7C15L, 17)
      i += 1
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (x == 42L) Console.err.println(x) // defeat dead-code elimination
    ms
  }

  /** Extract a prior run's top-level numeric field, if recorded. */
  def parseNum(json: String, key: String): Option[Double] =
    (""""""" + key + """":([0-9.]+)""").r.findFirstMatchIn(json)
      .flatMap(m => scala.util.Try(m.group(1).toDouble).toOption)

  /** Extract the prior run's calib_ms, if recorded. */
  def parseCalib(json: String): Option[Double] = parseNum(json, "calib_ms")

  /** Extract a prior run's top-level string field, if recorded. */
  def parseStr(json: String, key: String): Option[String] =
    (""""""" + key + """":"([^"]*)"""").r.findFirstMatchIn(json)
      .map(_.group(1))

  /** The prior warm timings USABLE for drift against a run at
    * `sfDir` — empty when the committed prior was taken at a
    * DIFFERENT SF (e.g. a local sf0.001 smoke overwrote
    * bench_last.json): cross-SF priors would phantom-flag the whole
    * suite (sf0.1 warm vs sf0.001 prior is ~10× everywhere). One
    * mismatched round self-heals — the run still writes itself as
    * the new prior, so the next same-SF run compares normally. */
  def priorWarmFor(priorJson: String, sfDir: String): Map[String, Double] =
    parseStr(priorJson, "sf") match {
      case Some(priorSf) if priorSf != sfDir => Map.empty
      case _ => parseWarm(priorJson)
    }

  /** PARALLEL-spin calibration, milliseconds of wall time for
    * `threads` concurrent copies of the [[calibMs]] loop — the
    * fingerprint [[calibMs]] cannot be: the r10 driver run measured
    * calib 0.877× (box FASTER single-threaded) yet ran the 32-way
    * bench 1.22× slower, because background load steals whole cores
    * without slowing any single spinning thread. On an idle box with
    * ≥ threads cores the wall time ≈ the single-thread time; under
    * contention it grows with the stolen-core fraction, so a
    * prior/now ratio far above 1 marks the run's 32-way throughput —
    * and therefore its warm timings — as contention-suspect. */
  def calibParMs(threads: Int = 32): Double = {
    val sink = new java.util.concurrent.atomic.AtomicLong()
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { k =>
      val th = new Thread(() => {
        var x = k.toLong
        var i = 0L
        while (i < 50000000L) {
          x ^= java.lang.Long.rotateLeft(x + i * 0x9E3779B97F4A7C15L, 17)
          i += 1
        }
        sink.addAndGet(x) // defeat dead-code elimination
      })
      th.start(); th
    }
    ts.foreach(_.join())
    val ms = (System.nanoTime() - t0) / 1e6
    if (sink.get() == 42L) Console.err.println(sink)
    ms
  }

  /** Parallel-ratio ceiling past which `warm_regressed` flags are
    * emitted as contention-suspect (`drift_discounted`: true). Set
    * BELOW the r10 incident's 1.22× whole-suite slowdown so that
    * class of phantom regression is caught; the idle-box run-to-run
    * jitter observed on this loop is a few percent, far under it. */
  val ParDriftMax = 1.15

  /** True when the parallel fingerprint says this run's 32-way
    * throughput is materially worse than the prior run's — consumers
    * should treat `warm_regressed` as box contention, not plan
    * regressions, and re-measure on an idle box before bisecting.
    * A ratio BELOW 1 (current box faster) never discounts: any flag
    * that still fires on a faster box is at least as real. */
  def discountDrift(parRatio: Option[Double]): Boolean =
    parRatio.exists(_ > ParDriftMax)

  /** Either-stamp discount: contention (parallel spin) OR degraded
    * scan path ([[calibScanMs]]) marks the run's warm flags suspect.
    * The r11-continuation incident motivated the second stamp: a box
    * ran scan-heavy sub-second queries 1.5-4× slower (q1_agg
    * 0.24→0.81 s warm, worktree cross-check flat) while BOTH spin
    * fingerprints read ~1.0 — pure-ALU loops cannot see I/O /
    * page-cache / VM-scheduler state. */
  def discountDrift(parRatio: Option[Double], scanRatio: Option[Double]): Boolean =
    discountDrift(parRatio) || scanRatio.exists(_ > ParDriftMax)

  /** Any-stamp discount, with the r13 EXCHANGE fingerprint
    * ([[calibShuffleMs]]) as the third axis. The r13 incident that
    * motivated it: 28 warm flags on untouched queries, all phantom
    * (idle QProbe re-runs mid-band, an r12-code worktree A/B on the
    * same box equal-or-slower than r13) — the new box ran real
    * shuffle-bound queries ~2× slower than the prior box while
    * reading 2.1× FASTER on both ALU spins and flat on the scan
    * stamp. Spin sees cores, scan sees the read path; neither sees
    * the exchange path (row serialization, shuffle spill writes,
    * memory bandwidth) that dominates wide-plan queries. */
  def discountDrift(parRatio: Option[Double], scanRatio: Option[Double],
                    shuffleRatio: Option[Double]): Boolean =
    discountDrift(parRatio, scanRatio) ||
      shuffleRatio.exists(_ > ParDriftMax)

  /** End-of-run re-measure verdict on the warm_regressed flags. The
    * r11 driver incident this answers: 41 queries flagged up to 16×
    * (dedup_clusters 1.78→18.7 s, html_extract slope 43) in ONE
    * contiguous band of the alphabetical sweep order — a time-windowed
    * box contention episode mid-run that the three run-LEVEL calib
    * stamps could say was suspect but could not localize; an idle
    * re-run reproduced none of it. The localizer is mechanical: after
    * the sweep, re-measure just the flagged set once; a flag whose
    * re-measured warm time is back within [[Ratio]] of its prior has
    * CLEARED — the episode ended, the plan is fine — and moves to the
    * `warm_transient` field ((prior, flagged, re-measured) triple). A
    * flag that still exceeds prior×[[Ratio]] (or whose re-measure
    * failed: no evidence of clearing) stays in `warm_regressed`.
    * Returns (persistent, transient).
    *
    * Two further auto-discounts (the r12 driver run published 13
    * flags, ALL phantom on an idle re-run — both holes below were
    * open at once):
    *  - `noisy` flags: a query whose warm minimum exceeded its own
    *    cold time in THIS run measured external load, not a plan
    *    (warm > cold is impossible absent contention) — it cannot
    *    simultaneously count as evidence of a regression, so it
    *    lands in `warm_transient` regardless of its re-measure.
    *  - `remeasureContended`: when the calibration re-read taken
    *    IMMEDIATELY BEFORE the re-measure pass says the box is still
    *    contended vs this run's own start-of-run parallel stamp, the
    *    re-measure window cannot confirm its own phantoms — a
    *    non-clearing re-measure is no evidence either way, so every
    *    flag lands in `warm_transient` (the run also stamps
    *    `remeasure_contended`: true so a consumer knows why). */
  def splitTransient(flags: Seq[(String, Double, Double)],
                     re: Map[String, Double],
                     noisy: Set[String] = Set.empty,
                     remeasureContended: Boolean = false)
      : (Seq[(String, Double, Double)], Seq[(String, Double, Double, Double)]) = {
    val transient = flags.flatMap { case (k, p, w) =>
      val r = re.getOrElse(k, -1.0)
      val cleared = r > 0 && r <= p * Ratio
      if (cleared || noisy(k) || remeasureContended) Some((k, p, w, r))
      else None
    }
    val moved = transient.map(_._1).toSet
    (flags.filterNot(f => moved(f._1)), transient)
  }

  /** SCAN-shaped calibration, milliseconds — the third fingerprint:
    * a fixed parquet read + aggregate over the smallest table, min of
    * `passes` (first pass additionally warms the footer cache; min
    * discards it). Times the whole scan path — file listing, footer
    * decode, column read, codegen'd agg — the layer the spin
    * fingerprints are blind to. Table choice is deliberate: nation is
    * SF-INVARIANT (25 rows at every scale), so the stamp is
    * comparable across runs AND scales, a pure box-path probe that
    * never grows with the corpus. */
  def calibScanMs(spark: SparkSession, sfDir: String, passes: Int = 3): Double = {
    val times = (1 to passes).map { _ =>
      val t0 = System.nanoTime()
      spark.read.parquet(s"$sfDir/nation.parquet")
        .agg(org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.col("n_nationkey"))).collect()
      (System.nanoTime() - t0) / 1e6
    }
    times.min
  }

  /** EXCHANGE-shaped calibration, milliseconds — the fourth
    * fingerprint: a fixed synthetic 4M-row, 32-partition hash
    * exchange (range → modulo keys → groupBy count), min of
    * `passes`. Times the layer every wide plan pays and the other
    * three stamps are blind to: row serialization, shuffle write +
    * fetch, hash-aggregate memory traffic. Corpus-free by
    * construction, so the stamp is comparable across runs, scales
    * and boxes; see the r13 incident note on [[discountDrift]]. */
  def calibShuffleMs(spark: SparkSession, passes: Int = 3): Double = {
    val times = (1 to passes).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0, 4000000L, 1, 32)
        .selectExpr("id % 100000 AS k")
        .groupBy("k").count()
        .agg(org.apache.spark.sql.functions.sum("count")).collect()
      (System.nanoTime() - t0) / 1e6
    }
    times.min
  }
}

object Bench {

  /** Headline-to-slope corpus growth factor: sf0.1 vs sf0.01. */
  val SlopeDiv = 10.0

  /** Flag slack over the growth factor (timer noise on small
    * denominators). */
  val SlopeSlack = 1.5

  /** Builds, outside the timed path, every write-once artifact and
    * fixture the suite reads: each is an
    * [[graft.ingest.ArtifactCache.Artifact]] under `target/graft_*`
    * keyed by its source tables' token, so a call whose artifacts
    * exist builds nothing. The bucketed tables are session-catalog
    * state, written once per JVM and scale. */
  private def buildFixtures(spark: SparkSession, sfDir: String): Unit = {
    operators.ScalePatterns.ensureBucketed(spark, sfDir)
    operators.ScalePatterns.ensureDrift(spark, sfDir)
    operators.ScalePatterns.compactFiles(spark, sfDir) // builds both event layouts
    ingest.ZipFixture.ensure(spark, sfDir)
    ingest.CsvBadFixture.ensure(spark, sfDir)
    ingest.JsonlFixture.ensure(spark, sfDir)
    ingest.OrcFixture.ensure(spark, sfDir)
    ingest.FetchFixture.ensure(spark, sfDir)
    ingest.DecisionFixture.ensure(spark, sfDir)
    operators.Maintenance.ensureIvmView(spark, sfDir) // ivm_agg/stream_ivm read it
    operators.Dedup.ensureCorpusIndex(spark, sfDir) // dedup_incremental reads it
    operators.Dedup.ensurePairStats(spark, sfDir) // the exact-similarity family reads it
    operators.Dedup.ensureMinhashSig(spark, sfDir) // minhash_est/band_tune read it
    operators.Ann.ensureKnnTopk(spark, sfDir) // knn_join/knn_label_eval read it
    operators.Ann.ensureAnnRanked(spark, sfDir) // the eval trio reads it
    operators.Dedup.ensureClusterLabels(spark, sfDir) // dedup_apply reads it
    operators.CorpusClean.ensureBpeTokens(spark, sfDir) // bpe_apply reads it
    operators.Graph.ensureCoEdges(spark, sfDir) // the graph family reads it
    operators.Graph.ensurePurchasePairs(spark, sfDir) // hits_scores reads it
    operators.Graph.ensureLvLabels(spark, sfDir) // louvain_move + leiden_refine read it
    operators.Dedup.ensureLshPairs(spark, sfDir) // dedup_clusters reads it
    operators.CorpusClean.ensureLmScores(spark, sfDir) // the gate/bucket family reads it
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the smaller scale for the slope probe; empty disables it
    val slopeDir = sys.env.getOrElse("SPARK_GRAFT_SLOPE_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.configured(
      SparkSession.builder().master(s"local[$cpus]").appName("graft-bench"), cpus)
    // warm the session: JVM + parquet footer caches, tiny plan
    spark.read.parquet(s"$sfDir/nation.parquet").count()
    // one-time fixtures outside the timed path (both scales)
    buildFixtures(spark, sfDir)
    val doSlope = slopeDir.nonEmpty && new java.io.File(slopeDir).isDirectory
    if (doSlope) buildFixtures(spark, slopeDir)

    def once(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
             dir: String): Double = {
      val t0 = System.nanoTime()
      val ok =
        try {
          fn(spark, dir).write.format("noop").mode("overwrite").save(); true
        } catch { case scala.util.control.NonFatal(_) => false }
      // drop caches a query persisted for its own internal reuse:
      // timings stay independent and executor memory stays flat
      // across the 120+ query loop
      spark.sharedState.cacheManager.clearCache()
      if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
    }

    // per-query wall-clock start offsets (seconds since sweep start)
    // go out as `queries_start`: when a contention episode hits
    // mid-run, the ≥Ratio flags cluster in one WINDOW of these
    // offsets (the r11 driver incident showed as one contiguous
    // alphabetical band) — the offsets let a consumer see the window
    // directly instead of inferring it from sort order.
    // start-of-run parallel stamp: the within-run reference the
    // pre-re-measure contention re-read compares against (prior-run
    // stamps can be a different box; this one cannot)
    val calibPar0 = BenchDrift.calibParMs()
    val sweepT0 = System.nanoTime()
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val start = (System.nanoTime() - sweepT0) / 1e9
      val cold = once(fn, sfDir)
      val warm =
        if (cold < 0) -1.0
        else math.min(once(fn, sfDir), once(fn, sfDir)) match {
          case w if w < 0 => -1.0; case w => w
        }
      (name, cold, warm, start)
    }
    // slope probe at the smaller SF: two passes, min — these timings
    // only feed the ratio, never the headline numbers
    val slopeTimes: Map[String, Double] =
      if (!doSlope) Map.empty
      else SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val a = once(fn, slopeDir)
        val b = if (a < 0) -1.0 else once(fn, slopeDir)
        name -> (if (a < 0 || b < 0) -1.0 else math.min(a, b))
      }.toMap

    // 3-decimal seconds keep the line short. The headline numbers go
    // out TWICE: a compact summary-only line FIRST (metric
    // "total_summary", short enough that no capture truncates it),
    // then the full per-query line (metric "total") — distinct metric
    // names so line-scanning consumers can never double-count. The
    // full line is ALSO written to bench_last.json (committed with
    // the round snapshot) so stdout truncation can never lose data.
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    def qjson(sel: ((String, Double, Double, Double)) => Double) =
      results.map(t => "\"" + t._1 + "\":" + r3(sel(t))).mkString("{", ",", "}")
    val failed = results.collect { case (k, c, _, _) if c < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val noisySet = results.collect {
      case (k, c, w, _) if c >= 0 && w > c => k
    }.toSet
    val noisy = noisySet.toSeq.sorted.map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val slopes: Seq[(String, Double)] = results.collect {
      case (k, _, w, _) if w > 0 && slopeTimes.getOrElse(k, -1.0) > 0 =>
        k -> r3(w / slopeTimes(k))
    }
    val slopeJson = slopes.map { case (k, s) => "\"" + k + "\":" + s }
      .mkString("{", ",", "}")
    val slopeFlagged = slopes.collect {
      case (k, s) if s > SlopeDiv * SlopeSlack => "\"" + k + "\""
    }.mkString("[", ",", "]")
    val total = r3(results.collect { case (_, c, _, _) if c >= 0 => c }.sum)
    val warmTotal = r3(results.collect { case (_, _, w, _) if w >= 0 => w }.sum)
    // cross-run drift vs the PRIOR committed bench_last.json, read
    // before this run overwrites it (see BenchDrift)
    val priorJson =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("bench_last.json"))
      catch { case scala.util.control.NonFatal(_) => "" }
    val priorWarm = BenchDrift.priorWarmFor(priorJson, sfDir)
    val drift = BenchDrift.regressed(priorWarm,
      results.collect { case (k, _, w, _) if w > 0 => (k, w) })
    // end-of-run re-measure of JUST the flagged set (one warm pass
    // each, sweep-order): flags that clear were a mid-run contention
    // episode, not a plan regression — see BenchDrift.splitTransient.
    // Calibration re-read FIRST: if the box is still contended vs
    // this run's own start-of-run stamp, the re-measure window can't
    // confirm its own phantoms (the r12 driver run did exactly that).
    val calibParPre = BenchDrift.calibParMs()
    val remeasureContended =
      calibPar0 > 0 && calibParPre / calibPar0 > BenchDrift.ParDriftMax
    val reMeasured: Map[String, Double] = drift.map { case (k, _, _) =>
      k -> once(SparkEntry.queries(k), sfDir)
    }.toMap
    val (persistent, transient) =
      BenchDrift.splitTransient(drift, reMeasured, noisySet, remeasureContended)
    val driftJson = persistent.map { case (k, p, w) =>
      "\"" + k + "\":[" + r3(p) + "," + r3(w) + "]"
    }.mkString("{", ",", "}")
    val transientJson = transient.map { case (k, p, w, r) =>
      "\"" + k + "\":[" + r3(p) + "," + r3(w) + "," + r3(r) + "]"
    }.mkString("{", ",", "}")
    // box-speed fingerprints: single-thread calib (core speed) AND a
    // 32-way parallel spin (whole-box throughput — the one contention
    // actually moves; see BenchDrift.calibParMs). Each with its
    // prior/now ratio; a parallel ratio past ParDriftMax stamps
    // drift_discounted=true, telling consumers the warm_regressed
    // flags are contention artifacts until re-measured idle.
    val calib = BenchDrift.calibMs()
    val calibPar = BenchDrift.calibParMs()
    // third fingerprint: the scan path (I/O + footer + codegen agg)
    // over the SF-invariant 25-row nation table — the layer the two
    // pure-ALU spins are blind to (the r11-continuation incident)
    val calibScan = BenchDrift.calibScanMs(spark, sfDir)
    val calibShuffle = BenchDrift.calibShuffleMs(spark)
    val calibRatio = BenchDrift.parseCalib(priorJson).map(p => r3(calib / p))
    val calibParRatio =
      BenchDrift.parseNum(priorJson, "calib_par_ms").map(p => r3(calibPar / p))
    val calibScanRatio =
      BenchDrift.parseNum(priorJson, "calib_scan_ms").map(p => r3(calibScan / p))
    val calibShuffleRatio = BenchDrift.parseNum(priorJson, "calib_shuffle_ms")
      .map(p => r3(calibShuffle / p))
    val discounted = BenchDrift.discountDrift(calibParRatio, calibScanRatio,
      calibShuffleRatio)
    val common = s""""value":$total,"unit":"sec","warm_total":$warmTotal,""" +
      s""""n_queries":${results.size},"n_failed":${results.count(_._2 < 0)},""" +
      s""""sf":"$sfDir","failed":$failed,"noisy":$noisy,""" +
      s""""slope_flagged":$slopeFlagged,"warm_regressed":$driftJson,""" +
      s""""warm_transient":$transientJson,""" +
      s""""drift_discounted":$discounted,""" +
      s""""remeasure_contended":$remeasureContended,""" +
      s""""calib_par_run0_ms":${r3(calibPar0)},""" +
      s""""calib_par_pre_remeasure_ms":${r3(calibParPre)},""" +
      s""""calib_ms":${r3(calib)},"calib_par_ms":${r3(calibPar)},""" +
      s""""calib_scan_ms":${r3(calibScan)},""" +
      s""""calib_shuffle_ms":${r3(calibShuffle)}""" +
      calibRatio.map(r => s""","calib_vs_prior":$r""").getOrElse("") +
      calibParRatio.map(r => s""","calib_par_vs_prior":$r""").getOrElse("") +
      calibScanRatio.map(r => s""","calib_scan_vs_prior":$r""").getOrElse("") +
      calibShuffleRatio.map(r => s""","calib_shuffle_vs_prior":$r""").getOrElse("")
    val summary = s"""{"metric":"total_summary",$common}"""
    val line = s"""{"metric":"total",$common,"queries":${qjson(_._2)},""" +
      s""""queries_warm":${qjson(_._3)},"queries_start":${qjson(_._4)},""" +
      s""""queries_slope":$slopeJson}"""
    println(summary)
    println(line)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_last.json"), line + "\n")
    catch { case scala.util.control.NonFatal(_) => () }
    spark.stop()
  }
}
