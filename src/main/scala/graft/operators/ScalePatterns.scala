package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.ingest.ArtifactCache.Artifact

/** Scale patterns as first-class operators (SURVEY.md §5): each
  * demonstrates — with an exact oracle, since none of them changes
  * the RESULT — the plan shape that survives 100× data growth.
  */
object ScalePatterns {

  val Salts = 16

  /** Salted two-phase aggregation: groupBy on a low-cardinality /
    * skewed key first aggregates on (key, salt) — spreading each hot
    * key over [[Salts]] reducers — then combines partials. Result is
    * identical to the direct groupBy (sums are associative), so the
    * oracle is the plain GROUP BY. */
  def skewAgg(s: SparkSession, dir: String): DataFrame =
    // money sums ride DECIMAL (the sessionize convention): a double
    // sum is order-dependent and the salted two-phase order differs
    // from any single-pass order — decimal partials make phase-2
    // combining EXACT, which is also what makes "result identical to
    // the direct groupBy" literally true (sf0.1 lesson: double sums
    // of exact-cent values diverge across engines at this volume)
    events(s, dir)
      .withColumn("salt", pmod(col("event_id"), lit(Salts)))
      .groupBy(col("event_type"), col("salt"))
      .agg(count(lit(1)).as("pn"),
        sum(col("value").cast("decimal(28,2)")).as("pv"))
      .groupBy(col("event_type"))
      .agg(sum(col("pn")).as("n"),
        graft.Portable.pround(sum(col("pv")).cast("double"), 4).as("sum_value"))

  val skewAggSql: String =
    """SELECT event_type, count(*) AS n,
      |  floor((sum(CAST(value AS DECIMAL(28,2)))::DOUBLE) * 10000.0 + 0.5) / 10000.0 AS sum_value
      |FROM events GROUP BY event_type""".stripMargin

  /** H19: salted skewed JOIN — [[skewAgg]]'s sibling for joins. A
    * fact table joining on a low-cardinality key (event_type: 5
    * values) funnels each hot key through ONE reducer in a plain
    * shuffle join; salting the fact side and replicating the dim
    * side [[Salts]]× makes the join key (type, salt), spreading every
    * hot key over [[Salts]] reducers. The dim replication costs
    * dim×Salts rows — nothing at any scale — and the result equals
    * the plain join (the oracle). The merge hint keeps it a shuffle
    * join at toy scale where AQE would broadcast and hide the
    * property under test. */
  def skewJoin(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
      .withColumn("salt", pmod(col("event_id"), lit(Salts)))
    val dim = e.groupBy(col("event_type"))
      .agg(length(min(col("event_type"))).cast("long").as("w"))
    val saltedDim = dim.withColumn("salt",
      explode(sequence(lit(0L), lit(Salts - 1L))))
    e.join(saltedDim.hint("merge"), Seq("event_type", "salt"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        // decimal(2-dec value) × integer weight is exact → the sum is
        // order-independent (the skewAgg sf0.1 lesson)
        graft.Portable.pround(
          sum(col("value").cast("decimal(28,2)") * col("w")).cast("double"),
          4).as("weighted"))
  }

  val skewJoinSql: String =
    """SELECT e.event_type, count(*) AS n,
      |  floor((sum(CAST(e.value AS DECIMAL(28,2)) * d.w)::DOUBLE) * 10000.0 + 0.5) / 10000.0 AS weighted
      |FROM events e
      |JOIN (SELECT event_type, length(min(event_type))::BIGINT AS w
      |      FROM events GROUP BY 1) d
      |  ON e.event_type = d.event_type
      |GROUP BY e.event_type""".stripMargin

  /** Bucketed co-located join: orders and lineitem written bucketed
    * by the join key (one-time fixture, like a warehouse's bucketed
    * tables), then joined WITHOUT a shuffle — the spec asserts the
    * join plan has no Exchange. At 100 TB this is the difference
    * between re-shuffling the fact table per query and reading
    * co-located buckets. Result (and oracle) = the plain join. */
  def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val (ordersB, lineitemB) = ensureBucketed(s, dir)
    val o = s.table(ordersB)
    val l = s.table(lineitemB)
    // merge hint: at toy scale AQE would broadcast instead, hiding
    // the property under test — bucketed SMJ with no exchange/sort
    l.join(o.hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        // decimal sum: the double sum of ~120k exact-cent prices per
        // priority group diverged from DuckDB's accumulation order at
        // sf0.1 (…45.86 vs …45.8599 — the first cross-engine float-sum
        // boundary hit, caught by the r11 sf0.1 sweep)
        graft.Portable.pround(
          sum(col("l_extendedprice").cast("decimal(28,2)")).cast("double"),
          4).as("sum_price"))
  }

  val bucketedJoinSql: String =
    """SELECT o_orderpriority, count(*) AS n_lines,
      |  floor((sum(CAST(l_extendedprice AS DECIMAL(28,2)))::DOUBLE) * 10000.0 + 0.5) / 10000.0 AS sum_price
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority""".stripMargin

  /** One-time bucketed-table fixture per orders/lineitem content (16
    * buckets on the join key, sorted within buckets → shuffle-free
    * sort-merge). The bucket spec lives in the session catalog, not
    * in the files, so these are catalog tables rather than artifact
    * dirs; their names carry the sources'
    * [[graft.ingest.ArtifactCache.token]], so each scale keeps its own
    * pair. Returns the (orders, lineitem) table names; the lock
    * serializes the drop-and-recreate of shared catalog state. */
  def ensureBucketed(s: SparkSession, dir: String): (String, String) = synchronized {
    val tag = graft.ingest.ArtifactCache.token(dir, Seq("orders", "lineitem"), "buckets=16")
    val names @ (ordersB, lineitemB) = (s"orders_b_$tag", s"lineitem_b_$tag")
    if (!s.catalog.tableExists(ordersB) || !s.catalog.tableExists(lineitemB)) {
      // the warehouse dir outlives the in-memory catalog across JVMs;
      // clear both so saveAsTable never hits LOCATION_ALREADY_EXISTS
      Seq(ordersB, lineitemB).foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        graft.ingest.ArtifactCache.deleteTree(java.nio.file.Paths.get(
          s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t))
      }
      orders(s, dir).select("o_orderkey", "o_orderpriority")
        .write.mode("overwrite").bucketBy(16, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(ordersB)
      lineitem(s, dir).select("l_orderkey", "l_extendedprice")
        .write.mode("overwrite").bucketBy(16, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(lineitemB)
    }
    names
  }

  /** Partition-pruned scan: events written date-partitioned (the
    * daily-dump staging layout from SURVEY §5), then aggregated with
    * a partition filter — the scan touches only matching partitions
    * (spec asserts the pruning). Oracle = same filter on the flat
    * table. */
  def prunedScan(s: SparkSession, dir: String): DataFrame = {
    s.read.parquet(ensurePartitioned(s, dir))
      .filter(col("d") >= "2024-01-10" && col("d") <= "2024-01-12")
      .groupBy(col("d"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("d").cast("string").as("d"), col("event_type"), col("n"))
  }

  val prunedScanSql: String =
    """SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS d, event_type, count(*) AS n
      |FROM events
      |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-10 00:00:00'
      |  AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-13 00:00:00'
      |GROUP BY 1, 2""".stripMargin

  /** K-line: DYNAMIC partition pruning — the other half of
    * [[prunedScan]]'s static story, and the one that matters for star
    * joins at 100 TB: the selective predicate lives on the DIM side
    * (weekday of the date dim), so no static filter can reach the
    * fact scan; Spark instead plants a DynamicPruningExpression on
    * the fact's partition listing, fed by the broadcast dim — only
    * matching day-partitions are read at runtime. The spec asserts
    * the `dynamicpruning` partition filter is in the executed plan;
    * the oracle replays the join's semantics on the flat table. */
  def dppJoin(s: SparkSession, dir: String): DataFrame = {
    val fact = s.read.parquet(ensurePartitioned(s, dir))
    // date dim with an attribute the fact doesn't carry; Mondays only
    val dim = fact.select(col("d")).distinct()
      .filter(weekday(col("d").cast("date")) === 0)
    fact.join(broadcast(dim), "d")
      .groupBy(col("d"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("d").cast("string").as("d"), col("event_type"), col("n"))
  }

  val dppJoinSql: String =
    """WITH ev AS (
      |  SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS d, event_type
      |  FROM events)
      |SELECT d, event_type, count(*) AS n
      |FROM ev WHERE isodow(CAST(d AS DATE)) = 1
      |GROUP BY 1, 2""".stripMargin

  /** The events table written date-partitioned (`d=yyyy-MM-dd`) —
    * the daily-dump staging layout. */
  val EventsByDay: Artifact = Artifact("events_by_day", Seq("events"), "d=yyyy-MM-dd")

  def ensurePartitioned(s: SparkSession, dir: String): String =
    EventsByDay.ensure(dir) { out =>
      events(s, dir)
        .withColumn("d", date_format(col("ts"), "yyyy-MM-dd"))
        .write.mode("overwrite").partitionBy("d").parquet(out)
    }

  /** Z-curve bit width per dimension (20-bit z-values). */
  val ZBits = 10

  /** Interleave the low [[ZBits]] bits of x (even positions) and y
    * (odd positions) — Morton code, pure codegen'd integer algebra. */
  private def zInterleave(x: org.apache.spark.sql.Column,
                          y: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until ZBits).map { i =>
      shiftright(x, i).bitwiseAND(lit(1L)) * (1L << (2 * i)) +
        shiftright(y, i).bitwiseAND(lit(1L)) * (1L << (2 * i + 1))
    }.reduce(_ + _)

  private def zInterleaveSql(x: String, y: String): String =
    (0 until ZBits).map { i =>
      s"(($x >> $i) & 1) * ${1L << (2 * i)} + (($y >> $i) & 1) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")

  /** H12: Z-order layout — the multi-dimensional clustering a 100 TB
    * table needs when queries filter on TWO dimensions (user AND
    * time): sorting by the Morton z-value groups rows into tiles
    * that are compact in both, so min/max file statistics prune scans
    * on either predicate. Emits per-z-bucket occupancy and per-
    * dimension extents; the spec asserts every bucket's extents fit
    * the tile bound (the pruning guarantee). Map-only + one agg. */
  def zorderLayout(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(
      pmod(col("user_id"), lit(1024L)).as("ux"),
      pmod(col("ts").cast("long"), lit(1024L)).as("ty"))
    e.withColumn("z", zInterleave(col("ux"), col("ty")))
      .withColumn("zbucket", shiftright(col("z"), 14))
      .groupBy(col("zbucket"))
      .agg(count(lit(1)).as("n"),
        min(col("ux")).as("ux_min"), max(col("ux")).as("ux_max"),
        min(col("ty")).as("ty_min"), max(col("ty")).as("ty_max"))
  }

  val zorderLayoutSql: String = {
    val z = zInterleaveSql("ux", "ty")
    """WITH e AS (
      |  SELECT user_id % 1024 AS ux,
      |    (epoch_ms(CAST(ts AS TIMESTAMP)) // 1000) % 1024 AS ty
      |  FROM events)
      |SELECT (ZEXPR) >> 14 AS zbucket, count(*) AS n,
      |  min(ux) AS ux_min, max(ux) AS ux_max,
      |  min(ty) AS ty_min, max(ty) AS ty_max
      |FROM e GROUP BY 1""".stripMargin.replace("ZEXPR", z)
  }

  /** H15: bloom-prefiltered semi join — the explicit form of Spark's
    * runtime row-level filtering: a compact bloom filter built over
    * the (filtered, small) build side is shipped as a scalar-subquery
    * constant and applied MAP-SIDE on the probe scan, so only
    * might-match rows pay the semi-join shuffle; the exact semi join
    * then removes the bloom's false positives, keeping the result
    * exact. At 100 TB this is the difference between shuffling the
    * whole probe table and shuffling the ~matching fraction. Oracle =
    * the plain EXISTS. (bloom_agg / bloom_contains are Spark's own
    * BloomFilterAggregate / BloomFilterMightContain, surfaced on the
    * registry by GraftSession.) */
  def bloomSemiJoin(s: SparkSession, dir: String): DataFrame = {
    orders(s, dir).filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey")).createOrReplaceTempView("graft_bloom_build")
    customer(s, dir).select(col("c_custkey"), col("c_name"))
      .createOrReplaceTempView("graft_bloom_probe")
    s.sql("""
      WITH pre AS (
        SELECT c_custkey, c_name FROM graft_bloom_probe
        WHERE bloom_contains(
          (SELECT bloom_agg(xxhash64(o_custkey), 100000L, 800000L)
           FROM graft_bloom_build),
          xxhash64(c_custkey)))
      SELECT c_custkey, c_name
      FROM pre LEFT SEMI JOIN graft_bloom_build ON c_custkey = o_custkey""")
  }

  val bloomSemiJoinSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey
      |                AND o_orderpriority = '1-URGENT')""".stripMargin

  /** [[EventsByDay]] rewritten into 4 right-sized files. */
  val EventsCompacted: Artifact = Artifact("events_compacted", Seq("events"), "coalesce=4")

  /** H11: small-file compaction — the maintenance pass every
    * long-lived ingest table needs (the reference's Postgres table
    * gets this from autovacuum; a parquet lake must run it): the
    * date-partitioned staging layout (one small file per day) is
    * rewritten into right-sized files, and the operator reports the
    * layout delta per layout generation: file count, rows, bytes.
    * Row content is invariant (spec-checked); file sizes are
    * invisible to the oracle views → rows-only. At scale the rewrite
    * is one shuffle-free coalescing pass per partition group. */
  def compactFiles(s: SparkSession, dir: String): DataFrame = {
    val staged = ensurePartitioned(s, dir)
    val compacted = EventsCompacted.ensure(dir) { out =>
      s.read.parquet(staged).drop("d").coalesce(4).write.mode("overwrite").parquet(out)
    }
    def layoutStats(path: String, layout: String): DataFrame =
      s.read.parquet(path)
        .groupBy(col("_metadata.file_path").as("fp"), col("_metadata.file_size").as("sz"))
        .agg(count(lit(1)).as("rows_in_file"))
        .agg(lit(layout).as("layout"), count(lit(1)).as("n_files"),
          sum(col("rows_in_file")).as("n_rows"), sum(col("sz")).as("n_bytes"))
    layoutStats(staged, "staged_daily")
      .unionByName(layoutStats(compacted, "compacted"))
  }

  /** One-time schema-evolution fixture: two order snapshots under
    * day=1 / day=2 partition dirs, where day 2 added a column
    * (o_orderstatus) that day 1 predates — the drift every long-lived
    * ingest layout accumulates. */
  val OrdersDrift: Artifact = Artifact("orders_drift", Seq("orders"), "v1")

  def ensureDrift(s: SparkSession, dir: String): String =
    OrdersDrift.ensure(dir) { out =>
      orders(s, dir).filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$out/day=1")
      orders(s, dir).filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderstatus"))
        .write.mode("overwrite").parquet(s"$out/day=2")
    }

  /** I8: schema-drift read — `mergeSchema` unions the per-day file
    * schemas (day 1 lacks o_orderstatus; its rows surface typed
    * nulls), so ONE scan serves both generations without a backfill
    * rewrite — at 100 TB rewriting history for every added column is
    * the thing a lake must never do. Partition discovery provides
    * `day`; the aggregate proves the merged column is null exactly
    * for the pre-drift generation. Oracle re-derives both snapshots
    * relationally. */
  def schemaDrift(s: SparkSession, dir: String): DataFrame = {
    s.read.option("mergeSchema", "true").parquet(ensureDrift(s, dir))
      .groupBy(col("day").cast("int").as("day"),
        coalesce(col("o_orderstatus"), lit("<pre-drift>")).as("status"))
      .agg(count(lit(1)).as("n"),
        graft.Portable.pround(
          sum(col("o_totalprice").cast("decimal(28,2)")).cast("double"),
          4).as("sum_price"))
  }

  val schemaDriftSql: String =
    """WITH u AS (
      |  SELECT 1 AS day, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderstatus
      |  FROM orders WHERE o_orderkey % 2 = 0
      |  UNION ALL
      |  SELECT 2 AS day, o_totalprice, o_orderstatus
      |  FROM orders WHERE o_orderkey % 2 = 1)
      |SELECT day, coalesce(o_orderstatus, '<pre-drift>') AS status,
      |  count(*) AS n,
      |  floor((sum(CAST(o_totalprice AS DECIMAL(28,2)))::DOUBLE) * 10000.0 + 0.5) / 10000.0 AS sum_price
      |FROM u GROUP BY 1, 2""".stripMargin

  /** Keys reported by [[joinSizeEst]]. */
  val JoinEstK = 10

  /** J-line: join-size estimation BEFORE paying the shuffle — the
    * planner math (|A ⋈ B on k| = Σ_k cnt_A(k)·cnt_B(k)) over the
    * many-to-many customer⋈supplier nation join, top keys by
    * predicted output. The whole query aggregates the two key
    * histograms and multiplies — it never executes the join it
    * predicts (the spec does, and proves the estimate EXACT for
    * equi-joins). This is the detect step that decides broadcast vs
    * salt vs rewrite for a key whose product term explodes. */
  def joinSizeEst(s: SparkSession, dir: String): DataFrame = {
    val c = customer(s, dir).groupBy(col("c_nationkey").as("k"))
      .agg(count(lit(1)).as("n_cust"))
    val p = supplier(s, dir).groupBy(col("s_nationkey").as("k"))
      .agg(count(lit(1)).as("n_supp"))
    c.join(p, "k")
      .select(col("k").as("nationkey"), col("n_cust"), col("n_supp"),
        (col("n_cust") * col("n_supp")).as("est_pairs"))
      .orderBy(col("est_pairs").desc, col("nationkey")).limit(JoinEstK)
  }

  val joinSizeEstSql: String =
    s"""WITH c AS (SELECT c_nationkey AS k, count(*) AS n_cust FROM customer GROUP BY 1),
       |p AS (SELECT s_nationkey AS k, count(*) AS n_supp FROM supplier GROUP BY 1)
       |SELECT k AS nationkey, n_cust, n_supp, n_cust * n_supp AS est_pairs
       |FROM c JOIN p USING (k)
       |ORDER BY est_pairs DESC, nationkey LIMIT $JoinEstK""".stripMargin

  /** Columns [[encodingAdvisor]] profiles (l_orderkey rides along as
    * the constant-within-cluster control every clustered layout has). */
  val EncCols: Seq[String] =
    Seq("l_orderkey", "l_returnflag", "l_linestatus", "l_shipdate",
      "l_suppkey", "l_quantity")

  /** K103: STORAGE-ENCODING ADVISOR — the per-column statistics a
    * columnar writer's encoding chooser computes before committing a
    * layout: run count under the table's cluster order, exact
    * distinct cardinality, average run length, and the implied pick
    * (RLE when the average run ≥ 2, else DICT when the dictionary is
    * ≤ 1/50 of the rows, else PLAIN — integer comparisons only).
    *
    * Runs are counted WITHIN l_orderkey clusters (ordered by
    * l_linenumber): that is the unit a real writer encodes — a row
    * group of an orderkey-clustered file — and it is what makes the
    * pass scale-sane: all six columns' run flags ride ONE keyed
    * window exchange (no global sort anywhere; a total-order run
    * count would serialize the table through one reducer for a
    * statistic the file format doesn't even use). Distincts follow
    * the column_profile discipline: one single-distinct two-phase
    * aggregate per column over a pruned scan, 1-row-broadcast-joined
    * back; the tempting 6-distincts-in-one-agg Expand is the measured
    * trap. Output: 6 rows. */
  /** In-cluster sort key for [[encodingAdvisor]]: l_linenumber is NOT
    * unique within an order in this corpus, so the profiled columns
    * ride along as tiebreaks — residual ties are then rows identical
    * on every profiled column, for which adjacency order cannot
    * change any run flag (engine-invariant by construction). */
  private val EncOrder: Seq[String] =
    Seq("l_linenumber", "l_returnflag", "l_linestatus", "l_shipdate",
      "l_suppkey", "l_quantity")

  /** One single-distinct two-phase aggregate per column — six pruned
    * scans. All six count_distincts in ONE aggregate plan as an Expand
    * (6× row multiply) over one scan: r14 ABProbe `encadv` (6
    * alternating rounds, sf0.1) measured it worse warm, med 1.504 s vs
    * 1.342 s, though its single scan halves the first pass (2.05 vs
    * 4.49). Warm wins the bench convention. */
  def encodingAdvisor(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_orderkey")).orderBy(EncOrder.map(col): _*)
    val li = lineitem(s, dir)
      .select((Seq("l_orderkey", "l_linenumber") ++ EncCols.drop(1)).distinct
        .map(col): _*)
    val flagged = EncCols.foldLeft(li) { (df, c) =>
      val prev = lag(col(c), 1).over(w)
      // null-safe (<=>) so a run break matches the oracle's
      // IS DISTINCT FROM on a future nullable column: non-null→null
      // and null→null transitions score like DuckDB's
      df.withColumn(s"__run_$c",
        when(!(prev <=> col(c)), 1L).otherwise(0L))
    }
    val runAggs = EncCols.map(c => sum(col(s"__run_$c")).as(s"__runs_$c"))
    val base = flagged.agg(count(lit(1)).as("n_rows"), runAggs: _*)
    val withDistincts = EncCols.foldLeft(base) { (acc, c) =>
      acc.crossJoin(broadcast(
        lineitem(s, dir).agg(count_distinct(col(c)).as(s"__nd_$c"))))
    }
    val structs = EncCols.map { c =>
      struct(lit(c).as("column"), col("n_rows"),
        col(s"__runs_$c").as("n_runs"), col(s"__nd_$c").as("n_distinct"))
    }
    withDistincts.select(explode(array(structs: _*)).as("p")).select(col("p.*"))
      .withColumn("avg_run_len_pm", expr("(n_rows * 1000000L) div n_runs"))
      .withColumn("pick",
        when(expr("n_runs * 2 <= n_rows"), "rle")
          .when(expr("n_distinct * 50 <= n_rows"), "dict")
          .otherwise("plain"))
  }

  val encodingAdvisorSql: String = {
    def row(c: String): String =
      s"""SELECT '$c' AS "column", count(*) AS n_rows,
         |  sum(CASE WHEN prev IS DISTINCT FROM v THEN 1 ELSE 0 END)::BIGINT
         |    AS n_runs,
         |  count(DISTINCT v) AS n_distinct
         |FROM (SELECT $c AS v,
         |        lag($c) OVER (PARTITION BY l_orderkey
         |                      ORDER BY ${EncOrder.mkString(", ")}) AS prev
         |      FROM lineitem)""".stripMargin
    "WITH per_col AS (\n" +
      EncCols.map(row).mkString("", "\nUNION ALL\n", ")\n") +
      """SELECT "column", n_rows, n_runs, n_distinct,
        |  (n_rows * 1000000) // n_runs AS avg_run_len_pm,
        |  CASE WHEN n_runs * 2 <= n_rows THEN 'rle'
        |       WHEN n_distinct * 50 <= n_rows THEN 'dict'
        |       ELSE 'plain' END AS pick
        |FROM per_col""".stripMargin
  }

  /** Granule count for [[zoneMapPrune]] — the modeled file count per
    * layout generation (a lake at 100 TB has more files, but the
    * pruning RATE the report measures is layout-determined, not
    * file-count-determined). */
  val ZmGranules = 64L

  /** [[zoneMapPrune]] date axis origin + the probe predicate bounds,
    * as day numbers since the origin — computed once on the JVM and
    * injected VERBATIM into both engines (the SimA/SimB convention).
    * The generator's shipdate span is fixed (1995-01-02 .. 2001-11-04,
    * verified at sf0.001 AND sf0.1) at every SF, so the probes hit
    * the same calendar slice at any scale. */
  val ZmEpoch: java.time.LocalDate = java.time.LocalDate.of(1995, 1, 1)
  private def zmDay(y: Int, m: Int, d: Int): Long =
    java.time.LocalDate.of(y, m, d).toEpochDay - ZmEpoch.toEpochDay
  /** Sorted-layout granule span: the generator date axis end. */
  val ZmDateSpan: Long = zmDay(2002, 1, 1)
  val ZmShip1moLo: Long = zmDay(1997, 6, 1)
  val ZmShip1moHi: Long = zmDay(1997, 6, 30)
  val ZmShip6moLo: Long = zmDay(1998, 1, 1)
  val ZmShip6moHi: Long = zmDay(1998, 6, 30)

  /** K165: ZONE-MAP PRUNING REPORT — min/max data skipping, the
    * Small Materialized Aggregates of Moerkotte (VLDB 1998) as
    * deployed by every modern lake/warehouse (Snowflake's pruning,
    * Dageville et al. SIGMOD 2016; Delta/Iceberg file skipping;
    * ClickHouse minmax indexes): per file-granule, keep min/max of
    * the filter columns; a predicate whose range is disjoint from a
    * granule's [min,max] skips the granule without reading it. The
    * operator quantifies WHAT [[zorderLayout]] only lays out — how
    * many granules and rows each probe predicate actually skips —
    * and contrasts TWO layouts of the same rows: `natural`
    * (write-order: equal-width l_orderkey ranges, the as-ingested
    * file sequence) vs `shipdate_sorted` (equal-width ship-day
    * ranges, the sorted rewrite). A date probe prunes ~nothing on
    * the natural layout (every file spans all dates) and ~everything
    * on the sorted one — the measured case for paying the sort at
    * 100 TB; a key probe shows the opposite, which is why the sort
    * key must match the probe workload. Granule ids are EXACT
    * integer algebra off the 1-row min/max stats frame (map-only, no
    * global sort models the layout); all counts exact, share one
    * integer division.
    *
    * Shape: one stats agg (1 row, broadcast) → map-only granule id →
    * two granule-keyed combining aggs (≤[[ZmGranules]] rows each) →
    * constant-size probe evaluation. Shuffle ∝ rows only in the two
    * zone-map builds — exactly the maintenance pass a real lake runs
    * per file write. */
  def zoneMapPrune(s: SparkSession, dir: String): DataFrame = {
    val li = lineitem(s, dir).select(
      col("l_orderkey").as("k"),
      datediff(col("l_shipdate").cast("date"),
        lit(ZmEpoch.toString).cast("date")).cast("long").as("d"))
    val stats = li.agg(
      min(col("k")).as("kmin"), max(col("k")).as("kmax"),
      count(lit(1)).as("n_total")).localCheckpoint() // 1-row scalar frame
    val g = li.crossJoin(broadcast(stats))
      .select(col("k"), col("d"), col("n_total"),
        expr(s"((k - kmin) * $ZmGranules) div (kmax - kmin + 1)").as("gnat"),
        expr(s"(d * $ZmGranules) div $ZmDateSpan").as("gsort"))
    def zones(gid: String): DataFrame = g.groupBy(col(gid).as("gid"))
      .agg(min(col("d")).as("dlo"), max(col("d")).as("dhi"),
        min(col("k")).as("klo"), max(col("k")).as("khi"),
        count(lit(1)).as("n"), first(col("n_total")).as("n_total"))
    def probe(layout: String, z: DataFrame, pred: String, m: DataFrame,
              lo: Column, hi: Column, isDate: Boolean): DataFrame = {
      val (zlo, zhi) = if (isDate) (col("dlo"), col("dhi")) else (col("klo"), col("khi"))
      val survive = !(zhi < lo || zlo > hi)
      z.agg(count(lit(1)).as("n_granules"),
        sum(when(survive, 0L).otherwise(1L)).as("n_pruned"),
        sum(when(survive, col("n")).otherwise(0L)).as("rows_scanned"),
        first(col("n_total")).as("n_total"))
        .crossJoin(broadcast(m)) // two 1-row scalar frames
        .select(lit(layout).as("layout"), lit(pred).as("pred"),
          col("n_granules"), col("n_pruned"), col("rows_scanned"),
          col("rows_matched"),
          expr("(rows_scanned * 1000) div n_total").as("scan_share_pm"))
    }
    def matched(c: Column, lo: Column, hi: Column): DataFrame = g
      .agg(sum(when(c.between(lo, hi), 1L).otherwise(0L)).as("rows_matched"))
      .localCheckpoint() // 1-row scalar frame, read by both layouts
    val znat = zones("gnat").localCheckpoint()  // <= ZmGranules rows,
    val zsort = zones("gsort").localCheckpoint() // three probes each
    // 1-row scalar read (the bpe_train bounded class): the key-decile
    // probe's bounds are layout-model constants derived from the span
    val st = stats.select(col("kmin"),
      expr(s"kmin + (kmax - kmin + 1) div 10").as("khi_p")).head()
    val (kLo, kHi) = (st.getLong(0), st.getLong(1))
    val m1 = matched(col("d"), lit(ZmShip1moLo), lit(ZmShip1moHi))
    val m6 = matched(col("d"), lit(ZmShip6moLo), lit(ZmShip6moHi))
    val mk = matched(col("k"), lit(kLo), lit(kHi))
    Seq(
      probe("natural", znat, "ship_1mo", m1, lit(ZmShip1moLo), lit(ZmShip1moHi), isDate = true),
      probe("natural", znat, "ship_6mo", m6, lit(ZmShip6moLo), lit(ZmShip6moHi), isDate = true),
      probe("natural", znat, "key_decile", mk, lit(kLo), lit(kHi), isDate = false),
      probe("shipdate_sorted", zsort, "ship_1mo", m1, lit(ZmShip1moLo), lit(ZmShip1moHi), isDate = true),
      probe("shipdate_sorted", zsort, "ship_6mo", m6, lit(ZmShip6moLo), lit(ZmShip6moHi), isDate = true),
      probe("shipdate_sorted", zsort, "key_decile", mk, lit(kLo), lit(kHi), isDate = false)
    ).reduce(_.unionByName(_))
  }

  val zoneMapPruneSql: String = {
    val gsortDen = ZmDateSpan
    def probe(layout: String, ztab: String, pred: String,
              lo: String, hi: String, isDate: Boolean): String = {
      val (zlo, zhi) = if (isDate) ("dlo", "dhi") else ("klo", "khi")
      val v = if (isDate) "d" else "k"
      s"""SELECT '$layout' AS layout, '$pred' AS pred,
         |  (SELECT count(*) FROM $ztab)::BIGINT AS n_granules,
         |  (SELECT sum(CASE WHEN $zhi < $lo OR $zlo > $hi THEN 1 ELSE 0 END)
         |   FROM $ztab)::BIGINT AS n_pruned,
         |  (SELECT sum(CASE WHEN $zhi < $lo OR $zlo > $hi THEN 0 ELSE n END)
         |   FROM $ztab)::BIGINT AS rows_scanned,
         |  (SELECT sum(CASE WHEN $v BETWEEN $lo AND $hi THEN 1 ELSE 0 END)
         |   FROM g)::BIGINT AS rows_matched,
         |  ((SELECT sum(CASE WHEN $zhi < $lo OR $zlo > $hi THEN 0 ELSE n END)
         |    FROM $ztab) * 1000 // (SELECT n_total FROM stats))::BIGINT
         |    AS scan_share_pm""".stripMargin
    }
    val kLo = "(SELECT kmin FROM stats)"
    val kHi = "(SELECT kmin + (kmax - kmin + 1) // 10 FROM stats)"
    s"""WITH li AS (
       |  SELECT l_orderkey AS k,
       |    date_diff('day', DATE '$ZmEpoch', l_shipdate::DATE)::BIGINT AS d
       |  FROM lineitem),
       |stats AS (
       |  SELECT min(k)::BIGINT AS kmin, max(k)::BIGINT AS kmax,
       |    count(*)::BIGINT AS n_total
       |  FROM li),
       |g AS (
       |  SELECT k, d,
       |    ((k - kmin) * $ZmGranules) // (kmax - kmin + 1) AS gnat,
       |    (d * $ZmGranules) // $gsortDen AS gsort
       |  FROM li CROSS JOIN stats),
       |znat AS (
       |  SELECT gnat AS gid, min(d) AS dlo, max(d) AS dhi,
       |    min(k) AS klo, max(k) AS khi, count(*)::BIGINT AS n
       |  FROM g GROUP BY gnat),
       |zsort AS (
       |  SELECT gsort AS gid, min(d) AS dlo, max(d) AS dhi,
       |    min(k) AS klo, max(k) AS khi, count(*)::BIGINT AS n
       |  FROM g GROUP BY gsort)
       |${probe("natural", "znat", "ship_1mo", ZmShip1moLo.toString, ZmShip1moHi.toString, isDate = true)}
       |UNION ALL ${probe("natural", "znat", "ship_6mo", ZmShip6moLo.toString, ZmShip6moHi.toString, isDate = true)}
       |UNION ALL ${probe("natural", "znat", "key_decile", kLo, kHi, isDate = false)}
       |UNION ALL ${probe("shipdate_sorted", "zsort", "ship_1mo", ZmShip1moLo.toString, ZmShip1moHi.toString, isDate = true)}
       |UNION ALL ${probe("shipdate_sorted", "zsort", "ship_6mo", ZmShip6moLo.toString, ZmShip6moHi.toString, isDate = true)}
       |UNION ALL ${probe("shipdate_sorted", "zsort", "key_decile", kLo, kHi, isDate = false)}""".stripMargin
  }
}
