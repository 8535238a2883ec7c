package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Robust/distribution analytics (SURVEY.md §2 I-line): equi-depth
  * histograms and median-absolute-deviation outlier detection — the
  * two distribution probes a data pipeline runs on numeric columns
  * before trusting them.
  *
  * All four queries here compute their order statistics with the
  * grid-cell convention (see Analytics.percentiles/B10): NO exact
  * `percentile()` aggregate anywhere, because that buffers a value→
  * count map per group through ONE reducer — billions of entries at
  * 100 TB. The monitored columns are bounded 2-decimal grids
  * (l_extendedprice ≤ 50 × |retail-price grid|; events.value a
  * rounded sensor range), so the per-(group, value) cell counts
  * saturate at the grid size regardless of row count, the cum-rank
  * window runs over grid-sized cells, and the interpolated order
  * statistic is plain column algebra written IDENTICALLY in the
  * DuckDB twins — bit-exact cross-engine and equal to the exact
  * `percentile()` (spec-pinned).
  */
object Robust {

  val Bins = 10

  /** Codegen count-edges-below: Σ 1[v > edges[i]] over the fixed-width
    * broadcast edge array — bin assignment for the equi-depth family.
    * `size(filter(edges, e -> v > e))` evaluates an interpreted
    * ArrayFilter lambda PER ROW of the binning scan (guide §4.1);
    * unrolling the ≤ Bins−1 comparisons keeps the whole projection in
    * whole-stage codegen. Null edge cells count 0 in both forms (the
    * lambda's null compare is filtered, the when() falls through). */
  private def binOf(v: Column, edges: Column, n: Int): Column =
    (1 to n).map(i =>
      when(v > element_at(edges, i), 1).otherwise(0)).reduce(_ + _)

  /** Exact interpolated percentiles over bounded value-grid cells.
    * `cells` must carry `groupCols`, `valueCol`, and a `cnt` count.
    * Returns one row per group with a column per `(p, name)`:
    *   v[ℓ] + (pos−ℓ)·(v[ℓ+1] − v[ℓ]),  pos = p·(n−1), ℓ = ⌊pos⌋.
    * The only shuffle proportional to ROWS is the caller's cell
    * aggregate (partial-aggregated map-side); everything here runs
    * over grid-bounded cells. With `groupCols` empty the rank window
    * is a single partition — acceptable because it is cell-sized. */
  private[graft] def gridPct(cells: DataFrame, groupCols: Seq[String],
      valueCol: String, ps: Seq[(Double, String)]): DataFrame = {
    val gcols = groupCols.map(col)
    val w = (if (groupCols.isEmpty) Window.partitionBy()
             else Window.partitionBy(gcols: _*)).orderBy(col(valueCol))
    val cum = cells.withColumn("cum", sum(col("cnt")).over(w))
    val n = if (groupCols.isEmpty) cells.agg(sum(col("cnt")).as("n"))
            else cells.groupBy(gcols: _*).agg(sum(col("cnt")).as("n"))
    val j = if (groupCols.isEmpty) cum.crossJoin(broadcast(n))
            else cum.join(broadcast(n), groupCols)
    def pos(p: Double) = lit(p) * (col("n") - 1).cast("double")
    def lo(p: Double) = floor(pos(p))
    val aggs = ps.zipWithIndex.flatMap { case ((p, _), i) => Seq(
      min(when(col("cum") > lo(p), col(valueCol))).as(s"vl$i"),
      min(when(col("cum") > lo(p) + 1, col(valueCol))).as(s"vu$i")) }
    val grouped = j.groupBy((gcols :+ col("n")): _*).agg(aggs.head, aggs.tail: _*)
    val outs = ps.zipWithIndex.map { case ((p, name), i) =>
      (col(s"vl$i") + (pos(p) - lo(p)) *
        (coalesce(col(s"vu$i"), col(s"vl$i")) - col(s"vl$i"))).as(name) }
    grouped.select((gcols ++ outs): _*)
  }

  /** DuckDB twin of [[gridPct]]: emits CTEs `cell, cum, nn, s, pct`
    * (each suffixed by `sfx` so two chains can share one WITH) with
    * `pct$sfx` = groupCols ++ named percentiles, the SAME algebra
    * term-for-term. `cellSql` must select groupCols, `v`, `cnt`. */
  private def gridPctSql(cellSql: String, groupCols: Seq[String],
      ps: Seq[(Double, String)], sfx: String = ""): String = {
    val g = groupCols.mkString(", ")
    val gPrefix = if (groupCols.isEmpty) "" else g + ", "
    val partBy = if (groupCols.isEmpty) "" else s"PARTITION BY $g "
    val vls = ps.zipWithIndex.map { case ((p, _), i) =>
      s"  min(CASE WHEN cum > floor($p * (nn$sfx.n - 1)) THEN v END) AS vl$i,\n" +
      s"  min(CASE WHEN cum > floor($p * (nn$sfx.n - 1)) + 1 THEN v END) AS vu$i" }
      .mkString(",\n")
    val joinN = if (groupCols.isEmpty) s"FROM cum$sfx, nn$sfx"
                else s"FROM cum$sfx JOIN nn$sfx USING ($g)"
    val grpBy = if (groupCols.isEmpty) s"GROUP BY nn$sfx.n"
                else s"GROUP BY $g, nn$sfx.n"
    val nGrp = if (groupCols.isEmpty) "" else s" GROUP BY $g"
    val outs = ps.zipWithIndex.map { case ((p, name), i) =>
      s"  vl$i + ($p * (n - 1) - floor($p * (n - 1))) * (coalesce(vu$i, vl$i) - vl$i) AS $name" }
      .mkString(",\n")
    s"""cell$sfx AS ($cellSql),
       |cum$sfx AS (SELECT *, sum(cnt) OVER (${partBy}ORDER BY v) AS cum FROM cell$sfx),
       |nn$sfx AS (SELECT ${gPrefix}sum(cnt)::BIGINT AS n FROM cell$sfx$nGrp),
       |s$sfx AS (SELECT ${gPrefix}nn$sfx.n,
       |$vls
       |  $joinN $grpBy),
       |pct$sfx AS (SELECT $gPrefix
       |$outs
       |  FROM s$sfx)""".stripMargin
  }

  private def edgePs: Seq[(Double, String)] =
    (1 until Bins).map(i => (i.toDouble / Bins, s"e${i - 1}"))

  /** I6: equi-depth histogram of lineitem prices. Bin EDGES come from
    * the grid-cell interpolated percentile (one cell aggregate + a
    * cell-bounded rank window — never a per-value buffering
    * aggregate), collapsed to a single broadcast edge row; each row
    * then counts the edges below it, so binning is map-side and the
    * only rows-scale shuffles are the cell count and the final
    * per-bin aggregate. The same shape holds verbatim at 100 TB. */
  def quantileBins(s: SparkSession, dir: String): DataFrame = {
    val cells = lineitem(s, dir)
      .groupBy(col("l_extendedprice")).agg(count(lit(1)).as("cnt"))
    val edges = gridPct(cells, Nil, "l_extendedprice", edgePs)
      .select(array(edgePs.map(p => col(p._2)): _*).as("edges"))
    lineitem(s, dir).select(col("l_extendedprice")).crossJoin(broadcast(edges))
      .withColumn("bin",
        binOf(col("l_extendedprice"), col("edges"), edgePs.size))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_rows"),
        graft.Portable.pround(min(col("l_extendedprice")), 4).as("lo"),
        graft.Portable.pround(max(col("l_extendedprice")), 4).as("hi"))
      .orderBy(col("bin"))
  }

  val quantileBinsSql: String = {
    val ctes = gridPctSql(
      "SELECT l_extendedprice AS v, count(*) AS cnt FROM lineitem GROUP BY 1",
      Nil, edgePs)
    val list = edgePs.map(_._2).mkString(", ")
    s"""WITH $ctes,
       |e AS (SELECT [$list] AS edges FROM pct)
       |SELECT bin, count(*) AS n_rows,
       |  floor((min(l_extendedprice)) * 10000.0 + 0.5) / 10000.0 AS lo,
       |  floor((max(l_extendedprice)) * 10000.0 + 0.5) / 10000.0 AS hi
       |FROM (SELECT l_extendedprice,
       |        len(list_filter(e.edges, x -> l_extendedprice > x)) AS bin
       |      FROM lineitem, e)
       |GROUP BY bin ORDER BY bin""".stripMargin
  }

  /** Quartile-edge percentiles for [[rfmSegments]]. */
  private val quartPs = Seq((0.25, "q1"), (0.5, "q2"), (0.75, "q3"))

  /** K77: RFM SEGMENTATION — the classic recency/frequency/monetary
    * customer cube: per customer, days since last order, order count,
    * and total spend, each quartile-coded 0-3 against the corpus-wide
    * distribution, rolled up to segment cells. All three quartile
    * edge sets come from [[gridPct]] over BOUNDED cells (recency:
    * calendar days; frequency: small order counts; monetary: spend
    * floor-divided onto a 100-currency grid — the explicit
    * quantization that keeps the cell frame grid-sized at 100 TB,
    * stated rather than hoped); coding is then a map-side
    * count-edges-below against three broadcast edge rows (the
    * quantile_bins shape). Spend sums in DECIMAL(18,2) (exact,
    * order-independent) and reports as ×100 integer cents, so the
    * cross-engine hash never sees a float accumulation. */
  def rfmSegments(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir).select(col("o_custkey"),
      col("o_orderdate").cast("date").as("d"),
      col("o_totalprice").cast("decimal(18,2)").as("p"))
    // ONE orders scan: the per-customer aggregate is checkpointed
    // (customer-sized) and feeds the reference date, all three edge
    // chains, and the coding pass
    val per0 = o.groupBy(col("o_custkey"))
      .agg(max(col("d")).as("last_d"), count(lit(1)).as("freq"), sum(col("p")).as("mon"))
      .localCheckpoint()
    val ref = per0.agg(max(col("last_d")).as("refd"))
    val per = per0
      .crossJoin(broadcast(ref)) // 1-row reference-date frame
      .select(col("o_custkey"),
        datediff(col("refd"), col("last_d")).cast("long").as("r_days"),
        col("freq"),
        floor(col("mon") / 100).cast("long").as("m_grid"),
        (col("mon") * 100).cast("long").as("mon_c"))
    def edgeRow(valueCol: String, as: String): DataFrame =
      gridPct(per.groupBy(col(valueCol)).agg(count(lit(1)).as("cnt")),
        Nil, valueCol, quartPs)
        .select(array(col("q1"), col("q2"), col("q3")).as(as))
    def code(v: String, edges: String) =
      binOf(col(v).cast("double"), col(edges), quartPs.size)
    per
      .crossJoin(broadcast(edgeRow("r_days", "re")))
      .crossJoin(broadcast(edgeRow("freq", "fe")))
      .crossJoin(broadcast(edgeRow("m_grid", "me")))
      .groupBy(code("r_days", "re").as("r_code"),
        code("freq", "fe").as("f_code"),
        code("m_grid", "me").as("m_code"))
      .agg(count(lit(1)).as("n_customers"), sum(col("mon_c")).as("monetary_c"))
  }

  lazy val rfmSegmentsSql: String = {
    def chain(sfx: String, vcol: String) =
      gridPctSql(s"SELECT $vcol AS v, count(*) AS cnt FROM per GROUP BY 1",
        Nil, quartPs, sfx)
    s"""WITH per AS (
       |  SELECT o_custkey,
       |    date_diff('day', max(CAST(o_orderdate AS DATE)),
       |              (SELECT max(CAST(o_orderdate AS DATE)) FROM orders)) AS r_days,
       |    count(*) AS freq,
       |    CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))) / 100) AS BIGINT) AS m_grid,
       |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS mon_c
       |  FROM orders GROUP BY 1),
       |${chain("r", "r_days")},
       |${chain("f", "freq")},
       |${chain("m", "m_grid")},
       |er AS (SELECT [q1, q2, q3] AS re FROM pctr),
       |ef AS (SELECT [q1, q2, q3] AS fe FROM pctf),
       |em AS (SELECT [q1, q2, q3] AS me FROM pctm)
       |SELECT
       |  len(list_filter(er.re, x -> r_days::DOUBLE > x)) AS r_code,
       |  len(list_filter(ef.fe, x -> freq::DOUBLE > x)) AS f_code,
       |  len(list_filter(em.me, x -> m_grid::DOUBLE > x)) AS m_code,
       |  count(*) AS n_customers, sum(mon_c)::BIGINT AS monetary_c
       |FROM per, er, ef, em
       |GROUP BY 1, 2, 3""".stripMargin
  }

  /** MAD multiplier: |x - median| > 3·MAD flags an outlier. */
  val MadK = 3

  /** I9: median-absolute-deviation outlier counts per event type —
    * the robust alternative to z-scores (median and MAD ignore the
    * outliers being hunted). Both medians are grid-cell order
    * statistics: the deviation |x − med| of a grid value is itself on
    * a (half-)grid, so the second median's cells are no larger than
    * the first's. Deviations are single subtractions of doubles, so
    * the result is engine-exact. */
  def outlierMad(s: SparkSession, dir: String): DataFrame = {
    val vCells = events(s, dir)
      .groupBy(col("event_type"), col("value")).agg(count(lit(1)).as("cnt"))
    val med = gridPct(vCells, Seq("event_type"), "value", Seq((0.5, "med")))
    val dev = events(s, dir).join(broadcast(med), "event_type")
      .select(col("event_type"), col("med"), abs(col("value") - col("med")).as("dev"))
    val dCells = dev.groupBy(col("event_type"), col("dev")).agg(count(lit(1)).as("cnt"))
    val mad = gridPct(dCells, Seq("event_type"), "dev", Seq((0.5, "mad")))
    dev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("dev") > col("mad") * MadK, 1L).otherwise(0L)).as("n_outliers"),
        graft.Portable.pround(max(col("med")), 4).as("med"),
        graft.Portable.pround(max(col("mad")), 4).as("mad"))
  }

  val outlierMadSql: String = {
    val medCtes = gridPctSql(
      "SELECT event_type, value AS v, count(*) AS cnt FROM events GROUP BY 1, 2",
      Seq("event_type"), Seq((0.5, "med")))
    val madCtes = gridPctSql(
      "SELECT event_type, dev AS v, count(*) AS cnt FROM devr GROUP BY 1, 2",
      Seq("event_type"), Seq((0.5, "mad")), sfx = "2")
    s"""WITH $medCtes,
       |devr AS (
       |  SELECT e.event_type, med, abs(value - med) AS dev
       |  FROM events e JOIN pct USING (event_type)),
       |$madCtes
       |SELECT d.event_type, count(*) AS n,
       |  sum(CASE WHEN dev > $MadK * mad THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
       |  floor((max(d.med)) * 10000.0 + 0.5) / 10000.0 AS med,
       |  floor((max(mad)) * 10000.0 + 0.5) / 10000.0 AS mad
       |FROM devr d JOIN pct2 USING (event_type)
       |GROUP BY d.event_type""".stripMargin
  }

  /** Drift-alert threshold on total-variation distance. */
  val DriftMax = 0.05

  /** J-line: distribution-drift monitor — total-variation distance
    * between two event cohorts (even vs odd epoch-day, the
    * yesterday-vs-today stand-in) per event type, over shared
    * equi-depth bins. Bin edges are grid-cell order statistics
    * (no value-buffering aggregate); TVD is computed as an
    * EXACT-INTEGER sum,
    *   Σ|a_i·N_B − b_i·N_A| / (2·N_A·N_B),
    * so the cross-engine result is one correctly-rounded division of
    * exact BIGINTs, never a float accumulation (PSI/KL need logs — a
    * 1-ulp cross-engine hash risk; TVD ranks drift the same way).
    * Shape: one map-side binning pass against a broadcast edge row +
    * two small aggregates — the same plan at any scale. */
  def distDrift(s: SparkSession, dir: String): DataFrame = {
    val cells = events(s, dir)
      .groupBy(col("value")).agg(count(lit(1)).as("cnt"))
    val edges = gridPct(cells, Nil, "value", edgePs)
      .select(array(edgePs.map(p => col(p._2)): _*).as("edges"))
    val cell = events(s, dir)
      .select(col("event_type"), col("value"),
        (expr("unix_timestamp(ts) div 86400") % 2).as("cohort"))
      .crossJoin(broadcast(edges))
      .withColumn("bin", binOf(col("value"), col("edges"), edgePs.size))
      .groupBy(col("event_type"), col("bin"))
      .agg(sum(when(col("cohort") === 0, 1L).otherwise(0L)).as("a"),
        sum(when(col("cohort") === 1, 1L).otherwise(0L)).as("b"))
    val tot = cell.groupBy(col("event_type"))
      .agg(sum(col("a")).as("na"), sum(col("b")).as("nb"))
    val tvd = col("num").cast("double") / (lit(2L) * col("na") * col("nb"))
    cell.join(broadcast(tot), "event_type")
      .groupBy(col("event_type"))
      .agg(max(col("na")).as("na"), max(col("nb")).as("nb"),
        sum(abs(col("a") * col("nb") - col("b") * col("na"))).as("num"))
      .select(col("event_type"), col("na"), col("nb"),
        graft.Portable.pround(tvd, 6).as("tvd"), (tvd > DriftMax).as("drift"))
  }

  val distDriftSql: String = {
    val ctes = gridPctSql(
      "SELECT value AS v, count(*) AS cnt FROM events GROUP BY 1", Nil, edgePs)
    val list = edgePs.map(_._2).mkString(", ")
    s"""WITH $ctes,
       |e AS (SELECT [$list] AS edges FROM pct),
       |bcell AS (
       |  SELECT event_type,
       |    len(list_filter(e.edges, x -> value > x)) AS bin,
       |    sum(CASE WHEN epoch_ms(CAST(ts AS TIMESTAMP)) // 86400000 % 2 = 0
       |             THEN 1 ELSE 0 END)::BIGINT AS a,
       |    sum(CASE WHEN epoch_ms(CAST(ts AS TIMESTAMP)) // 86400000 % 2 = 1
       |             THEN 1 ELSE 0 END)::BIGINT AS b
       |  FROM events, e GROUP BY 1, 2),
       |tot AS (
       |  SELECT event_type, sum(a)::BIGINT AS na, sum(b)::BIGINT AS nb
       |  FROM bcell GROUP BY 1),
       |agg AS (
       |  SELECT bcell.event_type, max(na) AS na, max(nb) AS nb,
       |    sum(abs(a * nb - b * na))::BIGINT AS num
       |  FROM bcell JOIN tot USING (event_type) GROUP BY 1)
       |SELECT event_type, na, nb,
       |  floor((num::DOUBLE / (2 * na * nb)) * 1000000.0 + 0.5) / 1000000.0 AS tvd,
       |  num::DOUBLE / (2 * na * nb) > $DriftMax AS drift
       |FROM agg""".stripMargin
  }

  /** Winsorization percentiles: clamp below p05 / above p95. */
  val WinsLo = 0.05
  val WinsHi = 0.95

  /** J-line: winsorized robust means per event type — values clamped
    * to the [p05, p95] band before averaging, the standard trim that
    * keeps a corrupted tail from dragging a monitored mean. Limits
    * are grid-cell order statistics broadcast back; clamping is
    * map-side column algebra. */
  def winsorize(s: SparkSession, dir: String): DataFrame = {
    val cells = events(s, dir)
      .groupBy(col("event_type"), col("value")).agg(count(lit(1)).as("cnt"))
    val lims = gridPct(cells, Seq("event_type"), "value",
      Seq((WinsLo, "lo"), (WinsHi, "hi")))
    val clamped = least(greatest(col("value"), col("lo")), col("hi"))
    // means divide EXACT decimal sums by the count (the q1Agg
    // money-sum rule — a double avg inherits the accumulation-order
    // term): raw values are exact cents; clamped rows take the
    // interpolated lo/hi doubles, quantized per row to the 10⁻⁶
    // lattice (identically in both engines — same input doubles), so
    // mean_wins is defined ON that lattice and the sum is order-free
    events(s, dir).join(broadcast(lims), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") < col("lo"), 1L).otherwise(0L)).as("n_clamped_lo"),
        sum(when(col("value") > col("hi"), 1L).otherwise(0L)).as("n_clamped_hi"),
        sum(col("value").cast("decimal(28,2)")).as("sraw"),
        sum(clamped.cast("decimal(28,6)")).as("swin"),
        graft.Portable.pround(max(col("lo")), 4).as("lo"),
        graft.Portable.pround(max(col("hi")), 4).as("hi"))
      .withColumn("mean_raw",
        graft.Portable.pround(col("sraw").cast("double") / col("n"), 4))
      .withColumn("mean_wins",
        graft.Portable.pround(col("swin").cast("double") / col("n"), 4))
      .select(col("event_type"), col("n"), col("n_clamped_lo"),
        col("n_clamped_hi"), col("mean_raw"), col("mean_wins"),
        col("lo"), col("hi"))
  }

  val winsorizeSql: String = {
    val ctes = gridPctSql(
      "SELECT event_type, value AS v, count(*) AS cnt FROM events GROUP BY 1, 2",
      Seq("event_type"), Seq((WinsLo, "lo"), (WinsHi, "hi")))
    s"""WITH $ctes
       |SELECT event_type, count(*) AS n,
       |  sum(CASE WHEN value < lo THEN 1 ELSE 0 END)::BIGINT AS n_clamped_lo,
       |  sum(CASE WHEN value > hi THEN 1 ELSE 0 END)::BIGINT AS n_clamped_hi,
       |  floor((sum(CAST(value AS DECIMAL(28,2)))::DOUBLE / count(*)) * 10000.0 + 0.5) / 10000.0 AS mean_raw,
       |  floor((sum(CAST(least(greatest(value, lo), hi) AS DECIMAL(28,6)))::DOUBLE / count(*)) * 10000.0 + 0.5) / 10000.0 AS mean_wins,
       |  floor((max(lo)) * 10000.0 + 0.5) / 10000.0 AS lo,
       |  floor((max(hi)) * 10000.0 + 0.5) / 10000.0 AS hi
       |FROM events JOIN pct USING (event_type)
       |GROUP BY event_type""".stripMargin
  }

  /** Benford expected first-digit masses ×10⁶ —
    * round(10⁶·log₁₀(1 + 1/d)) for d = 1..9, computed once on the
    * JVM and injected VERBATIM into both engines (the NdcgW
    * convention): the law's irrational logs never touch the hash
    * gate. */
  val BenfordPpm: Seq[Long] =
    (1 to 9).map(d => math.round(1e6 * math.log10(1.0 + 1.0 / d)))

  /** K175: BENFORD FIRST-DIGIT AUDIT — Newcomb 1881 / Benford 1938,
    * formalized by Hill 1995 ("A statistical derivation of the
    * significant-digit law"): naturally occurring multi-scale
    * positive quantities have first digit d with probability
    * log₁₀(1+1/d) — and systematic DEVIATION from it is the
    * standard screen for fabricated, truncated, capped or
    * synthetically generated numeric columns (forensic accounting's
    * canonical test; a data-quality read next to K3 `outlier_mad`
    * and J22 `column_profile` before trusting a numeric column).
    * Columns audited: o_totalprice and l_extendedprice. Exact
    * integer algebra end to end: values drop to the cents lattice
    * (floor(x·100+0.5), leading digit unchanged by the ×100 shift),
    * the first digit is the leading character of the BIGINT's
    * decimal string (no float log10 anywhere near the hash gate),
    * expected masses are the verbatim [[BenfordPpm]] table, and the
    * summary per column is the total-variation distance ×10⁶:
    * tvd_ppm = Σ_d |obs_ppm − exp_ppm| div 2. On THIS corpus the
    * audit fires by design — the generator draws sums of uniforms,
    * nothing multi-scale, and the spec pins that the detector sees
    * it (tvd far above the Benford-conformance band) while the
    * arithmetic replays exactly. Domain guard: Benford's law is
    * defined on d ∈ 1..9 only, so rows whose cents-lattice value
    * has no nonzero leading digit (x ∈ [0, 0.005) ⇒ d = 0, or
    * negative/NULL ⇒ no digit) are dropped BEFORE the totals in
    * both engines — without the guard d = 0 would crash Spark's
    * 1-based element_at while DuckDB's list[0] returned NULL, a
    * crash plus engine divergence on valid numeric input.
    *
    * Shape: map-only digit extraction → one 9-key combining
    * aggregate per column + a 1-row total broadcast — no shuffle
    * wider than 9 rows at any corpus size. */
  def benfordCheck(s: SparkSession, dir: String): DataFrame = {
    val expArr = array(BenfordPpm.map(lit): _*)
    def leg(table: DataFrame, colName: String): DataFrame = {
      val digits = table
        .select(substring(
          floor(col(colName) * 100 + lit(0.5)).cast("long").cast("string"),
          1, 1).cast("int").as("d"))
        .filter(col("d").between(1, 9)) // Benford domain; see docstring
        .groupBy(col("d")).agg(count(lit(1)).as("n_obs"))
      val tot = digits.agg(sum(col("n_obs")).as("n_total"))
      val scored = digits.crossJoin(broadcast(tot)) // 1-row scalar frame
        .select(lit(colName).as("column"), col("d"), col("n_obs"),
          col("n_total"),
          expr("(n_obs * 1000000) div n_total").as("obs_ppm"),
          element_at(expArr, col("d")).as("exp_ppm"))
        .withColumn("dev_ppm", col("obs_ppm") - col("exp_ppm"))
        .localCheckpoint() // 9 rows; report + tvd read it
      val tvd = scored.agg(
        expr("sum(abs(dev_ppm)) div 2").as("tvd_ppm"))
      scored.crossJoin(broadcast(tvd)) // 1-row scalar frame
    }
    leg(orders(s, dir), "o_totalprice")
      .unionByName(leg(lineitem(s, dir), "l_extendedprice"))
  }

  val benfordCheckSql: String = {
    val expList = BenfordPpm.mkString("[", ", ", "]")
    def leg(table: String, colName: String): String =
      s"""SELECT '$colName' AS "column", d, n_obs, n_total, obs_ppm,
         |  ($expList)[d]::BIGINT AS exp_ppm,
         |  obs_ppm - ($expList)[d] AS dev_ppm,
         |  (SELECT (sum(abs(obs_ppm2 - ($expList)[d2])) // 2)::BIGINT
         |   FROM (SELECT d AS d2, (n_obs * 1000000 // n_total) AS obs_ppm2
         |         FROM dig_$colName, tot_$colName)) AS tvd_ppm
         |FROM (SELECT d, n_obs, n_total,
         |        (n_obs * 1000000 // n_total)::BIGINT AS obs_ppm
         |      FROM dig_$colName, tot_$colName)""".stripMargin
    s"""WITH dig_o_totalprice AS (
       |  SELECT d, count(*)::BIGINT AS n_obs FROM (
       |    SELECT TRY_CAST(substr(CAST(floor(o_totalprice * 100 + 0.5)::BIGINT AS VARCHAR), 1, 1) AS INT) AS d
       |    FROM orders) WHERE d BETWEEN 1 AND 9 GROUP BY 1),
       |tot_o_totalprice AS (
       |  SELECT sum(n_obs)::BIGINT AS n_total FROM dig_o_totalprice),
       |dig_l_extendedprice AS (
       |  SELECT d, count(*)::BIGINT AS n_obs FROM (
       |    SELECT TRY_CAST(substr(CAST(floor(l_extendedprice * 100 + 0.5)::BIGINT AS VARCHAR), 1, 1) AS INT) AS d
       |    FROM lineitem) WHERE d BETWEEN 1 AND 9 GROUP BY 1),
       |tot_l_extendedprice AS (
       |  SELECT sum(n_obs)::BIGINT AS n_total FROM dig_l_extendedprice)
       |${leg("orders", "o_totalprice")}
       |UNION ALL
       |${leg("lineitem", "l_extendedprice")}""".stripMargin
  }
}
