package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.ingest.ArtifactCache.Artifact

/** Table-maintenance operators (round-3 H-line): MERGE-style
  * change-feed application and snapshot diffing — the mutations a
  * long-lived analytical table takes after initial load (the
  * reference's Postgres table gets UPDATE/DELETE for free; a lake
  * table needs them as operators).
  *
  * The change feed is synthesized DETERMINISTICALLY from the
  * documents table so the oracle can re-derive it: doc_id % 10 == 0
  * are deletes, doc_id % 10 == 7 are updates (text replaced, n_chars
  * recomputed), and one insert per source beyond the current id
  * range. Scale shape: MERGE = one anti-join (deletes) + one
  * key-shuffle LWW (updates) + a union (inserts) — all on the key,
  * no full-table rewrite of untouched rows beyond the join itself.
  */
object Maintenance {

  /** The synthesized change feed: (op, doc_id, text, lang, source,
    * n_chars). */
  private[graft] def changes(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
    val deletes = d.filter(col("doc_id") % 10 === 0)
      .select(lit("delete").as("op"), col("doc_id"),
        lit(null).cast("string").as("text"), lit(null).cast("string").as("lang"),
        lit(null).cast("string").as("source"), lit(null).cast("long").as("n_chars"))
    val updTxt = concat(lit("updated "), col("doc_id").cast("string"))
    val updates = d.filter(col("doc_id") % 10 === 7)
      .select(lit("update").as("op"), col("doc_id"),
        updTxt.as("text"), col("lang"), col("source"), length(updTxt).cast("long").as("n_chars"))
    val maxId = d.agg(max(col("doc_id")).as("mx"))
    val insTxt = concat(lit("inserted for "), col("source"))
    val inserts = d.groupBy(col("source")).agg(min(col("lang")).as("lang"),
        min(col("doc_id")).as("mn"))
      .crossJoin(broadcast(maxId))
      .select(lit("insert").as("op"), (col("mx") + 1 + col("mn")).as("doc_id"),
        insTxt.as("text"), col("lang"), col("source"), length(insTxt).cast("long").as("n_chars"))
    deletes.unionByName(updates).unionByName(inserts)
  }

  private val changesSql: String =
    """ch AS (
      |  SELECT 'delete' AS op, doc_id, NULL AS text, NULL AS lang,
      |         NULL AS source, NULL::BIGINT AS n_chars
      |  FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT 'update', doc_id, 'updated ' || CAST(doc_id AS VARCHAR),
      |         lang, source, length('updated ' || CAST(doc_id AS VARCHAR))::BIGINT
      |  FROM documents WHERE doc_id % 10 = 7
      |  UNION ALL
      |  SELECT 'insert', (SELECT max(doc_id) FROM documents) + 1 + min(doc_id),
      |         'inserted for ' || source, min(lang), source,
      |         length('inserted for ' || source)::BIGINT
      |  FROM documents GROUP BY source)""".stripMargin

  /** H17: MERGE INTO semantics — apply the change feed to the base
    * table: DELETE removes, UPDATE replaces (LWW on the key: the
    * change row wins), INSERT appends. Emits the resulting table. */
  def mergeDelete(s: SparkSession, dir: String): DataFrame = {
    val base = documents(s, dir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars").cast("long").as("n_chars"))
    val ch = changes(s, dir)
    val deletes = ch.filter(col("op") === "delete").select(col("doc_id"))
    val upserts = ch.filter(col("op") =!= "delete").drop("op")
    // change rows outrank base rows on the same key (ver = 1 beats 0)
    val merged = graft.ingest.Upsert.lastWriteWins(
      base.withColumn("__ver", lit(0)).unionByName(upserts.withColumn("__ver", lit(1))),
      Seq("doc_id"), Seq(col("__ver").desc)).drop("__ver")
    merged.join(deletes, Seq("doc_id"), "left_anti")
  }

  private val mergedCte: String =
    """merged AS (
      |  SELECT doc_id, text, lang, source, n_chars FROM (
      |    SELECT doc_id, text, lang, source, n_chars, ver,
      |      row_number() OVER (PARTITION BY doc_id ORDER BY ver DESC) AS rn
      |    FROM (
      |      SELECT doc_id, text, lang, source, n_chars, 1 AS ver FROM ch WHERE op <> 'delete'
      |      UNION ALL
      |      SELECT doc_id, text, lang, source, CAST(n_chars AS BIGINT), 0 FROM documents))
      |  WHERE rn = 1
      |    AND doc_id NOT IN (SELECT doc_id FROM ch WHERE op = 'delete'))""".stripMargin

  val mergeDeleteSql: String =
    s"""WITH $changesSql,
       |$mergedCte
       |SELECT doc_id, text, lang, source, n_chars FROM merged""".stripMargin

  /** H18: snapshot diff — compare the base table and the merged
    * result (the audit a pipeline runs after every maintenance
    * window): per-source counts of added / removed / changed /
    * unchanged rows. One full-outer join on the key. */
  def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val base = documents(s, dir)
      .select(col("doc_id"), col("source"), col("text").as("t0"))
    val after = mergeDelete(s, dir)
      .select(col("doc_id"), col("source").as("src1"), col("text").as("t1"))
    base.join(after, Seq("doc_id"), "full_outer")
      .select(coalesce(col("source"), col("src1")).as("source"),
        when(col("t0").isNull, "added")
          .when(col("t1").isNull, "removed")
          .when(col("t0") =!= col("t1"), "changed")
          .otherwise("unchanged").as("change"))
      .groupBy(col("source"), col("change"))
      .agg(count(lit(1)).as("n"))
  }

  val snapshotDiffSql: String =
    s"""WITH $changesSql,
       |$mergedCte
       |SELECT coalesce(b.source, a.source) AS source,
       |  CASE WHEN b.doc_id IS NULL THEN 'added'
       |       WHEN a.doc_id IS NULL THEN 'removed'
       |       WHEN b.text <> a.text THEN 'changed'
       |       ELSE 'unchanged' END AS change,
       |  count(*) AS n
       |FROM documents b FULL OUTER JOIN merged a ON b.doc_id = a.doc_id
       |GROUP BY 1, 2""".stripMargin

  /** J-line: referential-integrity audit across the star schema —
    * per FK edge: child rows, distinct parents actually referenced,
    * and orphans (children whose parent key does not exist), the
    * load-validation every warehouse runs before trusting joins.
    * Each edge is one anti-join against the (broadcast-size after
    * distinct) parent key set; orphan counts should be zero — a
    * nonzero row is the alert. */
  def refIntegrity(s: SparkSession, dir: String): DataFrame = {
    def edge(name: String, child: DataFrame, ck: String,
             parent: DataFrame, pk: String): DataFrame = {
      val keys = child.select(col(ck).as("k"))
      val pkeys = parent.select(col(pk).as("k")).distinct()
      val orphans = keys.join(pkeys, Seq("k"), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
      keys.agg(count(lit(1)).as("n_child"),
          count_distinct(col("k")).as("n_parents_used"))
        .crossJoin(broadcast(orphans))
        .select(lit(name).as("rel"), col("n_child"),
          col("n_parents_used"), col("n_orphans"))
    }
    Seq(
      edge("lineitem->orders", lineitem(s, dir), "l_orderkey", orders(s, dir), "o_orderkey"),
      edge("lineitem->part", lineitem(s, dir), "l_partkey", part(s, dir), "p_partkey"),
      edge("lineitem->supplier", lineitem(s, dir), "l_suppkey", supplier(s, dir), "s_suppkey"),
      edge("orders->customer", orders(s, dir), "o_custkey", customer(s, dir), "c_custkey"),
      edge("customer->nation", customer(s, dir), "c_nationkey", nation(s, dir), "n_nationkey"),
      edge("supplier->nation", supplier(s, dir), "s_nationkey", nation(s, dir), "n_nationkey"))
      .reduce(_ unionByName _)
  }

  /** Column kinds for [[columnProfile]] — drives how min/max are
    * made cross-engine-comparable (doubles round to 4 dp, timestamps
    * format to seconds, integers cast to long). */
  private val ProfileCols: Seq[(String, String)] = Seq(
    "o_orderkey" -> "int", "o_custkey" -> "int",
    "o_orderstatus" -> "str", "o_totalprice" -> "double",
    "o_orderdate" -> "ts", "o_orderpriority" -> "str")

  /** J-line: table profiler over `orders` — per column: rows, nulls,
    * distincts, and typed min/max projected into a uniform schema
    * (numeric extremes in one pair of columns, lexical/temporal
    * extremes rendered to strings in another) — the
    * SUMMARIZE/profiling pass a pipeline runs on arrival.
    *
    * Plan shape: nulls + min/max ride ONE scan (a single aggregate
    * row); each EXACT distinct count is its own single-distinct
    * aggregate over a one-column pruned scan, 1-row-broadcast-joined
    * back. The tempting all-in-one form (6 count_distincts in one
    * agg) is a trap: Spark's multi-distinct rewrite Expands every
    * row ×(cols+1) and the string min/max buffers force the whole
    * expansion through a SortAggregate — a 7-column sort of 7N rows
    * (measured 3.9 s vs 0.9 s at sf0.1). Columnar scans make the
    * per-column pass the cheap direction: each reads ONE column,
    * hash-aggregated two-phase, no sort anywhere. */
  def columnProfile(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
    val aggs = ProfileCols.flatMap { case (c, kind) =>
      val base = Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"))
      val mm = kind match {
        case "int" => Seq(min(col(c)).cast("double").as(s"${c}_min_num"),
          max(col(c)).cast("double").as(s"${c}_max_num"))
        case "double" => Seq(
          graft.Portable.pround(min(col(c)), 4).as(s"${c}_min_num"),
          graft.Portable.pround(max(col(c)), 4).as(s"${c}_max_num"))
        case "ts" => Seq(date_format(min(col(c)), "yyyy-MM-dd HH:mm:ss").as(s"${c}_min_str"),
          date_format(max(col(c)), "yyyy-MM-dd HH:mm:ss").as(s"${c}_max_str"))
        case _ => Seq(min(col(c)).as(s"${c}_min_str"), max(col(c)).as(s"${c}_max_str"))
      }
      base ++ mm
    }
    val base = o.agg(count(lit(1)).as("n_rows"), aggs: _*)
    // one single-distinct agg per column: two-phase HashAggregate on
    // the pruned scan, then a 1-row broadcast join (the scalar-frame
    // crossJoin convention)
    val one = ProfileCols.foldLeft(base) { case (acc, (c, _)) =>
      acc.crossJoin(broadcast(
        o.agg(count_distinct(col(c)).as(s"${c}_distinct"))))
    }
    // unpivot by exploding structs off the SINGLE joined row — a
    // union of per-column selects would re-evaluate (re-scan) the
    // aggregate once per column
    val structs = ProfileCols.map { case (c, kind) =>
      val (minN, maxN, minS, maxS) = kind match {
        case "int" | "double" =>
          (col(s"${c}_min_num"), col(s"${c}_max_num"),
            lit(null).cast("string"), lit(null).cast("string"))
        case _ =>
          (lit(null).cast("double"), lit(null).cast("double"),
            col(s"${c}_min_str"), col(s"${c}_max_str"))
      }
      struct(lit(c).as("column"), col("n_rows"),
        col(s"${c}_nulls").as("n_nulls"), col(s"${c}_distinct").as("n_distinct"),
        minN.as("min_num"), maxN.as("max_num"),
        minS.as("min_str"), maxS.as("max_str"))
    }
    one.select(explode(array(structs: _*)).as("p")).select(col("p.*"))
  }

  val columnProfileSql: String = {
    def row(c: String, kind: String): String = {
      val (minN, maxN, minS, maxS) = kind match {
        case "int" => (s"min($c)::DOUBLE", s"max($c)::DOUBLE",
          "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
        case "double" => (s"floor((min($c)) * 10000.0 + 0.5) / 10000.0",
          s"floor((max($c)) * 10000.0 + 0.5) / 10000.0",
          "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
        case "ts" => ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
          s"strftime(CAST(min($c) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S')",
          s"strftime(CAST(max($c) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S')")
        case _ => ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
          s"min($c)", s"max($c)")
      }
      s"""SELECT '$c' AS "column", count(*) AS n_rows,
         |  sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
         |  count(DISTINCT $c) AS n_distinct,
         |  $minN AS min_num, $maxN AS max_num,
         |  $minS AS min_str, $maxS AS max_str
         |FROM orders""".stripMargin
    }
    ProfileCols.map { case (c, k) => row(c, k) }
      .mkString("", "\nUNION ALL\n", "")
  }

  val refIntegritySql: String = {
    def edge(name: String, child: String, ck: String,
             parent: String, pk: String): String =
      s"""SELECT '$name' AS rel, count(*) AS n_child,
         |  count(DISTINCT $ck) AS n_parents_used,
         |  (SELECT count(*) FROM $child c
         |   WHERE NOT EXISTS (SELECT 1 FROM $parent p WHERE p.$pk = c.$ck))::BIGINT
         |    AS n_orphans
         |FROM $child""".stripMargin
    Seq(
      edge("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      edge("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
      edge("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      edge("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
      edge("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      edge("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"))
      .mkString("", "\nUNION ALL\n", "")
  }

  /** K67: ordered CDC log compaction (the Debezium-shape replay) —
    * H17 applies ONE batch of changes; this replays a full ordered
    * op LOG per key and emits the compacted final state. Events
    * stand in as the log over user_id: signup = create, error =
    * delete (tombstone), everything else = update. Last op wins; a
    * key whose last op is a tombstone is dead-but-accounted (the
    * `alive` flag — compaction keeps the tombstone row until
    * retention, as real log-compacted stores do). The genuinely
    * ORDER-dependent statistic is `n_resurrections`: creates/updates
    * that immediately follow a tombstone (op ≠ d with lag(op) = d) —
    * a set-aggregate can't see it, only the per-key sequence can.
    * Shape: ONE user-keyed exchange; the lag window and the final
    * aggregate share that partitioning (no second shuffle), order
    * within a key is (ts, event_id) — total, engine-invariant. At
    * 100 TB the log is date-partitioned and compaction shuffles
    * (key, partial) per key exactly like this; state never exceeds
    * one key's rows per task. */
  def cdcReplay(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val ops = events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        when(col("event_type") === "signup", "c")
          .when(col("event_type") === "error", "d")
          .otherwise("u").as("op"))
      .withColumn("prev_op", lag(col("op"), 1).over(w))
    ops.groupBy(col("user_id"))
      .agg(
        max(struct(col("ts"), col("event_id"), col("op"))).as("last"),
        sum(when(col("op") === "c", 1L).otherwise(0L)).as("n_creates"),
        sum(when(col("op") === "u", 1L).otherwise(0L)).as("n_updates"),
        sum(when(col("op") === "d", 1L).otherwise(0L)).as("n_deletes"),
        sum(when(col("op") =!= "d" && col("prev_op") === "d", 1L)
          .otherwise(0L)).as("n_resurrections"))
      .select(col("user_id"),
        (col("last.op") =!= "d").as("alive"),
        date_format(col("last.ts"), "yyyy-MM-dd HH:mm:ss").as("last_ts"),
        col("last.op").as("last_op"),
        col("n_creates"), col("n_updates"), col("n_deletes"),
        col("n_resurrections"))
  }

  val cdcReplaySql: String =
    """WITH ops AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
      |    CASE WHEN event_type = 'signup' THEN 'c'
      |         WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op
      |  FROM events),
      |seq AS (
      |  SELECT *,
      |    lag(op) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_op,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM ops)
      |SELECT user_id,
      |  max(CASE WHEN rn = 1 THEN op END) <> 'd' AS alive,
      |  strftime(max(CASE WHEN rn = 1 THEN ts END), '%Y-%m-%d %H:%M:%S') AS last_ts,
      |  max(CASE WHEN rn = 1 THEN op END) AS last_op,
      |  sum(CASE WHEN op = 'c' THEN 1 ELSE 0 END)::BIGINT AS n_creates,
      |  sum(CASE WHEN op = 'u' THEN 1 ELSE 0 END)::BIGINT AS n_updates,
      |  sum(CASE WHEN op = 'd' THEN 1 ELSE 0 END)::BIGINT AS n_deletes,
      |  sum(CASE WHEN op <> 'd' AND prev_op = 'd' THEN 1 ELSE 0 END)::BIGINT
      |    AS n_resurrections
      |FROM seq GROUP BY user_id""".stripMargin

  /** The materialized aggregate view [[ivmAgg]] maintains — the
    * "materialized view on disk" the incremental refresh reads,
    * versioned by its view definition. */
  val IvmView: Artifact = Artifact("ivm_view", Seq("documents"), "ivm_view=source_lang_v1")

  def ensureIvmView(s: SparkSession, dir: String): String =
    IvmView.ensure(dir) { out =>
      documents(s, dir).groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars").cast("long")).as("sum_chars"))
        .write.mode("overwrite").parquet(out)
    }

  /** K101: INCREMENTAL VIEW MAINTENANCE — refresh the materialized
    * per-(source, lang) aggregate view under the [[changes]] feed
    * WITHOUT recomputing it from the base table: each change row
    * contributes a signed delta (delete → (−1, −old_chars); update →
    * (−1, −old) + (+1, +new); insert → (+1, +chars)), deltas fold to
    * per-group (Δn, Δchars), and the refreshed view is
    * old view ⟗ delta with groups driven to zero dropped. count/sum
    * are self-maintainable aggregates — no base-group rescan exists
    * anywhere in the refresh (min/max would need one on delete; that
    * is exactly why this view carries count+sum).
    *
    * Scale shape, with the IO term named honestly: SHUFFLE is
    * ∝ |delta| (the old-row fetch is a broadcast-keyed join — no
    * base-sized exchange anywhere, and the delta aggregate + view
    * merge carry group-cardinality frames), but the fetch's READ is
    * a scan of the base parquet: column-pruned to the four touched
    * columns yet still ∝ |base| rows, because this container's base
    * is a flat file with no key index. (A layout can't fix it HERE —
    * the synthetic delta touches every 10th doc_id, so any
    * key-range/bucket partitioning has all partitions touched.) In
    * production the base lives in a keyed store and this join is the
    * store's index point-lookup, ∝ |delta|; on a lake layout the
    * fetch prunes to the delta's touched key partitions. The driver
    * oracle proves the incremental path equals the full recompute
    * over the merged table — the IVM correctness contract. */
  def ivmAgg(s: SparkSession, dir: String): DataFrame = {
    val view = s.read.parquet(ensureIvmView(s, dir))
    val ch = changes(s, dir)
    // old rows for delete/update keys: one broadcast-keyed fetch
    val touchedKeys = ch.filter(col("op") =!= "insert").select(col("doc_id"))
    val removals = documents(s, dir)
      .join(broadcast(touchedKeys), Seq("doc_id"))
      .select(col("source"), col("lang"),
        lit(-1L).as("dn"), (col("n_chars").cast("long") * -1L).as("dc"))
    val additions = ch.filter(col("op") =!= "delete")
      .select(col("source"), col("lang"), lit(1L).as("dn"), col("n_chars").as("dc"))
    val delta = removals.unionByName(additions)
      .groupBy(col("source"), col("lang"))
      .agg(sum(col("dn")).as("dn"), sum(col("dc")).as("dc"))
    view.join(delta, Seq("source", "lang"), "full_outer")
      .select(col("source"), col("lang"),
        (coalesce(col("n_docs"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_docs"),
        (coalesce(col("sum_chars"), lit(0L)) + coalesce(col("dc"), lit(0L))).as("sum_chars"))
      .filter(col("n_docs") > 0)
  }

  /** The oracle is the FULL recompute over the merged table — hash
    * equality with the delta-only refresh is the IVM proof. */
  val ivmAggSql: String =
    s"""WITH $changesSql,
       |$mergedCte
       |SELECT source, lang, count(*) AS n_docs,
       |  sum(n_chars)::BIGINT AS sum_chars
       |FROM merged GROUP BY 1, 2""".stripMargin

  /** Record-linkage constants: the planted second-source key offset,
    * the assumed conditional-on-match agreement rates m per field in
    * per-mille (the published-practice priors a real run refines
    * with EM — the documented swap point), and the Fellegi-Sunter
    * decision thresholds on the floor-log2 score. */
  val RlTwinBase = 10000000L
  val RlMName = 980L
  val RlMBal = 650L
  val RlMSeg = 900L
  val RlThLink = 3L
  val RlThPoss = -2L

  /** Blocking-key name-prefix length. TPC-H customer names are
    * `Customer#` + 9 digits, so a 15-char prefix ("Customer#" + the
    * 6 high digits) buckets ≤1000 consecutive keys per prefix — the
    * NUMBER of blocks grows ∝ N while each block stays bounded, so
    * candidate pairs grow ∝ N, not N² (nationkey alone is 25 values
    * forever: Σ_b |A_b|·|B_b| ≈ N·M/25, quadratic — the bench slope
    * probe read 7.2 under it, the suite max; the Splink-standard fix
    * is exactly this compound nation × name-prefix block). Twins
    * keep the name verbatim, so prefix blocking loses zero recall. */
  val RlPrefixLen = 15

  /** The five TPC-H market segments, in sorted order (the planted
    * segment perturbation cycles to the next one). */
  val RlSegs: Seq[String] =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** K161: PROBABILISTIC RECORD LINKAGE — the Fellegi-Sunter model
    * (JASA 1969), the canonical entity-resolution method every
    * modern linker (Splink, dedupe.io) still implements: candidate
    * pairs get a field-agreement pattern γ, each field contributes
    * log(m/u) when it agrees and log((1−m)/(1−u)) when it doesn't
    * (m = P(agree | match), u = P(agree | non-match)), and the
    * summed score drives the THREE-way decision — link / possible
    * (clerical review) / non-link — that is the model's defining
    * output. Here: a planted second source (customers ≡0 mod 7,
    * key + [[RlTwinBase]], acctbal +1.0 when ≡0 mod 3, market
    * segment cycled when ≡0 mod 5), BLOCKING on the compound
    * nationkey × name-prefix([[RlPrefixLen]]) key — the Splink-style
    * cardinality-GROWING block: nation alone is 25 values forever
    * (candidates ∝ N², the one quadratic in the suite until r13),
    * while the compound key's block count grows ∝ N so candidates
    * grow ∝ N with zero recall loss (twins keep the name verbatim) —
    * comparison fields (name, acctbal, mktsegment). u-probabilities
    * are MEASURED on the candidate population (exact integer
    * agreement counts); m are the [[RlMName]]/[[RlMBal]]/[[RlMSeg]]
    * priors; weights in FLOOR-LOG2 fixed point (the dsir ilog2
    * convention: ilog2(m·np+1) − ilog2(1000·u+1)), so the whole
    * score is exact integer algebra. Score 0 is the even-odds point
    * (match and non-match equally likely under the priors); the
    * decision thresholds are the ±2 clerical band around it —
    * measured on this corpus the band is scale-stable (pattern-7
    * twins score 8/12/12 at sf0.001/0.01/0.1: under the linear
    * compound block the in-block agreement rates become
    * scale-INVARIANT once blocks saturate, so evidence plateaus
    * instead of growing with a quadratic pool — while the planted
    * doubly-perturbed twins sit at −2..1 (possible) and pure
    * non-matches at −11..−4, so the three-way split is invariant
    * across the 100× range). Output per
    * (pattern, score, decision): pair count and true-twin count —
    * the confusion accounting a linkage run is judged by.
    *
    * Shape: ONE blocked equi-join (∝ Σ_block |A_b|·|B_b|), the pair
    * frame persisted for its two consumers (the 1-row u aggregate
    * and the pattern rollup); everything after is map-only integer
    * algebra into a ≤8-row report. */
  /** The blocked candidate-pair frame (exposed for the plan gate:
    * the compound block must survive as equi-join keys). */
  private[graft] def recordLinkagePairs(s: SparkSession,
                                        dir: String): DataFrame = {
    val segs = array(RlSegs.map(lit): _*)
    val c = customer(s, dir).select(col("c_custkey"), col("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
    val twins = c.filter(col("c_custkey") % 7 === 0).select(
      (col("c_custkey") + RlTwinBase).as("b_key"),
      col("c_name").as("b_name"),
      col("c_nationkey").as("b_nation"),
      when(col("c_custkey") % 3 === 0, col("c_acctbal") + 1.0)
        .otherwise(col("c_acctbal")).as("b_bal"),
      when(col("c_custkey") % 5 === 0,
        element_at(segs,
          (array_position(segs, col("c_mktsegment")) % 5 + 1).cast("int")))
        .otherwise(col("c_mktsegment")).as("b_seg"))
    c.join(twins, col("c_nationkey") === col("b_nation") &&
        substring(col("c_name"), 1, RlPrefixLen) ===
          substring(col("b_name"), 1, RlPrefixLen))
      .select(col("c_custkey").as("da"), col("b_key").as("db"),
        (col("c_name") === col("b_name")).cast("long").as("g_name"),
        (col("c_acctbal") === col("b_bal")).cast("long").as("g_bal"),
        (col("c_mktsegment") === col("b_seg")).cast("long").as("g_seg"))
  }

  def recordLinkage(s: SparkSession, dir: String): DataFrame = {
    val pairs = recordLinkagePairs(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val u = pairs.agg(count(lit(1)).as("np"), sum(col("g_name")).as("u_name"),
      sum(col("g_bal")).as("u_bal"), sum(col("g_seg")).as("u_seg"))
    def ilog2(x: org.apache.spark.sql.Column) =
      (length(bin(x)) - 1).cast("long")
    def llr(g: org.apache.spark.sql.Column, m: Long,
            uc: org.apache.spark.sql.Column) =
      when(g === 1,
        ilog2(lit(m) * col("np") + 1) - ilog2(lit(1000L) * uc + 1))
        .otherwise(ilog2(lit(1000 - m) * col("np") + 1) -
          ilog2(lit(1000L) * (col("np") - uc) + 1))
    val out = pairs.crossJoin(broadcast(u)) // 1-row scalar frame
      .withColumn("pattern", col("g_name") * 4 + col("g_bal") * 2 + col("g_seg"))
      .withColumn("score", llr(col("g_name"), RlMName, col("u_name"))
        + llr(col("g_bal"), RlMBal, col("u_bal"))
        + llr(col("g_seg"), RlMSeg, col("u_seg")))
      .withColumn("decision",
        when(col("score") >= RlThLink, "link")
          .when(col("score") >= RlThPoss, "possible").otherwise("non_link"))
      .groupBy(col("pattern"), col("score"), col("decision"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("db") === col("da") + RlTwinBase, 1L).otherwise(0L))
          .as("n_true"))
      .localCheckpoint() // ≤8 rows; release the pair frame
    pairs.unpersist()
    out
  }

  val recordLinkageSql: String = {
    val segList = RlSegs.map(v => s"'$v'").mkString("[", ", ", "]")
    s"""WITH c AS (
       |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
       |  FROM customer),
       |twins AS (
       |  SELECT c_custkey + $RlTwinBase AS b_key, c_name AS b_name,
       |    c_nationkey AS b_nation,
       |    CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 1.0
       |         ELSE c_acctbal END AS b_bal,
       |    CASE WHEN c_custkey % 5 = 0
       |         THEN ($segList)[(list_position($segList, c_mktsegment) % 5 + 1)::INT]
       |         ELSE c_mktsegment END AS b_seg
       |  FROM c WHERE c_custkey % 7 = 0),
       |pairs AS (
       |  SELECT c_custkey AS da, b_key AS db,
       |    CASE WHEN c_name = b_name THEN 1 ELSE 0 END::BIGINT AS g_name,
       |    CASE WHEN c_acctbal = b_bal THEN 1 ELSE 0 END::BIGINT AS g_bal,
       |    CASE WHEN c_mktsegment = b_seg THEN 1 ELSE 0 END::BIGINT AS g_seg
       |  FROM c JOIN twins ON c_nationkey = b_nation
       |    AND substr(c_name, 1, $RlPrefixLen) = substr(b_name, 1, $RlPrefixLen)),
       |u AS (
       |  SELECT count(*)::BIGINT AS np, sum(g_name)::BIGINT AS u_name,
       |    sum(g_bal)::BIGINT AS u_bal, sum(g_seg)::BIGINT AS u_seg
       |  FROM pairs),
       |sc AS (
       |  SELECT da, db, g_name * 4 + g_bal * 2 + g_seg AS pattern,
       |    (CASE WHEN g_name = 1
       |        THEN (length(bin($RlMName * np + 1)) - 1) - (length(bin(1000 * u_name + 1)) - 1)
       |        ELSE (length(bin(${1000 - RlMName} * np + 1)) - 1)
       |           - (length(bin(1000 * (np - u_name) + 1)) - 1) END
       |   + CASE WHEN g_bal = 1
       |        THEN (length(bin($RlMBal * np + 1)) - 1) - (length(bin(1000 * u_bal + 1)) - 1)
       |        ELSE (length(bin(${1000 - RlMBal} * np + 1)) - 1)
       |           - (length(bin(1000 * (np - u_bal) + 1)) - 1) END
       |   + CASE WHEN g_seg = 1
       |        THEN (length(bin($RlMSeg * np + 1)) - 1) - (length(bin(1000 * u_seg + 1)) - 1)
       |        ELSE (length(bin(${1000 - RlMSeg} * np + 1)) - 1)
       |           - (length(bin(1000 * (np - u_seg) + 1)) - 1) END)::BIGINT AS score
       |  FROM pairs, u)
       |SELECT pattern, score,
       |  CASE WHEN score >= $RlThLink THEN 'link'
       |       WHEN score >= $RlThPoss THEN 'possible'
       |       ELSE 'non_link' END AS decision,
       |  count(*)::BIGINT AS n_pairs,
       |  sum(CASE WHEN db = da + $RlTwinBase THEN 1 ELSE 0 END)::BIGINT AS n_true
       |FROM sc GROUP BY 1, 2, 3""".stripMargin
  }

  /** [[soundexBlocking]] letter→code tables (Russell & Odell's
    * American Soundex, US patents 1261167/1435663, 1918/22 — the
    * canonical phonetic blocking key in record linkage since
    * Fellegi-Sunter): consonant classes 1-6, vowels+y → '0'
    * (they BREAK duplicate runs but emit nothing), h/w deleted
    * (they're TRANSPARENT: same-class consonants around them still
    * collapse — the rule naive implementations drop). */
  val SdxMatch = "bfpvcgjkqsxzdtlmnraeiouyhw"
  val SdxReplace = "111122222222334556000000"

  /** K189: SOUNDEX PHONETIC BLOCKING — encode every distinct part-
    * name token with American Soundex and report the phonetic
    * buckets (code, distinct tokens, total occurrences, smallest
    * member). The blocking-key STUDY for the K167 record-linkage
    * family: Fellegi-Sunter needs candidate pairs, candidate pairs
    * need blocks, and Soundex is the century-old standard phonetic
    * block (typo-tolerant where K167's name-prefix block is not —
    * 'smith'/'smyth' share S530 but no 5-char prefix). Pure string
    * algebra, identical in both engines: translate() maps classes
    * and DELETES h/w (both engines drop match-chars beyond the
    * replace string — verified), adjacent-duplicate collapse is a
    * string-accumulator fold (Spark `aggregate` HOF / DuckDB
    * list_reduce with a prepended-'' seed), then the first-letter
    * code is dropped BEFORE zero-removal (a second letter sharing
    * the first's class must collapse into it — Pfister → P236) —
    * unless the first letter is h/w, whose code was deleted (hmm →
    * H500, the edge naive drop-first breaks). Validated against the
    * canonical vectors: Robert→R163, Tymczak→T522, Ashcraft→A261.
    *
    * Shape: one part scan → explode → per-token map-only encode
    * (codegen'd string ops, no shuffle) → one (code)-keyed
    * aggregate. At 100 TB the encode is the cheap half of a
    * blocking join; the bucket histogram is the skew audit run
    * BEFORE committing to the block key. */
  def soundexBlocking(s: SparkSession, dir: String): DataFrame = {
    val toks = part(s, dir)
      .select(explode(split(lower(col("p_name")), " ")).as("tok"))
      .where(col("tok").rlike("^[a-z]+$"))
    val codes = translate(col("tok"), SdxMatch, SdxReplace)
    val collapsed = expr("aggregate(filter(split(codes, ''), c -> c <> ''), " +
      "'', (acc, c) -> CASE WHEN substring(acc, -1, 1) = c THEN acc " +
      "ELSE concat(acc, c) END)")
    val body = when(substring(col("tok"), 1, 1).isin("h", "w"),
      col("collapsed")).otherwise(expr("substring(collapsed, 2)"))
    toks.withColumn("codes", codes)
      .withColumn("collapsed", collapsed)
      .withColumn("sdx", concat(upper(substring(col("tok"), 1, 1)),
        substring(concat(regexp_replace(body, "0", ""), lit("000")), 1, 3)))
      .groupBy(col("sdx"))
      .agg(countDistinct(col("tok")).as("n_tokens"),
        count(lit(1)).as("n_occur"), min(col("tok")).as("rep_tok"))
  }

  val soundexBlockingSql: String =
    s"""WITH toks AS (
       |  SELECT unnest(string_split(lower(p_name), ' ')) AS tok FROM part),
       |ok AS (SELECT tok FROM toks WHERE regexp_full_match(tok, '[a-z]+')),
       |c AS (SELECT tok,
       |        translate(tok, '$SdxMatch', '$SdxReplace') AS codes
       |      FROM ok),
       |f AS (
       |  SELECT tok,
       |    list_reduce(list_prepend('', string_split(codes, '')),
       |      (acc, ch) -> CASE WHEN substr(acc, length(acc), 1) = ch
       |        THEN acc ELSE acc || ch END) AS collapsed
       |  FROM c),
       |enc AS (
       |  SELECT tok,
       |    upper(substr(tok, 1, 1)) ||
       |    substr(replace(CASE WHEN substr(tok, 1, 1) IN ('h', 'w')
       |        THEN collapsed ELSE substr(collapsed, 2) END, '0', '')
       |      || '000', 1, 3) AS sdx
       |  FROM f)
       |SELECT sdx, count(DISTINCT tok)::BIGINT AS n_tokens,
       |  count(*)::BIGINT AS n_occur, min(tok) AS rep_tok
       |FROM enc GROUP BY 1""".stripMargin
}
