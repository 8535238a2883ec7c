package graft.ingest

import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** SparkEntry-facing ingestion queries (SURVEY.md §2 A*). Each maps
  * a reference behavior onto the driver's testdata tables.
  */
object Ingest {

  /** A1: manifest spanning the events table's date extent. */
  def ingestManifest(s: SparkSession, dir: String): DataFrame =
    Manifest.spanning(Tables.events(s, dir), "ts")

  val ingestManifestSql: String =
    """WITH r AS (SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1 FROM events),
      |s AS (SELECT unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS d FROM r)
      |SELECT CAST(d AS DATE) AS d,
      |       'sor-discord-netherlands-bv-' || strftime(CAST(d AS DATE), '%Y-%m-%d') || '-full.zip' AS file,
      |       CAST(d AS DATE) < DATE '2024-08-21' AS before_epoch
      |FROM s""".stripMargin

  /** A2: documents → CSV members inside a nested zip fixture →
    * ZipCsv.read roundtrip. The oracle is the original table: the
    * zip/CSV/quote/header-map path must reproduce it exactly. */
  def zipcsvRead(s: SparkSession, dir: String): DataFrame = {
    val fixture = ZipFixture.ensure(s, dir)
    ZipCsv.read(s, fixture, Seq("doc_id", "text", "lang", "source", "n_chars"))
      .drop("_src")
  }

  val zipcsvReadSql: String =
    """SELECT CAST(doc_id AS VARCHAR) AS doc_id, text, lang, source,
      |       CAST(n_chars AS VARCHAR) AS n_chars
      |FROM documents""".stripMargin

  /** A3: typed Decision-field parsing (ts / array / tri-state bool)
    * over strings synthesized from events — exercises the
    * null-on-malformed, JSON-else-singleton, and yes/no/null paths.
    * Timestamps are emitted as formatted strings (tz-representation
    * neutral for the oracle compare). */
  def decisionParse(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(
      col("event_id"),
      when(col("event_id") % 11 === 0, lit("bogus"))
        .otherwise(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss")).as("ts_str"),
      when(col("event_id") % 4 === 0, concat(lit("[\""), col("event_type"), lit("\",\"extra\"]")))
        .when(col("event_id") % 4 === 1, col("event_type"))
        .when(col("event_id") % 4 === 2, lit(""))
        .otherwise(lit("[not json")).as("arr_str"),
      when(col("event_id") % 3 === 0, lit("Yes"))
        .when(col("event_id") % 3 === 1, lit("no"))
        .otherwise(lit("dunno")).as("bool_str"))
    val arr = DecisionParser.parseArray(col("arr_str"))
    e.select(
      col("event_id"),
      date_format(DecisionParser.parseTs(col("ts_str")), "yyyy-MM-dd HH:mm:ss").as("parsed_ts"),
      when(arr.isNull, lit(null).cast("string")).otherwise(concat_ws("|", arr)).as("parsed_arr"),
      DecisionParser.parseBool(col("bool_str")).as("parsed_bool"))
  }

  val decisionParseSql: String =
    """WITH e AS (
      |  SELECT event_id,
      |    CASE WHEN event_id % 11 = 0 THEN 'bogus'
      |         ELSE strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') END AS ts_str,
      |    CASE WHEN event_id % 4 = 0 THEN '["' || event_type || '","extra"]'
      |         WHEN event_id % 4 = 1 THEN event_type
      |         WHEN event_id % 4 = 2 THEN ''
      |         ELSE '[not json' END AS arr_str,
      |    CASE WHEN event_id % 3 = 0 THEN 'Yes'
      |         WHEN event_id % 3 = 1 THEN 'no'
      |         ELSE 'dunno' END AS bool_str
      |  FROM events)
      |SELECT event_id,
      |  strftime(try_strptime(ts_str, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S') AS parsed_ts,
      |  CASE WHEN arr_str = '' THEN NULL
      |       WHEN TRY_CAST(TRY_CAST(arr_str AS JSON) AS VARCHAR[]) IS NOT NULL
      |         THEN array_to_string(TRY_CAST(TRY_CAST(arr_str AS JSON) AS VARCHAR[]), '|')
      |       ELSE arr_str END AS parsed_arr,
      |  CASE WHEN lower(bool_str) = 'yes' THEN TRUE
      |       WHEN lower(bool_str) = 'no' THEN FALSE
      |       ELSE NULL END AS parsed_bool
      |FROM e""".stripMargin

  /** A4: snowflake decode over ids synthesized from events
    * (snowflake = event_id << 22 so decoded ms = event_id + epoch). */
  def snowflakeDecode(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(
      col("event_id"),
      concat_ws("-", shiftleft(col("event_id"), 22).cast("string"),
        col("user_id").cast("string"), lit("user")).as("platform_uid"))
    val (ms, id, tp) = DecisionParser.platformUidCols(col("platform_uid"))
    e.select(col("event_id"), col("platform_uid"),
      ms.as("snowflake_ms"), id.as("entity_id"), tp.as("entity_type"))
  }

  val snowflakeDecodeSql: String =
    """SELECT event_id,
      |  CAST(event_id << 22 AS VARCHAR) || '-' || CAST(user_id AS VARCHAR) || '-user' AS platform_uid,
      |  ((event_id << 22) >> 22) + 1420070400000 AS snowflake_ms,
      |  CAST(user_id AS VARCHAR) AS entity_id,
      |  'user' AS entity_type
      |FROM events""".stripMargin

  /** A5: last-write-wins upsert semantics — latest event per user
    * (created_at analog = ts, unique tiebreak = event_id). */
  def dedupUpsert(s: SparkSession, dir: String): DataFrame =
    Upsert.lastWriteWins(Tables.events(s, dir), Seq("user_id"),
      Seq(col("ts").desc, col("event_id").desc))
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))

  val dedupUpsertSql: String =
    """SELECT event_id, user_id, event_type, value FROM (
      |  SELECT event_id, user_id, event_type, value,
      |    row_number() OVER (PARTITION BY user_id
      |                       ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
      |  FROM events) WHERE rn = 1""".stripMargin

  /** H13: incremental upsert maintenance — the daily-delta merge the
    * reference's loop performs against Postgres, as distributed view
    * maintenance: base = events before the span midpoint, delta = the
    * rest; merge = LWW(LWW(base) ∪ delta). Because the LWW ordering
    * is total, the merge is ASSOCIATIVE — merging any partition of
    * the input equals the full recompute, which is exactly what makes
    * day-at-a-time ingestion safe at 100 TB (only the delta and the
    * compacted state shuffle, never history). Oracle = the full
    * recompute (dedup_upsert's oracle). */
  def incrementalUpsert(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val cut = e.agg(to_date(min(col("ts"))).as("d0"), to_date(max(col("ts"))).as("d1"))
      .select(date_add(col("d0"), (datediff(col("d1"), col("d0")) / 2).cast("int"))
        .cast("timestamp").as("cut"))
    val tagged = e.crossJoin(broadcast(cut))
    val base = tagged.filter(col("ts") < col("cut")).drop("cut")
    val delta = tagged.filter(col("ts") >= col("cut")).drop("cut")
    val ord = Seq(col("ts").desc, col("event_id").desc)
    val state0 = Upsert.lastWriteWins(base, Seq("user_id"), ord)
    Upsert.lastWriteWins(state0.unionByName(delta), Seq("user_id"), ord)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
  }

  /** A6: run stats — per-source-file row counts (main.go:157-165's
    * rows-inserted/table-size report, from the plan side). */
  def ingestStats(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(regexp_extract(input_file_name(), "[^/]+$", 0).as("file"))
      .groupBy(col("file")).agg(count(lit(1)).as("n_rows"))

  val ingestStatsSql: String =
    "SELECT 'lineitem.parquet' AS file, count(*) AS n_rows FROM lineitem"

  /** A7: the sink's batching plan — rows chunked into
    * [[JdbcBatch]]-row transactions (utils.go:88-119's 1000-row
    * batches, sized down so verify sees several). Batching is
    * WRITER-LOCAL, exactly like [[graft.sinks.JdbcUpsertSink]]'s
    * per-partition transactions: a deterministic key hash routes
    * each row to one of [[JdbcShards]] writers and the row_number
    * window partitions by writer — no global single-partition window
    * at any scale. (No DB in the test container; statement text +
    * batching math are spec-tested.) */
  val JdbcBatch = 100
  val JdbcShards = 8
  def jdbcSink(s: SparkSession, dir: String): DataFrame = {
    val shard = pmod(col("doc_id") * 2654435761L % 1000000007L, lit(JdbcShards))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("writer")).orderBy(col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), shard.as("writer"))
      .withColumn("batch_id", floor((row_number().over(w) - 1) / JdbcBatch))
      .groupBy(col("writer"), col("batch_id")).agg(count(lit(1)).as("n_rows"))
  }

  val jdbcSinkSql: String =
    s"""SELECT writer, batch_id, count(*) AS n_rows FROM (
       |  SELECT writer,
       |    (row_number() OVER (PARTITION BY writer ORDER BY doc_id) - 1) // $JdbcBatch AS batch_id
       |  FROM (SELECT doc_id, (doc_id * 2654435761 % 1000000007) % $JdbcShards AS writer
       |        FROM documents)) GROUP BY writer, batch_id""".stripMargin

  /** A9: the manifest-driven download loop (main.go:146-154,
    * 176-186) against a local file:// mirror — three published CSV
    * parts (documents keyed by doc_id % 3) plus one never-published
    * file (the 403-analog → permanent_fail, no retry). Emits
    * per-file fetch status, attempts, parsed row count, byte size —
    * bytes-under-management is the reference's table-size report
    * (main.go:161-165) seen from the ingest side. The oracle
    * recomputes BOTH counts and exact byte sizes from the documents
    * table (header 32 bytes + per-row field bytes + separators; the
    * corpus contains no characters needing CSV quoting, which the
    * fixture writer would quote and the oracle would then count). */
  def fetchIngest(s: SparkSession, dir: String): DataFrame = {
    val base = Fetch.fetchArchives(
      FetchManifest.manifest(s, dir), "url")
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("file", org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("status", org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("attempts", org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("n_rows", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_bytes", org.apache.spark.sql.types.LongType, nullable = false)))
    base.mapPartitions { it: Iterator[org.apache.spark.sql.Row] =>
      it.map { r =>
        val url = r.getString(0)
        // positional: mapPartitions rows carry no schema for getAs-by-name
        val content = if (r.isNullAt(4)) null else r.getAs[Array[Byte]](4)
        val nRows =
          if (content == null) 0L
          else (Csv.records(new String(content, StandardCharsets.UTF_8)).length - 1).toLong
        org.apache.spark.sql.Row(url.substring(url.lastIndexOf('/') + 1),
          r.getString(1), r.getInt(2), nRows, r.getLong(3))
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  val fetchIngestSql: String =
    """WITH b AS (
      |  SELECT doc_id % 3 AS part, count(*) AS n_rows,
      |    sum(strlen(CAST(doc_id AS VARCHAR)) + strlen(text) + strlen(lang)
      |        + strlen(source) + strlen(CAST(n_chars AS VARCHAR)) + 5) AS body
      |  FROM documents GROUP BY 1)
      |SELECT 'part_' || CAST(part AS VARCHAR) || '.csv' AS file,
      |  'fetched' AS status, 1 AS attempts,
      |  n_rows::BIGINT AS n_rows, (body + 32)::BIGINT AS n_bytes
      |FROM b
      |UNION ALL
      |SELECT 'part_404.csv', 'permanent_fail', 1, 0::BIGINT, 0::BIGINT""".stripMargin

  /** A10: bytes under management per parquet file (the
    * pg_size_pretty table-size stat, main.go:161-165) from the file
    * index's `_metadata` column — zero extra IO. File sizes are
    * invisible to the oracle's table views → rows-only for the
    * driver; the spec asserts exact equality with the filesystem. */
  def tableSizes(s: SparkSession, dir: String): DataFrame =
    Seq("lineitem", "orders", "events", "documents").map { t =>
      Tables.t(s, dir, t)
        .select(regexp_extract(col("_metadata.file_path"), "[^/]+$", 0).as("file"),
          col("_metadata.file_size").as("n_bytes"))
        .groupBy(col("file"), col("n_bytes")).agg(count(lit(1)).as("n_rows"))
    }.reduce(_ unionByName _)
      .select(col("file"), col("n_rows"), col("n_bytes"))

  /** Oracle of A8's streaming ingest, [[graft.streaming.StreamIngest.run]]. */
  val streamIngestSql: String =
    """SELECT strftime(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS hour,
      |  event_type, count(*) AS n
      |FROM events GROUP BY 1, 2""".stripMargin

  /** K37: MALFORMED-ROW-TOLERANT CSV INGEST — the PERMISSIVE +
    * `columnNameOfCorruptRecord` accounting pattern every dirty-CSV
    * pipeline at scale needs: the planted fixture corrupts rows two
    * deterministic ways (unparseable numeric token; an extra column),
    * the typed read flags them WITHOUT failing the job or silently
    * dropping data, and the report proves conservation — every input
    * row lands in exactly one status with partial-parse sums
    * (PERMISSIVE keeps the tokens that DID parse: a corrupt row's
    * doc_id still counts into sum_ids; the unparseable n_chars does
    * not). The oracle recomputes the same accounting from the source
    * table's planting arithmetic, so the gate pins Spark's actual
    * malformed-row semantics, not an assumption about them. Scan
    * scales like any CSV read (per-file splits); the report is one
    * 2-row aggregate. */
  def csvBadRecords(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val path = CsvBadFixture.ensure(s, dir)
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("lang", StringType),
      StructField("n_chars", LongType),
      StructField("_corrupt", StringType)))
    s.read.schema(schema)
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(path)
      .select(
        when(col("_corrupt").isNull, lit("parsed")).otherwise(lit("corrupt"))
          .as("status"),
        col("doc_id"), col("lang"), col("n_chars"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("doc_id")).as("sum_ids"),
        sum(col("n_chars")).as("sum_chars"),
        countDistinct(col("lang")).as("n_langs"))
  }

  /** K85: JSONL INGESTION — reading the corpus interchange format
    * (one JSON object per line) with an explicit schema and
    * PERMISSIVE corrupt-record accounting, the schema-on-read
    * semantics that differ from CSV's (K37) in exactly the ways this
    * op pins: a SYNTAX error corrupts the whole row (JSON's failure
    * unit), while a MISSING field is valid JSON and parses to null —
    * no corruption at all. Emits the per-status accounting a pipeline
    * gates ingestion on. Scan-parallel at any scale (JSONL splits on
    * line boundaries); one bounded aggregate. */
  def jsonlRead(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val path = JsonlFixture.ensure(s, dir)
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("lang", StringType),
      StructField("n_chars", LongType),
      StructField("_corrupt", StringType)))
    s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(path)
      .select(
        when(col("_corrupt").isNull, lit("parsed")).otherwise(lit("corrupt"))
          .as("status"),
        col("doc_id"), col("lang"), col("n_chars"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("doc_id")).as("sum_ids"),
        sum(col("n_chars")).as("sum_chars"),
        sum(when(col("status") === "parsed" && col("lang").isNull, 1L)
          .otherwise(0L)).as("n_missing_lang"))
  }

  /** The oracle replays [[JsonlFixture]]'s planting arithmetic over
    * `documents`: % 10 = 4 → truncated line (whole row corrupt, all
    * fields null), else % 13 = 0 → `lang` absent (parsed, lang null). */
  val jsonlReadSql: String =
    """WITH r AS (
      |  SELECT doc_id, lang, n_chars,
      |    CASE WHEN doc_id % 10 = 4 THEN 'corrupt' ELSE 'parsed' END AS status,
      |    (doc_id % 10 <> 4 AND doc_id % 13 = 0) AS miss_lang
      |  FROM documents)
      |SELECT status, count(*) AS n_rows,
      |  sum(CASE WHEN status = 'parsed' THEN doc_id END)::BIGINT AS sum_ids,
      |  sum(CASE WHEN status = 'parsed' THEN n_chars END)::BIGINT AS sum_chars,
      |  sum(CASE WHEN miss_lang THEN 1 ELSE 0 END)::BIGINT AS n_missing_lang
      |FROM r GROUP BY 1""".stripMargin

  /** Char floor for [[orcRoundtrip]]'s pushdown filter — mid-range
    * for the generator's n_chars distribution, so the predicate
    * genuinely drops rows at every SF. */
  val OrcMinChars = 200L

  /** K90: ORC ROUND-TRIP — the columnar sibling format: write the
    * documents projection to ORC with Spark's distributed writer
    * (the fixture is built BY the engine under test, unlike the
    * hand-fabricated zip/jsonl archives), read it back through the
    * ORC source with a pushed n_chars predicate, and aggregate per
    * language. Proves format fidelity end-to-end — types, nulls, and
    * row counts survive the round trip bit-for-bit (the oracle
    * computes the same aggregate from the original parquet, so ANY
    * write/read corruption breaks the hash gate) — and that the
    * scan-side contracts the parquet path relies on (column pruning,
    * predicate pushdown via ORC search arguments, line-splittable
    * parallel reads) hold on ORC too; a spec asserts the pushed
    * filter reaches the ORC scan. */
  def orcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val path = OrcFixture.ensure(s, dir)
    s.read.orc(s"$path/docs")
      .filter(col("n_chars") >= OrcMinChars)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        count_distinct(col("source")).as("n_sources"),
        sum(col("doc_id")).as("sum_ids"))
  }

  val orcRoundtripSql: String =
    s"""SELECT lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars,
       |  count(DISTINCT source)::BIGINT AS n_sources,
       |  sum(doc_id)::BIGINT AS sum_ids
       |FROM documents WHERE n_chars >= $OrcMinChars GROUP BY 1""".stripMargin

  /** The oracle replays [[CsvBadFixture]]'s planting arithmetic over
    * `documents`: % 10 = 3 → unparseable n_chars (numeric null, row
    * corrupt), else % 17 = 0 → extra column (all fields parse, row
    * still corrupt). */
  val csvBadRecordsSql: String =
    """WITH r AS (
      |  SELECT doc_id, lang, n_chars,
      |    CASE WHEN doc_id % 10 = 3 OR doc_id % 17 = 0
      |         THEN 'corrupt' ELSE 'parsed' END AS status,
      |    (doc_id % 10 = 3) AS bad_num
      |  FROM documents)
      |SELECT status, count(*) AS n_rows,
      |  sum(doc_id)::BIGINT AS sum_ids,
      |  sum(CASE WHEN bad_num THEN NULL ELSE n_chars END)::BIGINT AS sum_chars,
      |  count(DISTINCT lang)::BIGINT AS n_langs
      |FROM r GROUP BY 1""".stripMargin

  /** K145: WARC RECORD INTEGRITY — the CommonCrawl WARC/WET header
    * pass every web corpus runs FIRST (ISO 28500: a crawl archive is
    * typed records with declared Content-Length; only `response`
    * records with sound lengths feed extraction — K124 html_extract
    * sits immediately downstream): records planted deterministically
    * (version line, WARC-Type on doc_id mod 5 — request / metadata /
    * response — Target-URI on the url_filter host lattice, a
    * Content-Length corrupted by +5 on doc_id mod 11, blank line,
    * payload); headers parse with regexp_extract in the shared
    * subset, the payload re-measures AFTER the header/payload split
    * (instr on the blank line — the real integrity check, never
    * trusting the planted arithmetic), and the declared length is
    * compared to the measured one. Per WARC-Type: records, bad
    * lengths, measured payload bytes, distinct target hosts.
    *
    * Scale shape: record synthesis + header parse + length check are
    * map-only (one projection chain per record); ONE type-keyed
    * combining aggregate ends the plan (3 rows out). At 100 TB this
    * is the per-shard WARC scan it is in production. */
  def warcStats(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val wtype = when(id % 5 === 0, "request")
      .when(id % 5 === 1, "metadata").otherwise("response")
    val declared = length(col("text")) +
      when(id % 11 === 0, 5).otherwise(0)
    val rec = concat(
      lit("WARC/1.0\nWARC-Type: "), wtype,
      lit("\nWARC-Record-ID: <urn:uuid:"), id.cast("string"),
      lit(">\nWARC-Target-URI: https://site"), (id % 7).cast("string"),
      lit(".example.com/page"), (id % 13).cast("string"),
      lit("\nContent-Length: "), declared.cast("string"),
      lit("\n\n"), col("text"))
    Tables.documents(s, dir)
      .select(id, rec.as("rec"))
      .select(id,
        regexp_extract(col("rec"), "WARC-Type: ([a-z]+)", 1).as("wtype"),
        regexp_extract(col("rec"), "WARC-Target-URI: https://([a-z0-9.-]+)", 1)
          .as("host"),
        regexp_extract(col("rec"), "Content-Length: ([0-9]+)", 1)
          .cast("long").as("declared"),
        // measure the payload from the record itself, after the
        // header/blank-line split — never trust the header
        (length(col("rec")) - (instr(col("rec"), "\n\n") + 1)).as("measured"))
      .groupBy(col("wtype"))
      .agg(count(lit(1)).as("n_records"),
        sum(when(col("declared") =!= col("measured"), 1L).otherwise(0L))
          .as("n_bad_length"),
        sum(col("measured")).as("payload_bytes"),
        countDistinct(col("host")).as("n_hosts"))
  }

  val warcStatsSql: String =
    """WITH r AS (
      |  SELECT doc_id,
      |    'WARC/1.0' || chr(10) || 'WARC-Type: '
      |    || CASE WHEN doc_id % 5 = 0 THEN 'request'
      |            WHEN doc_id % 5 = 1 THEN 'metadata'
      |            ELSE 'response' END
      |    || chr(10) || 'WARC-Record-ID: <urn:uuid:' || CAST(doc_id AS VARCHAR)
      |    || '>' || chr(10) || 'WARC-Target-URI: https://site'
      |    || CAST(doc_id % 7 AS VARCHAR) || '.example.com/page'
      |    || CAST(doc_id % 13 AS VARCHAR)
      |    || chr(10) || 'Content-Length: '
      |    || CAST(length(text) + CASE WHEN doc_id % 11 = 0 THEN 5 ELSE 0 END AS VARCHAR)
      |    || chr(10) || chr(10) || text AS rec
      |  FROM documents),
      |h AS (
      |  SELECT doc_id,
      |    regexp_extract(rec, 'WARC-Type: ([a-z]+)', 1) AS wtype,
      |    regexp_extract(rec, 'WARC-Target-URI: https://([a-z0-9.-]+)', 1) AS host,
      |    CAST(regexp_extract(rec, 'Content-Length: ([0-9]+)', 1) AS BIGINT) AS declared,
      |    length(rec) - (strpos(rec, chr(10) || chr(10)) + 1) AS measured
      |  FROM r)
      |SELECT wtype, count(*)::BIGINT AS n_records,
      |  sum(CASE WHEN declared <> measured THEN 1 ELSE 0 END)::BIGINT AS n_bad_length,
      |  sum(measured)::BIGINT AS payload_bytes,
      |  count(DISTINCT host)::BIGINT AS n_hosts
      |FROM h GROUP BY 1""".stripMargin
}

/** Deterministic dirty-CSV fixture for K37: the documents table as
  * one CSV with two planted corruption modes keyed on doc_id —
  * `% 10 = 3` writes an unparseable n_chars token (`x<id>`), else
  * `% 17 = 0` appends a spurious extra column. Exactly one mode per
  * row, so the status accounting is closed-form. */
object CsvBadFixture {
  val Fixture: ArtifactCache.Artifact = ArtifactCache.Artifact("csvbad", Seq("documents"), "v1")

  def ensure(s: SparkSession, dir: String): String =
    Fixture.ensure(dir) { tmp =>
      val rows = Tables.documents(s, dir).select("doc_id", "lang", "n_chars")
        .orderBy("doc_id").collect()
      val sb = new StringBuilder("doc_id,lang,n_chars\n")
      rows.foreach { r =>
        val (id, lang, nc) = (r.getLong(0), r.getString(1), r.getLong(2))
        if (id % 10 == 3) sb.append(s"$id,$lang,x$id\n")
        else if (id % 17 == 0) sb.append(s"$id,$lang,$nc,junk\n")
        else sb.append(s"$id,$lang,$nc\n")
      }
      Files.write(Paths.get(tmp, "dump.csv"),
        sb.toString.getBytes(StandardCharsets.UTF_8))
    }
}

/** ORC copy of the documents projection for K90 — written by Spark's
  * own distributed ORC writer (the round-trip under test), once per
  * documents table. */
object OrcFixture {
  val Fixture: ArtifactCache.Artifact = ArtifactCache.Artifact("orc", Seq("documents"), "v1")

  def ensure(s: SparkSession, dir: String): String =
    Fixture.ensure(dir) { tmp =>
      Tables.documents(s, dir).select("doc_id", "lang", "source", "n_chars")
        .write.orc(s"$tmp/docs")
    }
}

/** Deterministic JSONL fixture for K85: the documents table as JSON
  * LINES (the corpus interchange format) with two planted modes keyed
  * on doc_id, exactly one per row so the accounting is closed-form:
  * `% 10 = 4` → TRUNCATED json (a syntax error — the whole row goes
  * corrupt, JSON's failure unit, unlike CSV's per-field one); else
  * `% 13 = 0` → the `lang` field is MISSING (valid JSON — parses with
  * a null, NOT corrupt; schema-on-read absorbs absent fields). */
object JsonlFixture {
  val Fixture: ArtifactCache.Artifact = ArtifactCache.Artifact("jsonl", Seq("documents"), "v1")

  def ensure(s: SparkSession, dir: String): String =
    Fixture.ensure(dir) { tmp =>
      val rows = Tables.documents(s, dir).select("doc_id", "lang", "n_chars")
        .orderBy("doc_id").collect()
      val sb = new StringBuilder
      rows.foreach { r =>
        val (id, lang, nc) = (r.getLong(0), r.getString(1), r.getLong(2))
        if (id % 10 == 4) sb.append(s"""{"doc_id":$id,"lang":"$lang""" + "\n")
        else if (id % 13 == 0) sb.append(s"""{"doc_id":$id,"n_chars":$nc}""" + "\n")
        else sb.append(s"""{"doc_id":$id,"lang":"$lang","n_chars":$nc}""" + "\n")
      }
      Files.write(Paths.get(tmp, "dump.jsonl"),
        sb.toString.getBytes(StandardCharsets.UTF_8))
    }
}

/** Deterministic zip fixture for A2: the documents table written as
  * properly-quoted CSV, split across one plain member and a nested
  * zip with two members (exercising both extraction paths), plus a
  * shuffled-column-order header on one member (exercising the
  * header map). Built once per documents table.
  */
object ZipFixture {
  val Fixture: ArtifactCache.Artifact = ArtifactCache.Artifact("zipcsv", Seq("documents"), "v1")

  def ensure(s: SparkSession, dir: String): String =
    Fixture.ensure(dir) { tmp =>
      // fixture generation is driver-side by design (it fabricates the
      // input archives a cluster would fetch from object storage)
      val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
      val rows = Tables.documents(s, dir).select(cols.head, cols.tail: _*)
        .orderBy("doc_id").collect()
      val (aRows, rest) = rows.splitAt(rows.length / 3)
      val (bRows, cRows) = rest.splitAt(rest.length / 2)

      val nested = new ByteArrayOutputStream()
      val nz = new ZipOutputStream(nested)
      nz.putNextEntry(new ZipEntry("part_b.csv"))
      nz.write(Csv.render(cols, bRows))
      nz.closeEntry()
      nz.putNextEntry(new ZipEntry("part_c.csv"))
      // reversed header order: the header map must realign it
      nz.write(Csv.render(cols.reverse, cRows))
      nz.closeEntry()
      nz.close()

      val zout = new ZipOutputStream(new FileOutputStream(s"$tmp/dump.zip"))
      zout.putNextEntry(new ZipEntry("part_a.csv"))
      zout.write(Csv.render(cols, aRows))
      zout.closeEntry()
      zout.putNextEntry(new ZipEntry("inner.zip"))
      zout.write(nested.toByteArray)
      zout.closeEntry()
      zout.putNextEntry(new ZipEntry("readme.txt"))
      zout.write("not a csv".getBytes(StandardCharsets.UTF_8))
      zout.closeEntry()
      zout.close()
    }
}
