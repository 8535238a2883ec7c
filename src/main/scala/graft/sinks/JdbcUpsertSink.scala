package graft.sinks

import java.sql.{Connection, DriverManager}

import org.apache.spark.sql.{DataFrame, Row}

/** Batched transactional JDBC upsert sink — the reference's insert
  * path (utils.go:88-119: 1000-row batches inside a transaction,
  * `ON CONFLICT (key) DO UPDATE` last-write-wins; main.go:177-208:
  * plain insert first, retry as upsert on duplicate-key).
  *
  * Spark-first shape: the DataFrame is deduped/partitioned upstream
  * (see ingest.Upsert); each partition opens one connection and
  * writes its rows in `batchSize` chunks, committing once per
  * partition — N executors write N independent transactions. No
  * driver-side collect at any scale.
  *
  * One write path, [[writeOptimistic]]: a plain INSERT, replayed as
  * an upsert on a duplicate-key conflict. The replay carries the
  * caller's optional guard, so a guarded insert-then-replay leaves
  * the same table as a guarded upsert. Two statement dialects:
  * Postgres `ON CONFLICT` (the reference's target) and ANSI `MERGE`
  * (via `mergeTypes`) for engines without it. The full path —
  * driver-manager connection, per-partition transaction, batch,
  * 23505 replay, guarded LWW — is integration-tested against
  * embedded Derby (DerbySinkSpec), which raises the SAME 23505
  * duplicate-key SQLSTATE the reference string-matches.
  */
object JdbcUpsertSink {

  /** `INSERT … ON CONFLICT (key) DO UPDATE SET c = EXCLUDED.c` for
    * every non-key column — last write wins, like the reference
    * (whose UpdateAll:true is likewise unconditional).
    *
    * `guard` (optional) appends `WHERE guard` to the DO UPDATE and
    * aliases the target table as `t`, for conditional upserts like
    * cross-batch LWW: `(EXCLUDED.created_at, …) > (t.created_at, …)`
    * keeps a later micro-batch carrying an OLDER row from overwriting
    * the newer stored one. Without a guard that invariant does NOT
    * hold on a real database — a caller that needs it must pass one
    * (see [[graft.ingest.Decisions.lwwGuardSql]]). */
  def upsertSql(table: String, columns: Seq[String], key: String,
                guard: String = null): String = {
    require(columns.contains(key), s"key $key not in $columns")
    val collist = columns.mkString(", ")
    val placeholders = columns.map(_ => "?").mkString(", ")
    val updates = columns.filterNot(_ == key)
      .map(c => s"$c = EXCLUDED.$c").mkString(", ")
    val target = if (guard == null) table else s"$table AS t"
    val cond = if (guard == null) "" else s" WHERE $guard"
    s"INSERT INTO $target ($collist) VALUES ($placeholders) " +
      s"ON CONFLICT ($key) DO UPDATE SET $updates$cond"
  }

  /** Plain insert (the optimistic first attempt, main.go:177-189). */
  def insertSql(table: String, columns: Seq[String]): String =
    s"INSERT INTO ${table} (${columns.mkString(", ")}) " +
      s"VALUES (${columns.map(_ => "?").mkString(", ")})"

  /** ANSI `MERGE` form of [[upsertSql]] for engines without
    * `ON CONFLICT` (Derby, DB2, …). Derby only accepts a base table
    * or table function as MERGE source, so the incoming row rides as
    * typed parameter markers over `SYSIBM.SYSDUMMY1`; each column may
    * therefore bind MORE than once (ON, guard, UPDATE SET, INSERT) —
    * the returned `Seq[Int]` maps statement-parameter position →
    * row-column index, in appearance order, for the replay's batch
    * binder. `types` are the SQL types the untyped markers are CAST
    * to (Derby requires the cast). `guard` references the incoming
    * row as `v.<col>` and the stored one as `t.<col>`; it becomes
    * `WHEN MATCHED AND (guard)` — same conditional-LWW contract as
    * the Postgres form's `WHERE`. */
  def mergeSql(table: String, columns: Seq[String], types: Seq[String],
               key: String, guard: String = null): (String, Seq[Int]) = {
    require(columns.contains(key), s"key $key not in $columns")
    require(types.size == columns.size, "one SQL type per column")
    val collist = columns.mkString(", ")
    val updates = columns.filterNot(_ == key)
      .map(c => s"$c = v.$c").mkString(", ")
    val inserts = columns.map(c => s"v.$c").mkString(", ")
    val matched = if (guard == null) "WHEN MATCHED" else s"WHEN MATCHED AND ($guard)"
    val tmpl = s"MERGE INTO $table t USING SYSIBM.SYSDUMMY1 ON t.$key = v.$key " +
      s"$matched THEN UPDATE SET $updates " +
      s"WHEN NOT MATCHED THEN INSERT ($collist) VALUES ($inserts)"
    val vref = "v\\.([A-Za-z_][A-Za-z0-9_]*)".r
    val order = vref.findAllMatchIn(tmpl).map { m =>
      val i = columns.indexOf(m.group(1))
      require(i >= 0, s"guard references unknown column v.${m.group(1)}")
      i
    }.toSeq
    val sql = vref.replaceAllIn(tmpl, m =>
      java.util.regex.Matcher.quoteReplacement(
        s"CAST(? AS ${types(columns.indexOf(m.group(1)))})"))
    (sql, order)
  }

  /** CREATE TABLE DDL from the DataFrame schema — the reference's
    * `AutoMigrate(&Decision{})` (main.go:95-97): the sink can bring
    * up its own table before the first write instead of assuming a
    * provisioned database. Types map to the portable ANSI/Postgres
    * names; the upsert key becomes the PRIMARY KEY (which also backs
    * the ON CONFLICT target). */
  def ddlSql(table: String, schema: org.apache.spark.sql.types.StructType,
             key: String): String = {
    import org.apache.spark.sql.types._
    require(schema.fieldNames.contains(key), s"key $key not in ${schema.fieldNames.toSeq}")
    def sqlType(dt: DataType): String = dt match {
      case StringType => "TEXT"
      case LongType => "BIGINT"
      case IntegerType | ShortType | ByteType => "INTEGER"
      case BooleanType => "BOOLEAN"
      case TimestampType => "TIMESTAMP"
      case DateType => "DATE"
      case DoubleType => "DOUBLE PRECISION"
      case FloatType => "REAL"
      case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
      case BinaryType => "BYTEA"
      case ArrayType(e, _) => sqlType(e) + "[]"
      case other => throw new IllegalArgumentException(s"no SQL type for $other")
    }
    val cols = schema.fields.map { f =>
      val suffix =
        if (f.name == key) " PRIMARY KEY"
        else if (!f.nullable) " NOT NULL"
        else ""
      s"${f.name} ${sqlType(f.dataType)}$suffix"
    }.mkString(", ")
    s"CREATE TABLE IF NOT EXISTS $table ($cols)"
  }

  /** Run [[ddlSql]] once on a connection — the migrate step a
    * production pipeline calls before its first [[writeOptimistic]]. */
  def migrate(conn: Connection, table: String,
              schema: org.apache.spark.sql.types.StructType, key: String): Unit = {
    val st = conn.createStatement()
    try st.execute(ddlSql(table, schema, key)) finally st.close()
  }

  /** SQLSTATE for unique-violation — what the reference string-matches
    * to decide "retry as upsert" (main.go:191-201, "SQLSTATE 23505"). */
  val DuplicateKeySqlState = "23505"

  /** Is this (possibly wrapped) failure a duplicate-key conflict?
    * Checks the SQLException state, the reference's message
    * substring, and the cause chain (JDBC drivers and Spark both
    * wrap). */
  @annotation.tailrec
  def isDuplicateKey(e: Throwable): Boolean = e match {
    case null => false
    case s: java.sql.SQLException if s.getSQLState == DuplicateKeySqlState => true
    case _ if e.getMessage != null && e.getMessage.contains(DuplicateKeySqlState) => true
    case _ if e.getCause eq e => false
    case _ => isDuplicateKey(e.getCause)
  }

  /** Write `df` into `table` over JDBC with the reference's optimistic
    * control flow (main.go:176-201): try the plain INSERT first
    * (cheapest when the day's dump is new); on a duplicate-key
    * conflict roll back and replay the same rows as upserts — ON
    * CONFLICT, or MERGE when `mergeTypes` is given — conditional on
    * `guard` when one is given (syntax per dialect, see [[upsertSql]]
    * and [[mergeSql]]). One transaction per partition,
    * `batchSize`-row executeBatch chunks. Per partition the rows are
    * buffered for the possible second pass — the direct analog of the
    * reference holding one zip's decisions; a partition is the unit
    * of retry exactly as a zip is there. `connect` is injectable so
    * a no-database container can drive the full control flow against
    * a fake connection; the default is the driver-manager path. */
  def writeOptimistic(df: DataFrame, url: String, table: String, key: String,
                      batchSize: Int = 1000,
                      props: java.util.Properties = new java.util.Properties,
                      connect: String => Connection = null,
                      mergeTypes: Seq[String] = null,
                      guard: String = null): Unit = {
    val mkConn: String => Connection =
      if (connect != null) connect else u => DriverManager.getConnection(u, props)
    val columns = df.columns.toSeq
    val ins = insertSql(table, columns)
    val (ups, order) =
      if (mergeTypes == null) (upsertSql(table, columns, key, guard), columns.indices.toSeq)
      else mergeSql(table, columns, mergeTypes, key, guard)
    df.foreachPartition { rows: Iterator[Row] =>
      val buf = rows.toArray
      if (buf.nonEmpty) {
        val conn: Connection = mkConn(url)
        try {
          conn.setAutoCommit(false)
          try {
            execBatches(conn, ins, buf.iterator, columns.indices.toSeq, batchSize)
            conn.commit()
          } catch {
            case e: Throwable if isDuplicateKey(e) =>
              conn.rollback()
              execBatches(conn, ups, buf.iterator, order, batchSize)
              conn.commit()
          }
        } catch {
          case e: Throwable => rollbackAndRethrow(conn, e)
        } finally conn.close()
      }
    }
  }

  /** Roll back after failure `e` and rethrow `e`. A rollback that
    * fails too (say, on a connection the failure already closed) is
    * attached to `e` as suppressed, never thrown in its place. */
  private def rollbackAndRethrow(conn: Connection, e: Throwable): Nothing = {
    try conn.rollback()
    catch { case r: Throwable => if (r ne e) e.addSuppressed(r) }
    throw e
  }

  /** `bindOrder` maps statement-parameter position → row-column index
    * (identity for INSERT/ON CONFLICT; appearance order for MERGE,
    * where a column can bind several times). */
  private def execBatches(conn: Connection, sql: String, rows: Iterator[Row],
                          bindOrder: Seq[Int], batchSize: Int): Unit = {
    val st = conn.prepareStatement(sql)
    // bind plan hoisted out of the row loop: at 40 columns the
    // per-row zipWithIndex re-allocation was measurable sink time
    val bo = bindOrder.toArray
    var inBatch = 0
    rows.foreach { row =>
      var p = 0
      while (p < bo.length) { st.setObject(p + 1, row.get(bo(p))); p += 1 }
      st.addBatch()
      inBatch += 1
      if (inBatch == batchSize) { st.executeBatch(); inBatch = 0 }
    }
    if (inBatch > 0) st.executeBatch()
  }
}
