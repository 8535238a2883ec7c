package graft

import java.sql.DriverManager

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.sinks.JdbcUpsertSink

/** Integration test of the JDBC sink against a REAL embedded database
  * (Apache Derby, on the Spark unmanaged classpath). Unlike the
  * store-backed fake in SinkStreamSpec, every layer here is the
  * production path: DriverManager connection from executor threads,
  * per-partition transactions, prepared-statement batches, a genuine
  * duplicate-key failure carrying the reference's 23505 SQLSTATE
  * (main.go:191-201 — Derby and Postgres share it), the retry-as-
  * upsert replay with the guarded LWW merge, and Spark's own JDBC source
  * reading the table back.
  */
class DerbySinkSpec extends SparkSpec {

  System.setProperty("derby.stream.error.file", "target/derby.log")

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("val", StringType),
    StructField("created_at", TimestampType)))
  private val mergeTypes = Seq("BIGINT", "VARCHAR(64)", "TIMESTAMP")

  private def freshDb(name: String): String = {
    val url = s"jdbc:derby:memory:$name;create=true"
    val conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    st.execute("CREATE TABLE d (k BIGINT PRIMARY KEY, val VARCHAR(64), created_at TIMESTAMP)")
    st.close(); conn.close()
    s"jdbc:derby:memory:$name"
  }

  private def df(rows: (Long, String, String)*) = {
    val rs = rows.map { case (k, v, ts) =>
      Row(k, v, java.sql.Timestamp.valueOf(ts)) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rs, 2), schema)
  }

  private def tableRows(url: String): Map[Long, (String, String)] = {
    // Spark's real JDBC source, not a hand-rolled reader (Derby
    // folds unquoted identifiers to upper case)
    spark.read.format("jdbc")
      .option("url", url).option("dbtable", "d").load()
      .collect()
      .map(r => r.getAs[Long]("K") ->
        (r.getAs[String]("VAL"), r.getAs[java.sql.Timestamp]("CREATED_AT").toString))
      .toMap
  }

  test("writeOptimistic on Derby: clean wave inserts; overlap wave hits a real 23505 and replays as MERGE") {
    val url = freshDb("g1")
    JdbcUpsertSink.writeOptimistic(df(
      (1L, "a", "2024-01-01 00:00:00"),
      (2L, "b", "2024-01-02 00:00:00"),
      (3L, "c", "2024-01-03 00:00:00")), url, "d", "k", mergeTypes = mergeTypes)
    assert(tableRows(url).keySet == Set(1L, 2L, 3L))

    // second wave overlaps key 2 — the plain INSERT must fail with a
    // genuine Derby 23505, roll back, and replay as MERGE (no guard:
    // last write wins unconditionally, like the reference's
    // UpdateAll:true), also carrying a brand-new key
    JdbcUpsertSink.writeOptimistic(df(
      (2L, "b2", "2024-02-01 00:00:00"),
      (4L, "d4", "2024-01-04 00:00:00")), url, "d", "k", mergeTypes = mergeTypes)
    val rows = tableRows(url)
    assert(rows.keySet == Set(1L, 2L, 3L, 4L))
    assert(rows(2L)._1 == "b2", "overlapping key must take the replayed value")
    assert(rows(4L)._1 == "d4")
  }

  test("write on Derby with LWW guard: newer incoming row updates, older one is kept out") {
    val url = freshDb("g2")
    JdbcUpsertSink.writeOptimistic(df(
      (1L, "stored", "2024-06-01 00:00:00"),
      (2L, "stored", "2024-06-01 00:00:00")), url, "d", "k", mergeTypes = mergeTypes)
    // keys 1 and 2 hit a real 23505 on the plain INSERT; the guard
    // rides on the MERGE replay (incoming row is v., stored is t.)
    JdbcUpsertSink.writeOptimistic(df(
      (1L, "newer", "2024-07-01 00:00:00"),   // wins the guard
      (2L, "older", "2024-01-01 00:00:00"),   // loses: no update
      (3L, "fresh", "2024-05-01 00:00:00")),  // unmatched: insert
      url, "d", "k", guard = "v.created_at > t.created_at", mergeTypes = mergeTypes)
    val rows = tableRows(url)
    assert(rows(1L) == ("newer", "2024-07-01 00:00:00.0"))
    assert(rows(2L) == ("stored", "2024-06-01 00:00:00.0"),
      "older incoming row must not overwrite the stored one")
    assert(rows(3L)._1 == "fresh")
  }

  test("write on Derby: batch chunking survives a real executeBatch (batchSize < rows per partition)") {
    val url = freshDb("g3")
    val many = (1L to 57L).map(i => (i, s"v$i", f"2024-01-01 00:00:${i % 60}%02d"))
    JdbcUpsertSink.writeOptimistic(df(many: _*), url, "d", "k",
      batchSize = 10, mergeTypes = mergeTypes)
    val rows = tableRows(url)
    assert(rows.size == 57)
    assert(rows(57L)._1 == "v57")
  }

  test("mergeSql: bind order covers ON, guard, UPDATE and INSERT references in appearance order") {
    val (sql, order) = JdbcUpsertSink.mergeSql("d", Seq("k", "val", "created_at"),
      mergeTypes, "k", guard = "v.created_at > t.created_at")
    assert(sql.startsWith("MERGE INTO d t USING SYSIBM.SYSDUMMY1 ON t.k = CAST(? AS BIGINT)"))
    assert(!sql.contains("v."), s"unsubstituted source reference in: $sql")
    // ON k; guard created_at; SET val, created_at; INSERT k, val, created_at
    assert(order == Seq(0, 2, 1, 2, 0, 1, 2))
  }

  test("spark df.write.jdbc appends into the same Derby table the sink merges over") {
    val url = freshDb("g4")
    // Spark's own JDBC writer does the initial bulk load...
    df((1L, "bulk", "2024-01-01 00:00:00"), (2L, "bulk", "2024-01-01 00:00:00"))
      .write.mode("append").format("jdbc")
      .option("url", url).option("dbtable", "d").save()
    // ...and the sink upserts on top of it
    JdbcUpsertSink.writeOptimistic(df((2L, "merged", "2024-02-01 00:00:00")),
      url, "d", "k", mergeTypes = mergeTypes)
    val rows = tableRows(url)
    assert(rows(1L)._1 == "bulk" && rows(2L)._1 == "merged")
  }
}
