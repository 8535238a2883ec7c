package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The read side: a fixed set of `SparkEntry.queries`, grouped into
  * classes that each stress one query layer, over tables generated
  * here. */
object QueryMix {

  /** (class, query names). Every query reads only the generated
    * tables and writes only under the working directory, and one pass
    * over all of them stays near 9 s on 4 cores, so that a run holds
    * two passes. */
  val Classes: Seq[(String, Seq[String])] = Seq(
    "short" -> Seq("q6_range_sum", "semi_anti_join", "snowflake_decode", "windowed_counts"),
    "executor" -> Seq("q1_agg", "decision_parse"),
    "driver_loop" -> Seq("kcore_peel"),
    "kernel" -> Seq("textrank_keywords"),
    "artifact" -> Seq("dedup_clusters"),
    "stream" -> Seq("stream_decisions"))

  val Queries: Seq[String] = Classes.flatMap(_._2)
  val classOf: Map[String, String] = Classes.flatMap { case (c, qs) => qs.map(_ -> c) }.toMap

  /** Table data seed: fixed, so the golden digests hold for every
    * workload seed (which only orders the queries). */
  val DataSeed = 20240821L
  /** Scale relative to the TPC-H-like sf1 row counts: graft's own
    * oracle-gate scale, sf0.01. */
  val Scale = 0.01

  /** Row count and an order-independent hash of a query result.
    * Doubles are hashed as floats, so a last-bit difference from a
    * different summation order is not a wrong result; maps are
    * hashed through their JSON form. */
  def digest(df: DataFrame): (Long, Long) = {
    def norm(c: Column, t: DataType): Column = t match {
      case DoubleType => c.cast(FloatType)
      case ArrayType(DoubleType, n) => c.cast(ArrayType(FloatType, n))
      case _: MapType => to_json(c)
      case _ => c
    }
    val h = xxhash64(df.schema.fields.map(f => norm(col(f.name), f.dataType)).toSeq: _*)
    val r = df.agg(count(lit(1)), sum(h.bitwiseAND(lit(0xFFFFFFFFL))), sum(shiftrightunsigned(h, 32)))
      .head()
    val lo = if (r.isNullAt(1)) 0L else r.getLong(1)
    val hi = if (r.isNullAt(2)) 0L else r.getLong(2)
    (r.getLong(0), lo * 31 + hi)
  }

  /** Pseudo-random uniform in [0, 1) from the row id and a salt. */
  private def u(salt: Int): Column =
    pmod(xxhash64(col("id"), lit(DataSeed), lit(salt)), lit(1000003L)).cast(DoubleType) / 1000003.0

  private def pick(salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (u(salt) * values.size).cast(IntegerType) + 1)

  private def ntz(day0: String, days: Column): Column =
    date_add(lit(day0).cast(DateType), days.cast(IntegerType)).cast(TimestampNTZType)

  private val Words = Seq("batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "a", "window", "data", "agg", "table", "hash", "key", "query",
    "stream", "the", "group", "filter", "join", "index", "plan", "merge", "row", "page", "cache")

  /** The ten input tables at [[Scale]], as single parquet files
    * `<name>.parquet` under `dir`. */
  def generate(spark: SparkSession, dir: Path): Unit = {
    def n(base: Double): Long = math.max(25L, math.round(base * Scale))
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nUsers = n(15000)
    def range(rows: Long) = spark.range(0, rows, 1, 4)
    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> range(5).select(col("id").cast(IntegerType).as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
          col("id").cast(IntegerType) + 1).as("r_name")),
      "nation" -> range(25).select(col("id").cast(IntegerType).as("n_nationkey"),
        concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast(IntegerType).as("n_regionkey")),
      "customer" -> range(nCust).select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        (u(1) * 25).cast(IntegerType).as("c_nationkey"),
        round(u(2) * 10999.99 - 999.99, 2).as("c_acctbal"),
        pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")),
      "supplier" -> range(nSupp).select(col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        (u(1) * 25).cast(IntegerType).as("s_nationkey"),
        round(u(2) * 10999.99 - 999.99, 2).as("s_acctbal")),
      "part" -> range(nPart).select(col("id").as("p_partkey"),
        concat_ws(" ", pick(1, Seq("red", "hot", "old", "large", "small", "blue", "cold", "new")),
          pick(2, Seq("plate", "ring", "rod", "widget", "bolt", "gear", "pipe", "valve"))).as("p_name"),
        concat(lit("Brand#"), ((u(3) * 25).cast(IntegerType) + 1).cast(StringType)).as("p_brand"),
        pick(4, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
        ((u(5) * 50).cast(IntegerType) + 1).as("p_size"),
        (lit(900.0) + (u(6) * 1000).cast(IntegerType) / 10.0).as("p_retailprice")),
      "orders" -> range(nOrd).select(col("id").as("o_orderkey"),
        (u(1) * nCust).cast(LongType).as("o_custkey"),
        pick(2, Seq("F", "O", "P")).as("o_orderstatus"),
        round(u(3) * 498964.89 + 1013.7, 2).as("o_totalprice"),
        ntz("1995-01-01", u(4) * 2400).as("o_orderdate"),
        pick(5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")),
      "lineitem" -> range(nOrd * 4).select(
        (u(1) * nOrd).cast(LongType).as("l_orderkey"),
        (u(2) * nPart).cast(LongType).as("l_partkey"),
        (u(3) * nSupp).cast(LongType).as("l_suppkey"),
        ((u(4) * 7).cast(IntegerType) + 1).as("l_linenumber"),
        ((u(5) * 50).cast(IntegerType) + 1).cast(DoubleType).as("l_quantity"),
        round(((u(5) * 50).cast(IntegerType) + 1) * (u(6) * 1200 + 900), 2).as("l_extendedprice"),
        ((u(7) * 11).cast(IntegerType) / 100.0).as("l_discount"),
        ((u(8) * 9).cast(IntegerType) / 100.0).as("l_tax"),
        pick(9, Seq("A", "N", "R")).as("l_returnflag"),
        pick(10, Seq("F", "O")).as("l_linestatus"),
        ntz("1995-01-02", u(11) * 2500).as("l_shipdate")),
      "events" -> range(n(1000000)).select(col("id").as("event_id"),
        (lit("2024-01-01 00:00:00").cast(TimestampNTZType) +
          make_dt_interval(lit(0), lit(0), lit(0), (u(1) * 30 * 86400).cast(DecimalType(18, 6))))
          .as("ts"),
        (u(2) * nUsers).cast(LongType).as("user_id"),
        pick(3, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
        round(u(4) * 490 + 0.01, 2).as("value"),
        format_string("{\"k\": %d}", (u(5) * 100).cast(IntegerType)).as("props")),
      "documents" -> documents(range(n(50000)).toDF()),
      "embeddings" -> range(math.max(500L, n(20000))).select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(64)), i =>
          ((pmod(xxhash64(lit(DataSeed), (u(1) * 10).cast(IntegerType), i), lit(1000L)) / 1000.0 - 0.5) +
            (pmod(xxhash64(col("id"), i), lit(1000L)) / 1000.0 - 0.5) * 0.3).cast(FloatType)).as("embedding"),
        (u(1) * 10).cast(IntegerType).as("label")))
    Files.createDirectories(dir)
    tables.foreach { case (name, df) =>
      val tmp = dir.resolve(s"_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp)
      try {
        val f = part.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
        Files.move(f, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
      } finally part.close()
      Tree.clear(tmp)
    }
  }

  /** Word-salad documents; about 15 % repeat an earlier document's
    * text with one extra word, so the dedup queries find clusters. */
  private def documents(ids: DataFrame): DataFrame = {
    val dup = u(1) < 0.15 && col("id") > 0
    val tid = when(dup, greatest(lit(0L), col("id") - 1 - (u(2) * 10).cast(LongType))).otherwise(col("id"))
    val len = (pmod(xxhash64(tid, lit(DataSeed)), lit(80L)) + 8).cast(IntegerType)
    val words = transform(sequence(lit(1), len), i =>
      element_at(array(Words.map(lit): _*),
        (pmod(xxhash64(tid, i, lit(DataSeed)), lit(Words.size.toLong)) + 1).cast(IntegerType)))
    val text = when(dup, concat_ws(" ", array_join(words, " "), lit(Words((DataSeed % Words.size).toInt))))
      .otherwise(array_join(words, " "))
    ids.select(col("id").as("doc_id"), text.as("text"),
      pick(3, Seq("en", "en", "en", "de", "es", "fr", "zh")).as("lang"),
      concat(lit("src"), (u(4) * 20).cast(IntegerType).cast(StringType)).as("source"))
      .withColumn("n_chars", length(col("text")).cast(LongType))
  }
}
