package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session + table plumbing shared by Verify, Bench and the specs.
  *
  * Local mode runs one JVM with N executor threads, so shuffle
  * partitions are sized to the core count rather than the 200
  * default; on a real cluster these come from the submit conf and
  * AQE coalesces from there.
  */
object GraftSession {
  def configured(builder: SparkSession.Builder, cores: String): SparkSession = {
    val spark = builder
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // prefer shuffled-hash over sort-merge when the planner's size
      // conditions allow (optimization-guide §3.1): drops both sort
      // legs; falls back to SMJ whenever the build side is not
      // provably small per partition, so spill safety is unchanged.
      // A/B runs and clusters that want the always-spillable default
      // back set it through the runtime conf.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // the 64-column sketch aggregates generate large classes; the
      // default 100-entry codegen cache thrashes when many queries
      // share a session (measured: 22 s cold → 120 s mid-bench from
      // repeated Janino recompiles)
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // testdata events.ts is parquet TIMESTAMP(NANOS) which Spark's
      // reader rejects; read as long ns and convert in Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // disk-backed streaming state: the default HDFS-backed provider
      // keeps every state row on the JVM heap, which caps keyed state
      // (sessionize users, KMV windows) at executor memory; RocksDB
      // spills to local disk with an in-memory working set, the
      // provider 100 TB key cardinalities need. All streaming specs
      // and every stream_* query runs under it.
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the kernel table + surfaced internals; idempotent.
    // Shared with [[GraftExtensions]] (the spark.sql.extensions
    // deployment path) via [[GraftFunctions]].
    GraftFunctions.all.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
    spark
  }

  def local(cores: Int = 4): SparkSession =
    configured(SparkSession.builder().master(s"local[$cores]").appName("graft"), cores.toString)
}

/** The graft function surface: ONE table, installed by both
  * registration paths ([[GraftSession]] and [[GraftExtensions]]).
  *
  * Each row gives the SQL name, a typed contract per argument and
  * how the checked call lowers:
  *
  * - the 16 scalar kernels lower to a [[GraftFunctions.KernelCall]],
  *   Spark's `RuntimeReplaceable` idiom for library functions, whose
  *   replacement is a `StaticInvoke` of the kernel object's `compute`
  *   in `graft.plans` (generated code calls it directly inside
  *   whole-stage codegen; interpreted eval calls it by reflection);
  * - the 4 sketch aggregates (`kmv_agg`, `minhash_agg`,
  *   `simhash_agg`, `signlsh_agg`) build their
  *   `TypedImperativeAggregate` classes;
  * - `bloom_agg` / `bloom_contains` surface Spark's
  *   BloomFilterAggregate/BloomFilterMightContain, which Spark uses
  *   for runtime row-level filters but leaves off the public
  *   registry, so plans can build EXPLICIT semi-join prefilters (the
  *   analyzer wraps the bare AggregateFunction).
  *
  * A call that breaks a contract (wrong arity or type, a config
  * argument that is not a literal or is out of range, a
  * cross-argument rule such as `band_bits | bits`) fails analysis
  * with an AnalysisException naming the function; it never reaches
  * an executor. Config arguments are fixed at plan time, never
  * parsed per row: the `tr_surv_pairs` stop vocabulary becomes a
  * pre-parsed object literal.
  */
object GraftFunctions {
  import org.apache.spark.sql.AnalysisException
  import org.apache.spark.sql.catalyst.expressions.{Expression, InheritAnalysisRules, Literal, RuntimeReplaceable}
  import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
  import org.apache.spark.sql.types._
  import org.apache.spark.unsafe.types.UTF8String
  import graft.plans._

  /** A scalar kernel call as analysis sees it: `parameters` are the
    * caller's arguments (they name the call in `sql` and plan
    * strings); the optimizer swaps in `replacement`, the StaticInvoke
    * of the kernel's `compute`. */
  case class KernelCall(name: String, parameters: Seq[Expression], replacement: Expression)
      extends RuntimeReplaceable with InheritAnalysisRules {
    override def prettyName: String = name
    override protected def withNewChildInternal(newChild: Expression): KernelCall =
      copy(replacement = newChild)
  }

  private def reject(fn: String, call: Seq[Expression], why: String): Nothing =
    throw new AnalysisException(
      errorClass = "DATATYPE_MISMATCH.TYPE_CHECK_FAILURE_WITH_HINT",
      messageParameters = Map("sqlExpr" -> s"\"$fn(${call.mkString(", ")})\"",
        "msg" -> s"`$fn` $why", "hint" -> ""))

  /** `sql` with declared element/field nullability spelled out. */
  private def show(t: DataType): String = t match {
    case ArrayType(e, containsNull) =>
      s"ARRAY<${show(e)}${if (containsNull) "" else " NOT NULL"}>"
    case StructType(fs) => fs.map(f =>
      s"${f.name}: ${show(f.dataType)}${if (f.nullable) "" else " NOT NULL"}")
      .mkString("STRUCT<", ", ", ">")
    case _ => t.sql
  }

  /** One argument's contract: the expression the kernel receives for
    * the resolved argument, or the reason the call is rejected. */
  private sealed trait Arg {
    def name: String
    def bind(e: Expression): Either[String, Expression]
  }

  /** A column of type `t`, nullability included (a kernel that reads
    * `array<string>` elements needs them declared non-null). With
    * `anyElemNulls` an array's element nullability is free: numeric
    * kernels read a null element as 0. A bare NULL is typed as `t`. */
  private final case class Col(name: String, t: DataType, anyElemNulls: Boolean = false)
      extends Arg {
    def bind(e: Expression): Either[String, Expression] = (e.dataType, t) match {
      case (NullType, _) => Right(Literal(null, t))
      case (dt, _) if dt == t => Right(e)
      case (ArrayType(a, _), ArrayType(b, _)) if anyElemNulls && a == b => Right(e)
      case (dt, _) => Left(s"argument `$name` must be ${show(t)}, got ${show(dt)}")
    }
  }

  /** An integer literal in [lo, hi], passed as INT (or BIGINT with
    * `long`). A value outside the range is rejected, never
    * truncated. */
  private final case class IntIn(name: String, lo: Long, hi: Long, long: Boolean = false)
      extends Arg {
    def bind(e: Expression): Either[String, Expression] = e match {
      case Literal(v: Number, ByteType | ShortType | IntegerType | LongType) =>
        val x = v.longValue
        if (x < lo || x > hi) Left(s"argument `$name` must be in [$lo, $hi], got $x")
        else Right(if (long) Literal(x) else Literal(x.toInt))
      case _ => Left(s"argument `$name` must be an integer literal in [$lo, $hi], got $e")
    }
  }

  /** Any expression: the node it feeds checks its own types. */
  private final case class Expr(name: String) extends Arg {
    def bind(e: Expression): Either[String, Expression] = Right(e)
  }

  /** A string literal, parsed once at plan time into a literal of
    * `as`. */
  private final case class StrLit(name: String, as: DataType)(parse: String => Any)
      extends Arg {
    def bind(e: Expression): Either[String, Expression] = e match {
      case Literal(v: UTF8String, _: StringType) => Right(Literal(parse(v.toString), as))
      case _ => Left(s"argument `$name` must be a string literal, got $e")
    }
  }

  /** One row of the table: the SQL name, one contract per argument,
    * a rule over the argument values (literal values; null for a
    * column) and the lowering of the checked call. */
  private final case class Fn(name: String, args: Seq[Arg],
      rule: Seq[Any] => Option[String],
      lower: (Seq[Expression], Seq[Expression]) => Expression) {
    def where(r: PartialFunction[Seq[Any], String]): Fn = copy(rule = r.lift)

    def build(call: Seq[Expression]): Expression = {
      if (call.length != args.length)
        reject(name, call, s"takes ${args.length} arguments " +
          s"(${args.map(_.name).mkString(", ")}), got ${call.length}")
      val bound = args.zip(call).map { case (a, e) =>
        a.bind(e).fold(why => reject(name, call, why), identity)
      }
      rule(bound.map { case Literal(v, _) => v; case _ => null })
        .foreach(why => reject(name, call, why))
      lower(call, bound)
    }
  }

  /** A scalar kernel: `impl.compute(args)`, never null on non-null
    * arguments (NULL in, NULL out). */
  private def kernel(name: String, impl: AnyRef, out: DataType, args: Arg*): Fn =
    Fn(name, args, _ => None, (call, bound) => KernelCall(name, call,
      StaticInvoke(impl.getClass, out, "compute", bound, returnNullable = false)))

  /** A node built from the checked arguments (the sketch aggregates,
    * Spark's bloom filter expressions). */
  private def node(name: String, args: Arg*)(build: Seq[Expression] => Expression): Fn =
    Fn(name, args, _ => None, (_, bound) => build(bound))

  private val MaxInt = Int.MaxValue.toLong
  /** Cap on the plan-time widths a kernel allocates per row (bands,
    * bits, patches). */
  private val MaxWidth = 1L << 16
  private val floats = ArrayType(FloatType, containsNull = true)
  private val longs = ArrayType(LongType, containsNull = true)
  private val strs = ArrayType(StringType, containsNull = false)
  private val longsOut = ArrayType(LongType, containsNull = false)
  private def struct(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })
  private def arrayOf(t: DataType): ArrayType = ArrayType(t, containsNull = false)
  private val survPairs = struct("toks" -> strs,
    "pairs" -> arrayOf(struct("src" -> StringType, "dst" -> StringType)))

  private val table: Seq[Fn] = Seq(
    kernel("vec_dot", VecDotProduct, DoubleType,
      Col("a", floats, anyElemNulls = true), Col("b", floats, anyElemNulls = true)),
    kernel("str_poly_hash", StrPolyHash, LongType,
      Col("str", StringType), IntIn("mult", 1, StrPolyHash.P - 1, long = true)),
    kernel("token_gram_hashes", TokenGramHashes, longsOut,
      Col("text", StringType), IntIn("n", 1, MaxInt)),
    kernel("maxsim_score", MaxSimScore, LongType,
      Col("a", longs, anyElemNulls = true), Col("b", longs, anyElemNulls = true),
      IntIn("d", 1, MaxInt)),
    kernel("cdc_boundaries", CdcBoundaries, longsOut,
      Col("text", StringType), IntIn("w", 1, MaxInt),
      IntIn("mask", 1, Long.MaxValue, long = true)),
    kernel("band_energies", BandEnergies, longsOut,
      Col("frame", StringType), IntIn("bands", 1, MaxWidth)),
    kernel("cp_sum", CpSum, LongType, Col("frame", StringType)),
    kernel("lap_energy", LapEnergy, LongType, Col("frame", StringType)),
    kernel("token_grams", TokenGrams, strs,
      Col("text", StringType), IntIn("n", 1, MaxInt)),
    kernel("token_grams_all", TokenGramsAll, strs,
      Col("text", StringType), IntIn("n", 1, MaxInt)),
    kernel("phash_sketch", PhashSketch, struct("idxs" -> longsOut, "sb" -> longsOut),
      Col("payload", BinaryType), IntIn("bits", 1, MaxWidth), IntIn("band_bits", 1, 63))
      .where { case Seq(_, bits: Int, bb: Int) if bits % bb != 0 =>
        s"band_bits ($bb) must divide bits ($bits)" },
    kernel("patch_sums", PatchSums,
      arrayOf(struct("k" -> LongType, "sv" -> LongType, "nv" -> LongType)),
      Col("payload", BinaryType), IntIn("n", 1, MaxWidth)),
    kernel("tok_pairs", TokPairs, arrayOf(struct("w" -> StringType, "w1" -> StringType)),
      Col("toks", strs)),
    kernel("bpe_merge", BpeMerge, strs,
      Col("toks", strs), Col("l", StringType), Col("r", StringType)),
    kernel("tr_surv_pairs", TrSurvPairs, survPairs,
      Col("text", StringType), IntIn("min_len", 1, MaxInt), IntIn("window", 1, MaxInt),
      StrLit("stops", ObjectType(classOf[java.util.HashSet[_]]))(TrSurvPairs.stopSet)),
    kernel("tr_rank", TrRank,
      arrayOf(struct("tok" -> StringType, "rnk" -> IntegerType, "rank_pm" -> LongType)),
      Col("sp", survPairs), IntIn("rounds", 1, MaxInt), IntIn("top_k", 1, MaxInt),
      IntIn("scale", 1, MaxInt, long = true), IntIn("base", 1, MaxInt, long = true)),
    node("kmv_agg", Col("h", LongType), IntIn("k", 1, MaxInt)) {
      case Seq(h, Literal(k: Int, _)) => KmvAgg(h, k) },
    node("minhash_agg", Col("h", LongType), IntIn("k", 1, MinhashAgg.MaxK)) {
      case Seq(h, Literal(k: Int, _)) => MinhashAgg(h, k) },
    node("simhash_agg", Col("h", LongType), IntIn("total_bits", 1, SimhashAgg.MaxBits),
        IntIn("num_bands", 1, SimhashAgg.MaxBits)) {
      case Seq(h, Literal(t: Int, _), Literal(b: Int, _)) => SimhashAgg(h, t, b) }
      .where { case Seq(_, t: Int, b: Int) if t % b != 0 || t / b > 63 =>
        s"num_bands ($b) must divide total_bits ($t) into bands of at most 63 bits" },
    node("signlsh_agg", Col("d", IntegerType), Col("q", LongType), IntIn("bits", 1, 63),
        IntIn("tables", 1, SignLshAgg.MaxPlanes)) {
      case Seq(d, q, Literal(b: Int, _), Literal(t: Int, _)) => SignLshAgg(d, q, b, t) }
      .where { case Seq(_, _, b: Int, t: Int) if b * t > SignLshAgg.MaxPlanes =>
        s"bits * tables ($b * $t) must be at most ${SignLshAgg.MaxPlanes}" },
    node("bloom_agg", Expr("x"), Expr("estimated_num_items"), Expr("num_bits")) {
      case Seq(x, n, bits) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          x, n, bits) },
    node("bloom_contains", Expr("bloom_filter"), Expr("value")) {
      case Seq(f, v) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(f, v) })

  /** name → builder, the shape both registration paths install. */
  val all: Seq[(String, Seq[Expression] => Expression)] =
    table.map(f => f.name -> (f.build _))
}

/** Parquet table loaders for the driver-generated star schema. */
object Tables {
  import org.apache.spark.sql.functions.{col, expr}
  import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

  /** The generator has shipped `events.ts` three ways across rounds:
    * parquet TIMESTAMP(NANOS) (read as long ns via the nanosAsLong
    * legacy flag), TIMESTAMP_NTZ micros, and plain TIMESTAMP. All
    * event-time code (windows, watermarks, sessionization) is written
    * against TimestampType, so normalize just that column — the
    * session runs in UTC, making the NTZ→LTZ cast a pure wall-clock
    * relabel, which is also exactly what DuckDB's
    * CAST(ts AS TIMESTAMP) oracle view sees. Other NTZ columns
    * (l_shipdate, o_orderdate) pass through untouched: operators and
    * oracles already agree on them as-is. Works on batch and
    * streaming frames alike. */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema.fields.filter(_.name == "ts").foldLeft(df) { (acc, f) =>
      f.dataType match {
        case _: TimestampNTZType => acc.withColumn(f.name, col(f.name).cast(TimestampType))
        case LongType =>
          // legacy nanos-as-long; integer division — a double
          // round-trip would lose precision above 2^53 ns
          acc.withColumn(f.name, expr(s"timestamp_micros(${f.name} div 1000)"))
        case _ => acc
      }
    }

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    normalizeTs(spark.read.parquet(s"$dir/$name.parquet"))

  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame    = t(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}
