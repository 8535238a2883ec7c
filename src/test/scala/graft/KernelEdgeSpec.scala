package graft

import org.apache.spark.sql.{AnalysisException, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The SQL surface at its edges: every [[GraftFunctions]] entry called
  * through SQL with NULL, empty, astral, oversized, wrong-type,
  * non-literal-config and wrong-arity arguments. A call may return a
  * value or fail analysis with an AnalysisException that names the
  * function — nothing else: no NPE, no ClassCastException, no
  * INTERNAL_ERROR, no silent truncation. Each call runs inside
  * whole-stage codegen and fully interpreted. */
class KernelEdgeSpec extends AnyFunSuite {

  private lazy val spark = SharedSpark.spark

  private val astral = "😀 𐍈 x😀 𐍈"

  /** One row of edge inputs, read from an RDD so projections run on
    * executors rather than folding into a local relation at plan
    * time. */
  private lazy val edgeRow: Unit = {
    val strs = ArrayType(StringType, containsNull = false)
    val schema = StructType(Seq(
      StructField("s", StringType), StructField("e", StringType),
      StructField("a", StringType), StructField("ns", StringType),
      StructField("b", BinaryType), StructField("be", BinaryType),
      StructField("bn", BinaryType),
      StructField("fa", ArrayType(FloatType)), StructField("fe", ArrayType(FloatType)),
      StructField("la", ArrayType(LongType)), StructField("le", ArrayType(LongType)),
      StructField("ta", strs), StructField("te", strs),
      StructField("tn", ArrayType(StringType)),
      StructField("h", LongType), StructField("d", IntegerType)))
    val row = Row("the quick brown fox jumps over the lazy dog the end", "",
      astral, null, "hello world".getBytes("UTF-8"), Array.emptyByteArray, null,
      Seq(1.0f, null, 2.0f), Seq.empty[Float], Seq(1L, 2L, 3L, 4L), Seq.empty[Long],
      Seq("a", "b", "a", "b", astral), Seq.empty[String], Seq("a", null, "b"),
      42L, 3)
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(row), 1), schema)
      .createOrReplaceTempView("edge")
  }

  private val sp = "tr_surv_pairs(s, 3, 2, 'the over')"
  private val foreign = "named_struct('toks', array('aa'), " +
    "'pairs', array(named_struct('src', 'aa', 'dst', 'zz')))"

  /** Calls per function: (must return a value, must be rejected). */
  private val calls: Map[String, (Seq[String], Seq[String])] = Map(
    "vec_dot" -> (Seq("vec_dot(fa, fa)", "vec_dot(fe, fa)", "vec_dot(NULL, fa)",
      "vec_dot(fa, array(1.0F, 2.0F, 3.0F, 4.0F))"),
      Seq("vec_dot(la, la)", "vec_dot(s, fa)", "vec_dot(fa)", "vec_dot(fa, fa, fa)")),
    "str_poly_hash" -> (Seq("str_poly_hash(s, 31L)", "str_poly_hash(e, 31)",
      "str_poly_hash(a, 31L)", "str_poly_hash(ns, 31L)", "str_poly_hash(NULL, 31L)",
      "str_poly_hash(s, 1000000006L)"),
      Seq("str_poly_hash(s, 0L)", "str_poly_hash(s, 1000000007L)",
        "str_poly_hash(s, 4294967298L)", "str_poly_hash(s, h)", "str_poly_hash(s, NULL)",
        "str_poly_hash(d, 31L)", "str_poly_hash(s, '31')", "str_poly_hash(s)")),
    "token_gram_hashes" -> (Seq("token_gram_hashes(s, 3)", "token_gram_hashes(e, 3L)",
      "token_gram_hashes(a, 2)", "token_gram_hashes(ns, 3)",
      "token_gram_hashes(s, 2147483647L)"),
      Seq("token_gram_hashes(s, 0)", "token_gram_hashes(s, 4294967298L)",
        "token_gram_hashes(s, d)", "token_gram_hashes(s, NULL)",
        "token_gram_hashes(ta, 3)", "token_gram_hashes(s, 3.5)")),
    "maxsim_score" -> (Seq("maxsim_score(la, la, 2)", "maxsim_score(la, la, 4L)",
      "maxsim_score(le, la, 2)", "maxsim_score(NULL, la, 2)",
      "maxsim_score(la, array(1L, NULL), 1)", "maxsim_score(la, la, 2147483647)"),
      Seq("maxsim_score(la, la, 0)", "maxsim_score(la, la, d)",
        "maxsim_score(fa, la, 2)", "maxsim_score(la, la, 4294967298L)",
        "maxsim_score(la, la)")),
    "cdc_boundaries" -> (Seq("cdc_boundaries(s, 8, 32L)", "cdc_boundaries(e, 8, 32)",
      "cdc_boundaries(a, 1, 2)", "cdc_boundaries(ns, 8, 32)",
      "cdc_boundaries(s, 2147483647, 9223372036854775807L)"),
      Seq("cdc_boundaries(s, 0, 32)", "cdc_boundaries(s, 8, 0)",
        "cdc_boundaries(s, 8, h)", "cdc_boundaries(s, 4294967298L, 32)",
        "cdc_boundaries(b, 8, 32)")),
    "band_energies" -> (Seq("band_energies(s, 4)", "band_energies(e, 4)",
      "band_energies(a, 3L)", "band_energies(ns, 4)", "band_energies(s, 65536)"),
      Seq("band_energies(s, 0)", "band_energies(s, 65537)",
        "band_energies(s, 4294967298L)", "band_energies(s, d)", "band_energies(b, 4)")),
    "cp_sum" -> (Seq("cp_sum(s)", "cp_sum(e)", "cp_sum(a)", "cp_sum(ns)", "cp_sum(NULL)"),
      Seq("cp_sum(b)", "cp_sum(d)", "cp_sum(s, s)", "cp_sum()")),
    "lap_energy" -> (Seq("lap_energy(s)", "lap_energy(e)", "lap_energy(a)",
      "lap_energy(ns)", "lap_energy(NULL)"),
      Seq("lap_energy(ta)", "lap_energy(h)", "lap_energy(s, 2)")),
    "token_grams" -> (Seq("token_grams(s, 3)", "token_grams(e, 3)", "token_grams(a, 2)",
      "token_grams(ns, 3)", "token_grams(s, 2147483647)"),
      Seq("token_grams(s, 0)", "token_grams(s, 4294967298L)", "token_grams(s, d)",
        "token_grams(ta, 3)")),
    "token_grams_all" -> (Seq("token_grams_all(s, 3)", "token_grams_all(e, 3)",
      "token_grams_all(a, 2)", "token_grams_all(ns, 3)",
      "token_grams_all(s, 2147483647L)"),
      Seq("token_grams_all('a b c', 4294967298L)", "token_grams_all(s, 0)",
        "token_grams_all(s, d)", "token_grams_all(b, 2)")),
    "phash_sketch" -> (Seq("phash_sketch(b, 64, 8)", "phash_sketch(be, 64, 8)",
      "phash_sketch(bn, 64, 8)", "phash_sketch(NULL, 64, 8)",
      "phash_sketch(b, 65536, 1)", "phash_sketch(b, 63, 63)"),
      Seq("phash_sketch(cast('ab' as binary), 64, 7)", "phash_sketch(b, 0, 8)",
        "phash_sketch(b, 64, 0)", "phash_sketch(b, 128, 64)",
        "phash_sketch(b, 65537, 1)", "phash_sketch(b, d, 8)", "phash_sketch(s, 64, 8)",
        "phash_sketch(b, 4294967298L, 8)")),
    "patch_sums" -> (Seq("patch_sums(b, 16)", "patch_sums(be, 16)", "patch_sums(bn, 16)",
      "patch_sums(b, 65536)"),
      Seq("patch_sums(b, 0)", "patch_sums(b, 65537)", "patch_sums(b, d)",
        "patch_sums(s, 16)")),
    "tok_pairs" -> (Seq("tok_pairs(ta)", "tok_pairs(te)", "tok_pairs(NULL)",
      "tok_pairs(split(s, ' '))"),
      Seq("tok_pairs(tn)", "tok_pairs(array('a', null, 'b'))", "tok_pairs(la)",
        "tok_pairs(s)")),
    "bpe_merge" -> (Seq("bpe_merge(ta, 'a', 'b')", "bpe_merge(te, 'a', 'b')",
      "bpe_merge(ta, NULL, 'b')", "bpe_merge(ta, s, e)", s"bpe_merge(ta, 'b', a)"),
      Seq("bpe_merge(tn, 'a', 'b')", "bpe_merge(ta, 1, 'b')", "bpe_merge(ta, 'a')")),
    "tr_surv_pairs" -> (Seq(sp, "tr_surv_pairs(e, 3, 2, '')", "tr_surv_pairs(a, 1, 1, 'x')",
      "tr_surv_pairs(ns, 3, 2, 'the')", "tr_surv_pairs(s, 1, 2147483647, 'the')"),
      Seq("tr_surv_pairs(s, 0, 2, 'the')", "tr_surv_pairs(s, 3, 2, s)",
        "tr_surv_pairs(s, 3, 2, NULL)", "tr_surv_pairs(s, d, 2, 'the')",
        "tr_surv_pairs(s, 4294967298L, 2, 'the')", "tr_surv_pairs(b, 3, 2, 'the')",
        "tr_surv_pairs(s, 3, 2, 5)")),
    "tr_rank" -> (Seq(s"tr_rank($sp, 20, 8, 1000000, 150000)",
      s"tr_rank($foreign, 2, 3, 1000000, 150000)", "tr_rank(NULL, 2, 3, 1, 1)",
      "tr_rank(tr_surv_pairs(e, 3, 2, ''), 2, 3, 1, 1)",
      s"tr_rank($sp, 2, 2147483647, 2147483647L, 1)"),
      Seq(s"tr_rank($sp, 0, 3, 1, 1)", s"tr_rank($sp, 2, 3, 4294967298L, 1)",
        s"tr_rank($sp, d, 3, 1, 1)",
        "tr_rank(named_struct('toks', tn, 'pairs', array()), 2, 3, 1, 1)",
        "tr_rank(s, 2, 3, 1, 1)", s"tr_rank($sp, 2, 3, 1)")),
    "kmv_agg" -> (Seq("kmv_agg(h, 16)", "kmv_agg(h, 16L)", "kmv_agg(NULL, 16)",
      "kmv_agg(h, 2147483647)"),
      Seq("kmv_agg(h, 0)", "kmv_agg(h, d)", "kmv_agg(s, 16)", "kmv_agg(h, 4294967298L)",
        "kmv_agg(h)")),
    "minhash_agg" -> (Seq("minhash_agg(h, 64)", "minhash_agg(h, 1)",
      s"minhash_agg(h, ${graft.plans.MinhashAgg.MaxK})"),
      Seq(s"minhash_agg(h, ${graft.plans.MinhashAgg.MaxK + 1})", "minhash_agg(h, 0)",
        "minhash_agg(h, d)", "minhash_agg(s, 64)")),
    "simhash_agg" -> (Seq("simhash_agg(h, 64, 8)", "simhash_agg(h, 128, 4)",
      "simhash_agg(NULL, 64, 8)"),
      Seq("simhash_agg(h, 64, 5)", "simhash_agg(h, 64, 1)", "simhash_agg(h, 129, 3)",
        "simhash_agg(h, 64, 0)", "simhash_agg(h, d, 8)", "simhash_agg(s, 64, 8)")),
    "signlsh_agg" -> (Seq("signlsh_agg(d, h, 8, 4)", "signlsh_agg(d, h, 63, 4)",
      "signlsh_agg(NULL, h, 8, 4)"),
      Seq("signlsh_agg(d, h, 64, 4)", "signlsh_agg(d, h, 8, 33)",
        "signlsh_agg(h, h, 8, 4)", "signlsh_agg(d, h, d, 4)", "signlsh_agg(d, h, 0, 4)")),
    "bloom_agg" -> (Seq("bloom_agg(h, 1000L, 8192L)", "bloom_agg(s, 1000L, 8192L)"),
      Seq("bloom_agg(h, 0L, 8192L)", "bloom_agg(la, 1000L, 8192L)",
        "bloom_agg(NULL, 1000L, 8192L)", "bloom_agg(h, h, 8192L)", "bloom_agg(h)")),
    "bloom_contains" -> (Seq("bloom_contains((SELECT bloom_agg(h, 1000L, 8192L) " +
      "FROM edge), h)", "bloom_contains(NULL, h)"),
      Seq("bloom_contains(s, h)", "bloom_contains(h)")))

  private def outcome(call: String): Either[AnalysisException, Seq[Row]] = {
    edgeRow
    try Right(spark.sql(s"SELECT $call FROM edge").collect().toSeq)
    catch { case e: AnalysisException => Left(e) }
  }

  test("every registered function has edge calls") {
    assert(calls.keySet == GraftFunctions.all.map(_._1).toSet)
  }

  for ((fn, (good, bad)) <- calls.toSeq.sortBy(_._1)) {
    test(s"$fn: edge calls return a value or fail analysis naming the function") {
      SharedSpark.inBothPaths { codegen =>
        good.foreach { call =>
          outcome(call) match {
            case Right(rows) => assert(rows.length == 1, s"$call (codegen = $codegen)")
            case Left(e) => fail(s"$call (codegen = $codegen) was rejected: ${e.getMessage}")
          }
        }
        bad.foreach { call =>
          outcome(call) match {
            case Left(e) =>
              // Spark's bloom expressions report their own names
              val named = Seq(fn) ++ Map("bloom_agg" -> "bloom_filter_agg",
                "bloom_contains" -> "might_contain").get(fn)
              assert(named.exists(e.getMessage.contains), s"$call: ${e.getMessage}")
            case Right(rows) => fail(s"$call (codegen = $codegen) ran: $rows")
          }
        }
      }
    }
  }

  test("edge values: NULL in gives NULL out; a foreign tr_rank endpoint is a node") {
    def value(call: String): Any = outcome(call) match {
      case Right(rows) => rows.head.get(0)
      case Left(e) => fail(e.getMessage)
    }
    for (call <- Seq("cp_sum(ns)", "vec_dot(NULL, fa)", "tok_pairs(NULL)",
        "phash_sketch(bn, 64, 8)", "tr_rank(NULL, 2, 3, 1, 1)"))
      assert(value(call) == null, call)
    assert(value("cp_sum(e)") == 0L)
    assert(value("token_grams_all(e, 3)") == Seq.empty)
    // a null element reads as 0: [1, 0, 2]·[1, 0, 2]
    assert(value("vec_dot(fa, fa)") == 5.0)
    val ranked = value(s"tr_rank($foreign, 2, 3, 1000000, 150000)")
      .asInstanceOf[scala.collection.Seq[Row]].map(_.getString(0))
    assert(ranked == Seq("aa", "zz"))
  }
}
