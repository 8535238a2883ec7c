package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Literal
import org.scalatest.funsuite.AnyFunSuite

/** Wiring spec for the spark.sql.extensions deployment path and the
  * [[GraftFunctions]] table. The end-to-end behavior of each function
  * is covered by the operator specs (every ANN/dedup query resolves
  * `vec_dot` through the registry; bloom_semi_join resolves both
  * bloom functions) and its edge behavior by KernelEdgeSpec — here we
  * prove the config-driven entry point installs the SAME builders. */
class ExtensionsSpec extends AnyFunSuite {

  /** `sql`'s single value, the kernel names it resolved to, and its
    * physical plan. */
  private def run(sql: String): (Any, Seq[String], String) = {
    val df = SharedSpark.spark.sql(sql)
    val names = df.queryExecution.analyzed.expressions.flatMap(_.collect {
      case k: GraftFunctions.KernelCall => k.name
    })
    (df.collect().head.get(0), names, df.queryExecution.executedPlan.toString)
  }

  test("str_poly_hash WHOLE-STAGE CODEGEN path matches the fold, astral plane included") {
    // drive the kernel through a real projection over strings with
    // 1-, 2-, 3- and 4-byte UTF-8 — once inside whole-stage codegen
    // (generated code calls StrPolyHash.compute), once interpreted
    // (StaticInvoke's reflective path, which a lambda body takes).
    // The rows come from an RDD so the optimizer cannot fold the
    // projection into a local relation at plan time.
    val spark = SharedSpark.spark
    import spark.implicits._
    val astral = new String(Character.toChars(0x1F600)) // U+1F600, 4-byte
    val gothic = new String(Character.toChars(0x10348)) // U+10348, 4-byte
    val samples = Seq("", "hello", "café", "中文",
      astral * 3, s"mix$gothic tail$astral", gothic + astral)
    SharedSpark.inBothPaths { codegen =>
      val df = spark.sparkContext.parallelize(samples, 2).toDF("t")
        .select(org.apache.spark.sql.functions.col("t"),
          graft.functions.HashFns.strHash(org.apache.spark.sql.functions.col("t")).as("h"))
      val plan = df.queryExecution.executedPlan
      val staged = plan.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w.toString
      }
      assert(staged.exists(_.contains("static_invoke(graft.plans.StrPolyHash.compute")) == codegen,
        plan.toString)
      val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      samples.foreach { s =>
        assert(got(s) == s.codePoints().toArray.foldLeft(0L)(
            (acc, c) => (acc * 31L + c) % graft.plans.StrPolyHash.P),
          s"hash diverges (codegen = $codegen) on " +
            s.codePoints().toArray.mkString("[", ",", "]"))
      }
    }
  }

  test("GraftExtensions installs every GraftFunctions entry without error") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext) // would throw on a bad descriptor
    assert(GraftFunctions.all.map(_._1).toSet ==
      Set("vec_dot", "str_poly_hash", "token_gram_hashes", "maxsim_score",
        "cdc_boundaries", "kmv_agg", "minhash_agg", "bloom_agg",
        "bloom_contains", "simhash_agg", "signlsh_agg", "band_energies",
        "cp_sum", "lap_energy", "token_grams", "phash_sketch", "patch_sums",
        "token_grams_all", "tok_pairs", "bpe_merge", "tr_surv_pairs",
        "tr_rank"))
  }

  test("sketch sizes must be positive integer literals — analysis error, not a CCE") {
    val byName = GraftFunctions.all.toMap
    val ma = byName("minhash_agg")(Seq(Literal(1L), Literal(64)))
    assert(ma.isInstanceOf[graft.plans.MinhashAgg])
    // long literals are accepted (kmv_agg(h, 64L))
    assert(byName("kmv_agg")(Seq(Literal(1L), Literal(16L)))
      .asInstanceOf[graft.plans.KmvAgg].k == 16)
    for (bad <- Seq(Literal(0), Literal(-3), Literal("x"),
        org.apache.spark.sql.catalyst.expressions.BoundReference(
          0, org.apache.spark.sql.types.IntegerType, nullable = false))) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        byName("kmv_agg")(Seq(Literal(1L), bad))
      }
      assert(e.getMessage.contains("kmv_agg"), e.getMessage)
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      byName("minhash_agg")(Seq(Literal(1L), Literal(-1)))
    }
  }

  test("kernel window/divisor args must be positive literals — analysis " +
    "error, not runtime modulo/divide-by-zero") {
    val byName = GraftFunctions.all.toMap
    // happy paths through SQL: bigint literals, and a bare int literal
    // widened for SQL callers — the same result as its bigint twin
    val (cdc, cdcNames, _) = run("SELECT cdc_boundaries('abcdefghijkl', 8L, 1L)")
    assert(cdcNames == Seq("cdc_boundaries"))
    assert(cdc.asInstanceOf[scala.collection.Seq[Long]] == Seq(8L, 9L, 10L, 11L))
    for (d <- Seq("4", "4L")) {
      val (score, names, _) = run(
        s"SELECT maxsim_score(array(1L, 2L, 3L, 4L), array(1L, 1L, 1L, 1L), $d)")
      assert(names == Seq("maxsim_score"))
      assert(score == 10L, s"d = $d")
    }
    // cdc_boundaries(text, 8, 0) would modulo-by-zero at execution
    for (bad <- Seq(Literal(0L), Literal(-2L), Literal("x"),
        org.apache.spark.sql.catalyst.expressions.BoundReference(
          0, org.apache.spark.sql.types.LongType, nullable = false))) {
      val e1 = intercept[org.apache.spark.sql.AnalysisException] {
        byName("cdc_boundaries")(Seq(Literal("x"), Literal(8L), bad))
      }
      assert(e1.getMessage.contains("cdc_boundaries"), e1.getMessage)
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      byName("cdc_boundaries")(Seq(Literal("x"), Literal(0L), Literal(64L)))
    }
    // maxsim_score(a, b, 0) would divide-by-zero at execution
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      byName("maxsim_score")(Seq(Literal(null), Literal(null), Literal(0L)))
    }
    assert(e2.getMessage.contains("maxsim_score"), e2.getMessage)
  }

  test("shared builders construct the expected expression nodes") {
    val byName = GraftFunctions.all.toMap
    // scalar kernels resolve to the named call and run the kernel's
    // compute from generated code
    val (vd, vdNames, vdPlan) = run(
      "SELECT vec_dot(array(CAST(id AS FLOAT) + 1.0F, 2.0F), array(3.0F, 4.0F)) " +
        "FROM range(1)")
    assert(vdNames == Seq("vec_dot") && vd == 11.0)
    assert(vdPlan.contains("static_invoke(graft.plans.VecDotProduct.compute"), vdPlan)
    val (sp, spNames, _) = run("SELECT str_poly_hash('hello', 31L)")
    assert(spNames == Seq("str_poly_hash") && sp == 99162322L)
    val ka = byName("kmv_agg")(Seq(Literal(1L), Literal(64)))
    assert(ka.isInstanceOf[graft.plans.KmvAgg])
    // the bounded-TreeSet sketch: K smallest DISTINCT values, merge-order-free
    val agg = graft.plans.KmvAgg(Literal(0L), 3)
    val a = agg.createAggregationBuffer()
    Seq(9L, 5L, 5L, 7L, 1L).foreach(v => a.add(v))
    while (a.size > 3) a.pollLast()
    val b = agg.deserialize(agg.serialize(a))
    assert(agg.merge(b, agg.createAggregationBuffer()).size == 3)
    assert(agg.eval(b).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray().toSeq == Seq(1L, 5L, 7L))
    // the native kernel equals the HOF fold it replaced, code points included
    assert(graft.plans.StrPolyHash.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString("hello"), 31L) == 99162322L)
    assert(graft.plans.StrPolyHash.compute(
      org.apache.spark.unsafe.types.UTF8String.EMPTY_UTF8, 31L) == 0L)
    val ba = byName("bloom_agg")(Seq(Literal(1L), Literal(2L), Literal(3L)))
    assert(ba.isInstanceOf[
      org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate])
    val bc = byName("bloom_contains")(Seq(Literal(null), Literal(null)))
    assert(bc.isInstanceOf[
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain])
  }
}
