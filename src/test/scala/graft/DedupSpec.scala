package graft

import org.apache.spark.sql.functions._
import graft.functions.{HashFns, VecFns}

class DedupSpec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("dedup_exact keeps min id per planted duplicate group") {
    import spark.implicits._
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other"))
      .toDF("doc_id", "text")
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n"))
    val byKeep = df.collect().map(r => r.getAs[Long]("keep_id") -> r.getAs[Long]("n")).toMap
    assert(byKeep == Map(1L -> 2L, 3L -> 1L))
    // corpus has no exact dups: groups == docs
    assert(run("dedup_exact").count() == Tables.documents(spark, sf).count())
  }

  test("minhash signature approximates jaccard on crafted pair") {
    import spark.implicits._
    val a = (1 to 40).map(i => s"w$i").mkString(" ")
    val b = ((1 to 36).map(i => s"w$i") ++ Seq("x1", "x2", "x3", "x4")).mkString(" ")
    val df = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
      .select(col("doc_id"), HashFns.minhashSig(
        HashFns.shingleHashes(HashFns.shingles(col("text")))).as("sig"))
    val Array(s1, s2) = df.orderBy("doc_id").collect().map(_.getSeq[Long](1))
    val est = s1.zip(s2).count { case (x, y) => x == y }.toDouble / HashFns.NumHashes
    // true 3-shingle jaccard of the pair ≈ 34/44 ≈ 0.77
    assert(est > 0.5 && est < 0.95, s"estimate $est")
  }

  test("minhashSigAgg (operator path) == minhashSig (HOF path)") {
    import org.apache.spark.sql.functions.explode
    val g = Tables.documents(spark, sf).limit(50)
      .select(col("doc_id"), HashFns.shingleHashes(
        HashFns.shingles(col("text"))).as("hs"))
    val hof = g.select(col("doc_id"), HashFns.minhashSig(col("hs")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val agg = HashFns.minhashSigAgg(
      g.select(col("doc_id"), explode(col("hs")).as("h")), "doc_id", "h")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(hof.keySet == agg.keySet)
    hof.foreach { case (id, sig) => assert(sig == agg(id), s"doc $id") }
  }

  test("minhashSigAgg (MinhashAgg buffer) == retired 64-scalar-min form, bit-exact") {
    import org.apache.spark.sql.functions.explode
    val posts = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(HashFns.shingleHashes(
        HashFns.shingles(col("text")))).as("h"))
    val agg = HashFns.minhashSigAgg(posts, "doc_id", "h")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val scalar = HashFns.minhashSigAggScalar(posts, "doc_id", "h")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(agg.keySet == scalar.keySet && agg.nonEmpty)
    agg.foreach { case (id, sig) =>
      assert(sig.length == HashFns.NumHashes && sig == scalar(id), s"doc $id")
    }
  }

  test("simhashBandsAgg (SimhashAgg buffer) == retired per-bit scalar form, bit-exact") {
    import org.apache.spark.sql.functions.{explode, lower}
    val toks = Tables.documents(spark, sf)
      .select(col("doc_id"),
        explode(graft.functions.TextFns.wsTokens(lower(col("text")))).as("t"))
      .select(col("doc_id"), HashFns.strHash(col("t")).as("h"))
    for ((bits, bands) <- Seq((64, 8), (128, 8))) {
      val ker = HashFns.simhashBandsAggPortable(toks, "doc_id", "h", bits, bands)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val scalar = ReferenceForms.simhashBandsScalar(toks, "doc_id", "h", bits, bands)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(ker.keySet == scalar.keySet && ker.nonEmpty)
      ker.foreach { case (id, sb) =>
        assert(sb.length == bands && sb == scalar(id), s"doc $id @ $bits bits")
      }
    }
  }

  test("portableBuckets (SignLshAgg buffer) == retired per-plane scalar form, bit-exact") {
    val e = Tables.embeddings(spark, sf)
    for ((bits, tables) <- Seq((4, 8), (8, 12))) {
      val ker = graft.functions.VecFns.portableBuckets(e, "vec_id", "embedding", bits, tables)
        .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
      val scalar = ReferenceForms.portableBucketsScalar(e, "vec_id", "embedding", bits, tables)
        .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
      assert(ker.keySet == scalar.keySet && ker.nonEmpty)
      ker.foreach { case (k, b) =>
        assert(b == scalar(k), s"bucket $k @ $bits×$tables")
      }
    }
  }

  test("dedup_minhash_lsh finds exactly the exact-jaccard pairs (recall 1 here)") {
    val lsh = run("dedup_minhash_lsh").select("ia", "ib").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = run("ngram_jaccard").select("ia", "ib").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)       // the corpus has planted near-dups
    assert(lsh == exact, s"lsh=${lsh.size} exact=${exact.size}")
  }

  test("containment_pairs: matches a brute-force shingle-set recount") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map { r =>
        val toks = r.getString(1).toLowerCase.split(" ").filter(_.nonEmpty)
        val grams = if (toks.length >= 3) toks.sliding(3).map(_.mkString(" ")).toSet
                    else Set(toks.mkString(" "))
        r.getLong(0) -> grams
      }.sortBy(_._1)
    // DfCap is inert at this sf (spec'd for ngram_jaccard); pairwise recount
    val expected = (for {
      i <- docs.indices; j <- (i + 1) until docs.length
      (ia, ga) = docs(i); (ib, gb) = docs(j)
      inter = (ga & gb).size
      if inter > 0 && inter.toDouble / math.min(ga.size, gb.size) >= graft.operators.Dedup.ContainMin
    } yield ((ia, ib), inter)).toMap
    val got = run("containment_pairs").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Long]("inter"))).toMap
    assert(got.keySet == expected.keySet,
      s"got ${got.size} pairs, expected ${expected.size}")
    got.foreach { case (k, inter) => assert(inter == expected(k).toLong, s"pair $k") }
    assert(got.nonEmpty)
  }

  test("source_overlap: matrix cells recount from the pair set and doc sources") {
    val srcs = Tables.documents(spark, sf).select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = run("ngram_jaccard").select("ia", "ib").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = pairs.map { case (a, b) =>
      val (sa, sb) = (srcs(a), srcs(b))
      (if (sa <= sb) sa else sb, if (sa <= sb) sb else sa)
    }.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got = run("source_overlap").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (k, r) =>
      assert(r.getAs[Long]("n_pairs") == expected(k), s"cell $k")
      assert(r.getAs[Boolean]("cross_source") == (k._1 != k._2))
    }
    assert(got.values.map(_.getAs[Long]("n_pairs")).sum == pairs.length.toLong)
  }

  test("dedup_simhash recall vs planted near-dups >= 0.9, no self/dup pairs") {
    val sim = run("dedup_simhash").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = run("ngram_jaccard").select("ia", "ib").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sim.forall { case (a, b) => a < b })
    val recall = planted.count(sim.contains).toDouble / planted.size
    assert(recall >= 0.9, s"recall $recall (found ${sim.size}, planted ${planted.size})")
  }

  test("dedup_simhash_wide (128-bit): recall vs planted near-dups >= 0.9, tighter than 64-bit") {
    val wide = run("dedup_simhash_wide").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = run("ngram_jaccard").select("ia", "ib").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wide.forall { case (a, b) => a < b })
    val recall = planted.count(wide.contains).toDouble / planted.size
    assert(recall >= 0.9, s"recall $recall (found ${wide.size}, planted ${planted.size})")
    // radius 7 over 128 bits is a stricter relative threshold than
    // over 64 — the wide variant should not be looser
    val narrow = run("dedup_simhash").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wide.size <= narrow.size * 2,
      s"wide=${wide.size} vs narrow=${narrow.size}: wide unexpectedly loose")
  }

  test("dedup_clusters: pair endpoints share a cluster, canonical id is cluster min") {
    val clusters = run("dedup_clusters").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(clusters.size == Tables.documents(spark, sf).count())
    // every near-dup pair landed in one cluster
    run("dedup_minhash_lsh").collect().foreach { r =>
      assert(clusters(r.getLong(0))._1 == clusters(r.getLong(1))._1)
    }
    // cluster id is the minimum member, sizes are consistent
    val byCluster = clusters.groupBy(_._2._1)
    byCluster.foreach { case (cid, members) =>
      assert(members.keys.min == cid)
      assert(members.values.forall(_._2 == members.size))
    }
    assert(byCluster.size < clusters.size) // at least one real merge
  }

  test("dedup_clusters: local union-find finish equals the distributed iterative path") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val local = rows(run("dedup_clusters"))
    val dist = rows(graft.operators.Dedup.dedupClustersImpl(spark, sf, 0L))
    assert(local == dist, s"local=${local.size} dist=${dist.size}")
  }

  test("lsh_pairs artifact rows equal the fresh C2 sweep (dedup_minhash_lsh)") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("ia"), r.getAs[Long]("ib"),
        r.getAs[Double]("jaccard"))).toSet
    val art = rows(graft.operators.Dedup.lshPairsArtifact(spark, sf))
    assert(art == rows(run("dedup_minhash_lsh")))
    assert(art.nonEmpty)
  }

  test("dedup_embedding: pairs symmetric-free, cos in [0.4, 1]") {
    val rows = run("dedup_embedding").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      val c = r.getAs[Double]("cos")
      assert(c >= 0.4 && c <= 1.0)
    }
  }

  test("banded LSH at the 0.4 floor: recall-1 study vs the blocked exact operator (spec-only)") {
    // the r8 lesson kept as a STUDY: a recall-1 geometry at a weak
    // floor (2-bit × 32 bands) matches the exact operator but prunes
    // nothing — which is why the REGISTERED query runs at the 0.7
    // pruning floor instead (see CosLshFloor). This pins the
    // equivalence without paying it in the bench.
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("cos")).toMap
    val D = graft.operators.Dedup
    val exact = pairs(run("dedup_embedding"))
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val lsh = pairs(D.bandedCosPairs(e, D.CosBandBits, D.CosBands, D.CosFloor))
    assert(exact.nonEmpty)
    assert(lsh == exact,
      s"lsh=${lsh.size} exact=${exact.size} missed=${(exact.keySet -- lsh.keySet).take(5)}")
  }

  test("dedup_embedding_lsh: recovers every original↔re-encode pair, nothing organic") {
    val D = graft.operators.Dedup
    val rows = run("dedup_embedding_lsh").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("cos")))
    assert(rows.nonEmpty)
    val nVecs = Tables.embeddings(spark, sf).count()
    // every emitted pair clears the pruning floor
    rows.foreach { case (a, b, c) =>
      assert(a < b && c >= D.CosLshFloor && c <= 1.0, s"pair ($a,$b,$c)")
    }
    // the planted matches: each original found against ITS re-encode
    // (the 8×12 geometry's per-pair miss is ~1e-4; the planes are a
    // fixed hash, so this is deterministic — full recall on this
    // corpus, replayed identically by the oracle)
    val planted = rows.collect {
      case (a, b, _) if b == a + D.ReencOffset => a
    }.toSet
    assert(planted.size.toLong == nVecs,
      s"planted recall ${planted.size}/$nVecs")
    // and the floor kept the organic pair set out entirely: this
    // corpus's organic (and re-encode-cross) cosines top out ≈ 0.55,
    // so the OUTPUT is exactly the planted match set
    assert(rows.length.toLong == nVecs,
      s"${rows.length - nVecs} non-planted pairs cleared the 0.7 floor")
  }

  test("dedup_incremental: exactly the batch-vs-corpus subset of the true pair set") {
    val rows = run("dedup_incremental").collect()
      .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("dup_of"),
        r.getAs[Double]("jaccard"))).toSet
    // every emitted pair crosses the batch boundary
    rows.foreach { case (n, o, _) =>
      assert(n % 10 == 7 && o % 10 != 7, s"pair ($n, $o) is not batch-vs-corpus")
    }
    // and it is EXACTLY the cross-boundary subset of ngram_jaccard
    val expected = run("ngram_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard")))
      .collect {
        case (a, b, j) if a % 10 == 7 && b % 10 != 7 => (a, b, j)
        case (a, b, j) if b % 10 == 7 && a % 10 != 7 => (b, a, j)
      }.toSet
    assert(rows == expected,
      s"got ${rows.size}, want ${expected.size}; missing ${(expected -- rows).take(3)}")
  }

  test("dedup_incremental: index-read path equals the retired full-recompute path") {
    // force a FRESH index build so the lifecycle (build → read) is
    // exercised end-to-end, not a stale artifact from an earlier run
    graft.ingest.ArtifactCache.deleteTree(
      java.nio.file.Paths.get(graft.operators.Dedup.CorpusIndex.path(sf)))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard"))).toSet
    val fromIndex = rows(run("dedup_incremental"))
    val recompute = rows(graft.operators.Dedup.dedupIncrementalRecompute(spark, sf))
    assert(fromIndex.nonEmpty && fromIndex == recompute,
      s"index=${fromIndex.size} recompute=${recompute.size}")
  }

  test("cluster-label artifact: delete → rebuild equals a live clustering") {
    graft.ingest.ArtifactCache.deleteTree(
      java.nio.file.Paths.get(graft.operators.Dedup.ClusterLabels.path(sf)))
    val built = graft.operators.Dedup.ensureClusterLabels(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"),
        r.getAs[Long]("cluster_size"))).toSet
    val persisted = rows(spark.read.parquet(built))
    val live = rows(graft.operators.Dedup.dedupClusters(spark, sf))
    assert(persisted.nonEmpty && persisted == live,
      s"persisted=${persisted.size} live=${live.size}")
  }

  test("dedup_apply: cluster manifest conserves docs and chars, provenance sorted") {
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "source", "n_chars").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val clusters = run("dedup_clusters").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = run("dedup_apply").collect()
    // one manifest row per cluster; members conserved
    assert(rows.length == clusters.values.toSet.size)
    assert(rows.map(_.getAs[Long]("n_merged")).sum == docs.size.toLong)
    // char accounting equals a local recount; sources sorted+distinct
    rows.foreach { r =>
      val keep = r.getAs[Long]("keep_id")
      val members = clusters.collect { case (d, c) if c == keep => d }.toSeq
      assert(members.contains(keep) && members.min == keep)
      assert(r.getAs[Long]("kept_chars") == docs(keep)._2)
      assert(r.getAs[Long]("chars_removed") ==
        members.filterNot(_ == keep).map(d => docs(d)._2).sum)
      val srcs = r.getAs[String]("sources").split("\\|").toSeq
      assert(srcs == members.map(d => docs(d)._1).distinct.sorted)
    }
  }

  test("dedup_semantic: within-cluster pairs are a subset of exact C5 with measured recall") {
    val exact = run("dedup_embedding").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("cos")).toMap
    val sem = run("dedup_semantic").collect()
      .map(r => (r.getAs[Long]("va"), r.getAs[Long]("vb")) -> r.getAs[Double]("cos")).toMap
    assert(sem.nonEmpty && exact.nonEmpty)
    // soundness: every semantic pair is a true C5 pair with the same cosine
    sem.foreach { case (k, c) =>
      assert(exact.contains(k) && exact(k) == c, s"pair $k not in exact set / cos differs")
    }
    // recall: the SemDeDup trade misses cluster-boundary pairs. This
    // corpus's pairs are all WEAK (max cos ~0.55 — the regime where
    // clustering, like LSH, cannot concentrate similarity), so the
    // honest floor is the measured ~0.3, well above the 1/K ~ 0.125
    // same-cluster chance rate; true high-cos dups co-cluster by
    // construction (see dedupSemantic scaladoc)
    val recall = sem.size.toDouble / exact.size
    assert(recall >= 0.25, s"recall $recall (${sem.size}/${exact.size}) below floor")
    assert(exact.values.max < 0.6, "corpus gained strong pairs — revisit the recall floor")
    // label consistency: both endpoints of each pair share the emitted cluster
    val lab = graft.operators.KMeansIter.assignments(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cid")).toMap
    run("dedup_semantic").collect().foreach { r =>
      assert(lab(r.getAs[Long]("va")) == r.getAs[Long]("cid") &&
        lab(r.getAs[Long]("vb")) == r.getAs[Long]("cid"))
    }
  }

  test("dedup_sweep: monotone curve that recounts from the raw pair set at each floor") {
    val pairs = {
      val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
        .map { r =>
          val toks = r.getString(1).toLowerCase.split(" ").filter(_.nonEmpty)
          val grams = if (toks.length >= 3) toks.sliding(3).map(_.mkString(" ")).toSet
                      else Set(toks.mkString(" "))
          r.getLong(0) -> grams
        }
      for {
        i <- docs.indices; j <- (i + 1) until docs.length
        inter = (docs(i)._2 & docs(j)._2).size if inter > 0
      } yield (docs(i)._1, docs(j)._1,
        inter.toDouble / (docs(i)._2.size + docs(j)._2.size - inter))
    }
    val got = run("dedup_sweep").collect()
      .map(r => r.getDouble(0) -> (r.getAs[Long]("n_pairs"), r.getAs[Long]("n_docs"))).toMap
    assert(got.keySet == graft.operators.Dedup.SweepThresholds.toSet)
    graft.operators.Dedup.SweepThresholds.foreach { t =>
      val at = pairs.filter(_._3 >= t)
      assert(got(t)._1 == at.size.toLong, s"floor $t n_pairs")
      assert(got(t)._2 == at.flatMap(p => Seq(p._1, p._2)).distinct.size.toLong, s"floor $t n_docs")
    }
    // monotone non-increasing in the floor, with actual signal at 0.5
    val curve = graft.operators.Dedup.SweepThresholds.map(got(_)._1)
    assert(curve.zip(curve.tail).forall { case (a, b) => a >= b })
    assert(got(0.5)._1 > 0)
  }

  test("minhash_est: signature agreement tracks exact Jaccard on true pairs") {
    val rows = run("minhash_est").collect()
    val exact = run("ngram_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard")).toMap
    assert(rows.length == exact.size, "one estimate row per true near-dup pair")
    rows.foreach { r =>
      val k = (r.getAs[Long]("ia"), r.getAs[Long]("ib"))
      assert(r.getAs[Double]("jaccard") == exact(k))
      val est = r.getAs[Double]("est_jaccard")
      assert(math.abs(est - r.getAs[Long]("sig_matches") / 64.0) <= 1e-4)
      // 64 hashes: σ = sqrt(j(1-j)/64) ≤ 0.0625; 5σ tolerance
      assert(math.abs(est - exact(k)) <= 0.32,
        s"pair $k: est $est vs exact ${exact(k)}")
    }
    // unbiasedness in aggregate: mean error near zero
    val errs = rows.map(r => r.getAs[Double]("est_jaccard") - exact(
      (r.getAs[Long]("ia"), r.getAs[Long]("ib"))))
    assert(math.abs(errs.sum / errs.length) < 0.05, s"mean err ${errs.sum / errs.length}")
  }

  test("gram df-cap is inert at verify scale (max df well under the cap)") {
    val maxDf = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(HashFns.shingles(col("text"))).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .agg(max(col("df"))).collect()(0).getLong(0)
    assert(maxDf <= graft.operators.Dedup.DfCap,
      s"df-cap would drop grams at this sf (max df $maxDf)")
  }

  test("mix_sources: losers are exactly the lower-priority side of each near-dup pair") {
    val survivors = run("mix_sources").collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_docs")).toMap
    val total = Tables.documents(spark, sf).count()
    val pairs = run("ngram_jaccard").collect()
    assert(pairs.nonEmpty)
    val src = Tables.documents(spark, sf).select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1).drop(3).toInt).toMap
    val losers = pairs.map { p =>
      val (ia, ib) = (p.getLong(0), p.getLong(1))
      if (src(ia) < src(ib)) ib else if (src(ia) > src(ib)) ia else ib
    }.toSet
    assert(survivors.values.sum == total - losers.size)
  }

  test("cosine kernel: orthogonal -> 0, identical -> 1") {
    import spark.implicits._
    val df = Seq((Array(1f, 0f), Array(0f, 1f), Array(1f, 0f)))
      .toDF("a", "b", "c")
      .select(VecFns.cosine(col("a"), col("b")).as("ab"),
        VecFns.cosine(col("a"), col("c")).as("ac"))
    val r = df.collect()(0)
    assert(math.abs(r.getDouble(0)) < 1e-12 && math.abs(r.getDouble(1) - 1) < 1e-12)
  }

  /** Ukkonen-banded Levenshtein: exact when ≤ cap, else any value
    * > cap. Mirrors the EditBandCap cutoff semantics. */
  private def banded(a: String, b: String, cap: Int): Int = {
    if (math.abs(a.length - b.length) > cap) return cap + 1
    val prev = Array.fill(b.length + 1)(Int.MaxValue / 2)
    val cur = Array.fill(b.length + 1)(Int.MaxValue / 2)
    for (j <- 0 to math.min(b.length, cap)) prev(j) = j
    for (i <- 1 to a.length) {
      java.util.Arrays.fill(cur, Int.MaxValue / 2)
      val lo = math.max(0, i - cap); val hi = math.min(b.length, i + cap)
      if (lo == 0) cur(0) = i
      for (j <- math.max(1, lo) to hi) {
        val sub = prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)
        cur(j) = math.min(sub, math.min(prev(j) + 1, cur(j - 1) + 1))
      }
      Array.copy(cur, 0, prev, 0, cur.length)
    }
    math.min(prev(b.length), cap + 1)
  }

  test("dedup_edit: blocked pairs equal the full length-filtered small-edit set; corpus is ASCII") {
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // oracle-parity precondition: DuckDB levenshtein counts bytes
    assert(docs.forall(_._2.forall(_ < 128)), "non-ASCII text breaks byte/codepoint parity")
    val D = graft.operators.Dedup
    val expected = (for {
      (ia, ta, la) <- docs; (ib, tb, lb) <- docs
      if ia < ib && math.abs(la - lb) <= D.EditMaxLenDiff
      maxLen = math.max(la, lb)
      thr = (maxLen / 5).toInt
      ed = banded(ta, tb, thr)
      if ed <= thr
    } yield (ia, ib) -> (ed, maxLen)).toMap
    val got = run("dedup_edit").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getInt(2), r.getLong(3))).toMap
    // full recall ON THIS CORPUS: prefix blocking loses nothing
    assert(got == expected, s"got ${got.size} pairs, expected ${expected.size}")
    assert(got.nonEmpty, "no planted edit-dups recovered — vacuous")
    // every reported distance respects the 20% contract
    got.foreach { case (_, (ed, maxLen)) => assert(5L * ed <= maxLen) }
  }

  test("dup_cluster_stats: histogram recounts from dedup_clusters + doc metadata") {
    val labels = run("dedup_clusters").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"),
        r.getAs[Long]("cluster_size")))
    val chars = Tables.documents(spark, sf).select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = labels.groupBy(_._3).map { case (size, ms) =>
      val clusters = ms.map(_._2).distinct
      size -> (clusters.length.toLong, ms.length.toLong,
        ms.length.toLong - clusters.length.toLong,
        ms.filter(m => m._1 != m._2).map(m => chars(m._1)).sum)
    }
    val got = run("dup_cluster_stats").collect()
      .map(r => r.getAs[Long]("cluster_size") ->
        (r.getAs[Long]("n_clusters"), r.getAs[Long]("n_docs"),
          r.getAs[Long]("n_excess_docs"), r.getAs[Long]("excess_chars"))).toMap
    assert(got == expected)
    // the report stays honest: docs across sizes sum to the corpus
    assert(got.values.map(_._2).sum == chars.size.toLong)
    // and real duplication exists at this scale (excess > 0 somewhere)
    assert(got.values.map(_._3).sum > 0)
  }

  test("minhash_band_tune: geometry S-curve is monotone and consistent with minhash_est") {
    val rows = run("minhash_band_tune").collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getAs[Long]("n_candidates"), r.getAs[Long]("n_true"),
          r.getAs[Long]("n_exact"), r.getAs[Long]("recall_pm"),
          r.getAs[Long]("precision_pm"))).toMap
    assert(rows.keySet == graft.operators.Dedup.TuneGeoms.toSet)
    val nExact = rows.values.head._3
    // the truth set IS minhash_est's row count (same pairs, same floor)
    assert(nExact == run("minhash_est").count())
    rows.values.foreach { case (cand, tru, ex, rec, prec) =>
      assert(tru <= cand && tru <= ex && ex == nExact)
      assert(rec == tru * 1000000L / ex && prec == tru * 1000000L / cand)
    }
    // more rows per band => stricter bands: candidates shrink, recall
    // can only drop (the S-curve steepens right of the threshold)
    val byR = graft.operators.Dedup.TuneGeoms.sortBy(_._2).map(g => rows(g))
    assert(byR.sliding(2).forall { case Seq(a, b) => a._1 >= b._1 },
      "candidate volume must fall as rows-per-band grows")
    assert(byR.sliding(2).forall { case Seq(a, b) => a._4 >= b._4 },
      "recall must fall as rows-per-band grows")
  }

  test("dedup_quality_audit: cells recount from cluster labels + quality weights") {
    import org.apache.spark.sql.functions._
    val lab = run("dedup_clusters").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_size"))
      .toMap
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"),
        graft.functions.TextFns.wsTokenCount(col("text")).cast("long").as("toks"),
        graft.functions.TextFns.langScore(col("text"), "en").cast("long").as("hits"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val cells = docs.groupBy { case (id, toks, hits) =>
      val w = math.min(100L, hits * 200L / math.max(toks, 1L))
      math.min(4L, w / 20L)
    }.map { case (b, rows) =>
      val dup = rows.filter(r => lab(r._1) > 1)
      b -> (rows.length.toLong, dup.length.toLong,
        rows.map(_._2).sum, dup.map(_._2).sum)
    }
    val got = run("dedup_quality_audit").collect().map { r =>
      r.getAs[Long]("q_bucket") -> (r.getAs[Long]("n_docs"), r.getAs[Long]("n_dup"),
        r.getAs[Long]("toks"), r.getAs[Long]("toks_dup"))
    }.toMap
    assert(got == cells)
    // conservation + per-mille formula + non-degenerate cross-tab
    assert(got.values.map(_._1).sum == docs.length.toLong)
    run("dedup_quality_audit").collect().foreach { r =>
      assert(r.getAs[Long]("dup_per_mille") ==
        r.getAs[Long]("n_dup") * 1000L / r.getAs[Long]("n_docs"))
    }
    assert(got.size > 1, "quality buckets collapsed to one cell")
    assert(got.values.map(_._2).sum > 0, "no duplicates reached the audit")
  }

  test("dedup_canonical: election replays from cluster labels + quality weights") {
    import org.apache.spark.sql.functions._
    val labels = run("dedup_clusters").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"),
        r.getAs[Long]("cluster_size")))
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"),
        graft.functions.TextFns.wsTokenCount(col("text")).cast("long").as("toks"),
        graft.functions.TextFns.langScore(col("text"), "en").cast("long").as("hits"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1),
        math.min(100L, r.getLong(2) * 200L / math.max(r.getLong(1), 1L))))
      .toMap
    val expected = labels.filter(_._3 > 1).groupBy(_._2).map { case (cid, ms) =>
      val members = ms.map(_._1)
      val keep = members.minBy { id =>
        val (toks, w) = docs(id); (-w, -toks, id)
      }
      cid -> (members.length.toLong, keep, docs(keep)._2, docs(cid)._2)
    }
    val got = run("dedup_canonical").collect().map { r =>
      r.getAs[Long]("cluster_id") -> (r.getAs[Long]("n_members"),
        r.getAs[Long]("keep_id"), r.getAs[Long]("w_kept"), r.getAs[Long]("w_first"))
    }.toMap
    assert(got == expected)
    assert(got.nonEmpty, "no dup clusters reached the election")
    // the gain column is exactly elected-minus-baseline, never negative
    run("dedup_canonical").collect().foreach { r =>
      assert(r.getAs[Long]("quality_gain") ==
        r.getAs[Long]("w_kept") - r.getAs[Long]("w_first"))
      assert(r.getAs[Long]("quality_gain") >= 0)
    }
  }

  test("split_leakage: boundary-crossing pairs recount from the verified pair set") {
    // ground pairs from the already-spec-verified C4 query
    val pairs = run("ngram_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def lane(id: Long): Int = {
      val h = (id * 2654435761L % 1000000007L) % 100
      if (h < 80) 0 else if (h < 90) 1 else 2
    }
    val names = Array("train", "val", "test")
    val oriented = pairs.map { case (ia, ib) =>
      if (lane(ia) <= lane(ib)) (names(lane(ia)), names(lane(ib)), ia, ib)
      else (names(lane(ib)), names(lane(ia)), ib, ia)
    }
    val expected = oriented.groupBy(t => (t._1, t._2)).map { case (k, g) =>
      k -> (g.length.toLong, g.map(_._3).distinct.length.toLong,
        g.map(_._4).distinct.length.toLong)
    }
    val rows = run("split_leakage").collect()
    val got = rows.map(r => (r.getString(0), r.getString(1)) ->
      (r.getAs[Long]("n_pairs"), r.getAs[Long]("n_docs_a"),
        r.getAs[Long]("n_docs_b"))).toMap
    assert(got == expected)
    // conservation: every verified pair lands in exactly one cell
    assert(got.values.map(_._1).sum == pairs.length.toLong)
    rows.foreach(r => assert(r.getAs[Long]("share_permille") ==
      r.getAs[Long]("n_pairs") * 1000L / pairs.length))
  }

  test("soft_dedup: commonness and weights replay from a local gram-df recount") {
    import graft.operators.Dedup.SoftWFloor
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def grams(t: String): Set[String] = {
      val ts = t.toLowerCase.split(" ").filter(_.nonEmpty).toSeq
      if (ts.length >= 3) ts.sliding(3).map(_.mkString(" ")).toSet
      else Set(ts.mkString(" "))
    }
    val perDoc = docs.map { case (id, t) => id -> grams(t) }
    val dfMap = perDoc.flatMap(_._2).groupBy(identity).view.mapValues(_.length.toLong).toMap
    def ilog2(x: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(x)
    val cpm = perDoc.map { case (id, gs) =>
      id -> ((gs.toSeq.map(g => ilog2(dfMap(g))).sum * 1000L / gs.size, gs.size.toLong))
    }.toMap
    val cmin = cpm.values.map(_._1).min
    val cmax = cpm.values.map(_._1).max
    val got = run("soft_dedup").collect().map(r =>
      r.getAs[Long]("doc_id") -> ((r.getAs[Long]("commonness_pm"),
        r.getAs[Long]("n_grams"), r.getAs[Long]("weight_pm")))).toMap
    assert(got.keySet == cpm.keySet)
    got.foreach { case (id, (c, n, w)) =>
      assert((c, n) == cpm(id), s"doc $id commonness")
      val expW = SoftWFloor + (cmax - c) * (1000L - SoftWFloor) / math.max(cmax - cmin, 1L)
      assert(w == expW, s"doc $id weight")
    }
    // monotone: the most common doc sits at the floor, the rarest at 1000
    assert(got.values.exists(_._3 == SoftWFloor) || cmax == cmin)
    assert(got.values.exists(_._3 == 1000L) || cmax == cmin)
    assert(got.values.forall(v => v._3 >= SoftWFloor && v._3 <= 1000L))
  }

  test("cdc_chunks: mask cuts + CAS ledger replay; chunks partition every payload") {
    import graft.operators.Dedup.{CdcWin, CdcMask}
    val P = 1000000007L
    def polyHash(w: String): Long = w.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % P)
    val docs = Tables.documents(spark, sf).select("text").collect().map(_.getString(0))
    val allChunks = docs.flatMap { t =>
      val len = t.length.toLong
      val bounds = if (len > CdcWin)
        (CdcWin.toLong to len - 1).filter { i =>
          polyHash(t.substring((i - CdcWin).toInt, i.toInt)) % CdcMask == 0
        } else Seq.empty[Long]
      val cuts = Seq(0L) ++ bounds ++ Seq(len)
      val chunks = cuts.sliding(2).collect { case Seq(a, b) =>
        t.substring(a.toInt, b.toInt) }.toSeq
      assert(chunks.map(_.length.toLong).sum == len) // partition invariant
      chunks
    }
    val byHash = allChunks.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val r = run("cdc_chunks").collect()(0)
    assert(r.getAs[Long]("n_chunks") == allChunks.length.toLong)
    assert(r.getAs[Long]("n_unique") == byHash.size.toLong)
    assert(r.getAs[Long]("total_bytes") == allChunks.map(_.length.toLong).sum)
    assert(r.getAs[Long]("dup_bytes") ==
      byHash.map { case (c, n) => (n - 1) * c.length.toLong }.sum)
    assert(r.getAs[Long]("max_copies") == byHash.values.max)
    assert(r.getAs[Long]("avg_chunk_len_pm") ==
      allChunks.map(_.length.toLong).sum * 1000 / allChunks.length)
    // content-defined dedup is real on this corpus: shared spans collide
    assert(r.getAs[Long]("dup_bytes") > 0)
  }

  test("cdc_chunks: kernel and HOF probe forms are row-identical") {
    val a = ReferenceForms.cdcChunksHof(spark, sf).collect()(0)
    val b = graft.operators.Dedup.cdcChunks(spark, sf).collect()(0)
    assert((0 until a.length).forall(i => a.get(i) == b.get(i)))
  }
}
