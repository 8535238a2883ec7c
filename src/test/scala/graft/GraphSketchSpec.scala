package graft

import org.apache.spark.sql.functions._
import graft.operators.{PageRankIter, Sketches}

/** Specs for the round-4 graph/sketch additions. */
class GraphSketchSpec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("pagerank_iter: matches a from-first-principles two-step recount") {
    val pairs = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct().collect()
      .map(r => (s"c${r.getLong(0)}", s"s${r.getLong(1)}"))
    val edges = pairs.flatMap { case (c, s) => Seq((c, s), (s, c)) }
    val deg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val nodes = deg.keySet
    def step(rank: Map[String, Long]): Map[String, Long] = {
      val in = edges.groupBy(_._2).view
        .mapValues(_.map { case (src, _) => rank(src) / deg(src) }.sum).toMap
      nodes.map(n => n -> (150000L + 85L * in.getOrElse(n, 0L) / 100L)).toMap
    }
    val r0 = nodes.map(_ -> PageRankIter.RankScale).toMap
    val r2 = step(step(r0))
    val expected = r2.toSeq.sortBy { case (n, r) => (-r, n) }.take(PageRankIter.TopK)
    val got = run("pagerank_iter").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == expected)
  }

  test("pagerank_iter: probe forms are row-identical (node-side div + " +
    "checkpoints change the plan, never the ranks)") {
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val forms = Seq("ship", "ckpt", "pre").map { f =>
      f -> ranks(ReferenceForms.pagerankIter(spark, sf, f))
    }.toMap + ("art" -> ranks(run("pagerank_iter")))
    assert(forms("ship").nonEmpty)
    assert(forms("ckpt") == forms("ship"), "ckpt vs ship")
    assert(forms("pre") == forms("ship"), "pre vs ship")
    assert(forms("art") == forms("ship"), "art vs ship")
  }

  test("kmv_merge: merged per-day sketches estimate EXACTLY like the direct sketch") {
    val r = run("kmv_merge").head()
    assert(r.getAs[Double]("est_merged") == r.getAs[Double]("est_direct"),
      "sketch merge must be lossless")
    val exact = Tables.events(spark, sf)
      .select(count_distinct(col("user_id"))).head().getLong(0)
    assert(r.getAs[Long]("n_exact") == exact)
    // the estimate is within 3 standard errors (se ≈ n/sqrt(K))
    val est = r.getAs[Double]("est_merged")
    assert(math.abs(est - exact) <= 3.0 * exact / math.sqrt(Sketches.K) + 1,
      s"est $est vs exact $exact")
  }

  test("triangle_count: degree-ordered join matches brute-force triangle enumeration") {
    val pairs = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // co-occurrence edge list with the same deterministic top cut
    val shared = pairs.groupBy(_._1).values.toSeq.flatMap { ps =>
      val sks = ps.map(_._2).distinct.sorted
      for (i <- sks.indices; j <- (i + 1) until sks.length) yield (sks(i), sks(j))
    }.groupBy(identity).view.mapValues(_.length.toLong).toSeq
    val edges = shared.sortBy { case ((s1, s2), c) => (-c, s1, s2) }
      .take(graft.operators.Graph.MaxEdges).map(_._1)
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    // brute force: each triangle u<v<w counted once, credited to all 3
    val tri = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    edges.foreach { case (u, v) =>
      (adj(u) & adj(v)).filter(_ > v).foreach { w =>
        tri(u) += 1; tri(v) += 1; tri(w) += 1
      }
    }
    val expected = tri.toSeq.sortBy { case (n, c) => (-c, n) }
      .take(graft.operators.Graph.TriK)
    val got = run("triangle_count").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expected)
  }

  test("degree_dist: bins partition the node set, extents match a recount") {
    val pairs = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val shared = pairs.groupBy(_._1).values.toSeq.flatMap { ps =>
      val sks = ps.map(_._2).distinct.sorted
      for (i <- sks.indices; j <- (i + 1) until sks.length) yield (sks(i), sks(j))
    }.groupBy(identity).view.mapValues(_.length.toLong).toSeq
    val edges = shared.sortBy { case ((s1, s2), c) => (-c, s1, s2) }
      .take(graft.operators.Graph.MaxEdges).map(_._1)
    val degs = (edges.map(_._1) ++ edges.map(_._2))
      .groupBy(identity).values.map(_.length.toLong)
    val expected = degs.groupBy(d => 63 - java.lang.Long.numberOfLeadingZeros(d))
    val out = run("degree_dist").collect().map(r => r.getInt(0) -> r).toMap
    assert(out.keySet == expected.keySet)
    expected.foreach { case (bin, ds) =>
      val r = out(bin)
      assert(r.getAs[Long]("n_nodes") == ds.size.toLong, s"bin $bin")
      assert(r.getAs[Long]("min_deg") == ds.min && r.getAs[Long]("max_deg") == ds.max)
    }
  }

  test("assortativity: Pearson over edge-endpoint degrees matches an exact recount") {
    val pairs = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val shared = pairs.groupBy(_._1).values.toSeq.flatMap { ps =>
      val sks = ps.map(_._2).distinct.sorted
      for (i <- sks.indices; j <- (i + 1) until sks.length) yield (sks(i), sks(j))
    }.groupBy(identity).view.mapValues(_.length.toLong).toSeq
    val edges = shared.sortBy { case ((s1, s2), c) => (-c, s1, s2) }
      .take(graft.operators.Graph.MaxEdges).map(_._1)
    val deg = (edges.map(_._1) ++ edges.map(_._2))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val xy = edges.flatMap { case (a, b) =>
      Seq((deg(a), deg(b)), (deg(b), deg(a)))
    }
    val m = xy.length.toLong
    val sx = xy.map(_._1).sum; val sy = xy.map(_._2).sum
    val sxy = xy.map(p => p._1 * p._2).sum
    val sxx = xy.map(p => p._1 * p._1).sum; val syy = xy.map(p => p._2 * p._2).sum
    val den = math.sqrt((m * sxx - sx * sx).toDouble) *
      math.sqrt((m * syy - sy * sy).toDouble)
    val row = run("assortativity").head()
    assert(row.getAs[Long]("n_endpoints") == m)
    if (den == 0.0) {
      // regular graph: r undefined — the operator must emit NULL
      assert(row.isNullAt(row.fieldIndex("assortativity")))
      assert(!row.getAs[Boolean]("disassortative"))
    } else {
      val r = (m * sxy - sx * sy).toDouble / den
      assert(math.abs(row.getAs[Double]("assortativity") - r) < 1e-3)
      assert(row.getAs[Boolean]("disassortative") == (r < 0))
    }
  }

  test("heavy_hitters: two-phase candidate/verify reproduces the exact global top-K") {
    val counts = Tables.documents(spark, sf).select("text").collect()
      .flatMap(_.getString(0).toLowerCase.split(" ").filter(_.nonEmpty))
      .groupBy(identity).view.mapValues(_.length.toLong)
    val expected = counts.toSeq.sortBy { case (w, c) => (-c, w) }
      .take(Sketches.HhK)
    val rows = run("heavy_hitters").collect()
    val got = rows.map(r => (r.getString(0), r.getAs[Long]("cnt")))
      .sortBy { case (w, c) => (-c, w) }.toSeq
    assert(got == expected)
    // the exactness certificate: miss_bound caps the global count of
    // any token that was a candidate in NO shard — so the flag must
    // equal (K-th candidate count > bound), and when it is set the
    // local recount above is a guaranteed (not lucky) match
    val bound = rows.map(_.getAs[Long]("miss_bound")).distinct
    assert(bound.length == 1)
    val flag = rows.map(_.getAs[Boolean]("exact_topk")).distinct.toSeq
    assert(flag == Seq(got.map(_._2).min > bound.head))
    // every non-candidate's true count must sit under the bound —
    // candidates are a superset of tokens above it
    val nonCandMax = counts.filterNot { case (w, _) => got.exists(_._1 == w) }
      .values.foldLeft(0L)(math.max)
    assert(nonCandMax <= math.max(bound.head, got.map(_._2).min))
  }

  test("key_skew_stats: matches a per-key recount") {
    val r = run("key_skew_stats").head()
    val counts = Tables.events(spark, sf).groupBy("user_id").count()
      .collect().map(_.getLong(1))
    assert(r.getAs[Long]("n_keys") == counts.length.toLong)
    assert(r.getAs[Long]("n_rows") == counts.sum)
    assert(r.getAs[Long]("max_cnt") == counts.max)
    val avg = counts.sum.toDouble / counts.length
    assert(math.abs(r.getAs[Double]("avg_cnt") - avg) < 1e-3)
    assert(math.abs(r.getAs[Double]("skew_ratio") - counts.max / avg) < 1e-3)
  }

  test("cms_freq: estimates replay the counter grid and never underestimate") {
    val S = graft.operators.Sketches
    val users = graft.Tables.events(spark, sf).select("user_id").collect()
      .map(_.getLong(0))
    // local grid build with the same affine hashes
    def cellOf(u: Long, a: Long, b: Long): Long = {
      val g = math.floorMod(u * a + b, S.M)
      math.floorMod(math.floorMod(g * g, S.M), S.CmsW.toLong)
    }
    val grid = scala.collection.mutable.Map[(Int, Long), Long]()
    users.foreach { u =>
      S.CmsHashes.foreach { case (d, a, b) =>
        val cell = cellOf(u, a, b)
        grid((d, cell)) = grid.getOrElse((d, cell), 0L) + 1
      }
    }
    val exact = users.groupBy(identity).map { case (u, us) => u -> us.length.toLong }
    val rows = run("cms_freq").collect()
    assert(rows.nonEmpty && rows.length <= S.CmsTracked)
    rows.foreach { r =>
      val (u, nExact, est, over) = (r.getLong(0), r.getAs[Long]("n_exact"),
        r.getAs[Long]("cms_est"), r.getAs[Long]("overest"))
      assert(nExact == exact(u))
      val localEst = S.CmsHashes.map { case (d, a, b) =>
        grid((d, cellOf(u, a, b)))
      }.min
      assert(est == localEst, s"user $u: $est vs $localEst")
      assert(est >= nExact && over == est - nExact, s"CMS underestimated user $u")
    }
    // tracked set = the exact top-K by (count desc, user_id)
    val expectedKeys = exact.toSeq.sortBy { case (u, n) => (-n, u) }
      .take(S.CmsTracked).map(_._1).toSet
    assert(rows.map(_.getLong(0)).toSet == expectedKeys)
  }

  test("bloom_calibrate: bit set replays locally, zero false negatives, sane FPR") {
    val S = graft.operators.Sketches
    val members = graft.Tables.orders(spark, sf).select("o_custkey").collect()
      .map(_.getLong(0)).toSet
    val custs = graft.Tables.customer(spark, sf).select("c_custkey").collect()
      .map(_.getLong(0))
    def probes(key: Long): Seq[Long] = S.BloomProbes.map { case (a, b) =>
      val g = math.floorMod(key * a + b, S.M)
      math.floorMod(math.floorMod(g * g, S.M), S.BloomM.toLong)
    }
    val bits = members.flatMap(probes)
    val universe = custs.map(k => (k, members(k))) ++
      custs.map(k => (k + S.BloomShift, false))
    val fp = universe.count { case (k, m) => !m && probes(k).forall(bits) }
    val nNon = universe.count(!_._2)
    val r = run("bloom_calibrate").collect()(0)
    assert(r.getAs[Long]("n_members") == members.size.toLong)
    assert(r.getAs[Long]("set_bits") == bits.size.toLong)
    assert(r.getAs[Long]("false_negs") == 0L, "bloom filter must never miss a member")
    assert(r.getAs[Long]("n_nonmembers") == nNon.toLong)
    assert(r.getAs[Long]("false_pos") == fp.toLong)
    // the geometry is doing its job: FPR well under full-positive
    assert(r.getAs[Double]("fpr_pct") < 50.0)
  }

  test("jaccard_neighbors: wedge-pair overlap replays brute force, flags edges") {
    val pairs = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val shared = pairs.groupBy(_._1).values.toSeq.flatMap { ps =>
      val sks = ps.map(_._2).distinct.sorted
      for (i <- sks.indices; j <- (i + 1) until sks.length) yield (sks(i), sks(j))
    }.groupBy(identity).view.mapValues(_.length.toLong).toSeq
    val edges = shared.sortBy { case ((s1, s2), c) => (-c, s1, s2) }
      .take(graft.operators.Graph.MaxEdges).map(_._1).toSet
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val nodes = adj.keys.toSeq.sorted
    val expected = (for {
      i <- nodes.indices; j <- (i + 1) until nodes.length
      (a, b) = (nodes(i), nodes(j))
      common = (adj(a) & adj(b)).size.toLong if common > 0
    } yield (a, b) -> (common, edges((a, b)),
      common.toDouble / (adj(a).size + adj(b).size - common))).toSeq
      .sortBy { case ((a, b), (c, _, _)) => (-c, a, b) }
      .take(graft.operators.Graph.JaccTopK)
    val got = run("jaccard_neighbors").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getAs[Long]("common"),
        r.getAs[Boolean]("is_edge"), r.getAs[Double]("jaccard"),
        r.getAs[Long]("n_adj_dropped")))
    assert(got.map(_._1).toSeq == expected.map(_._1))
    got.zip(expected).foreach { case ((p, (c, e, j, _)), (_, (ce, ee, je))) =>
      assert(c == ce && e == ee, s"pair $p")
      assert(math.abs(j - je) < 1e-3, s"pair $p jaccard $j vs $je")
    }
    // wedge pairs exist and the flag is live on this corpus
    assert(got.nonEmpty && got.exists(_._2._2))
    // the wedge cap is INERT at every verify sf: the largest adjacency
    // group here (max degree) sits well under JaccAdjCap, so the
    // capped plan replays uncapped brute force and the cut is zero
    val maxDeg = adj.values.map(_.size).max
    assert(maxDeg < graft.operators.Graph.JaccAdjCap,
      s"cap binds at spec scale (maxDeg $maxDeg) — oracle comparisons now depend on tie order")
    assert(got.forall(_._2._4 == 0L), "n_adj_dropped must be 0 while the cap is inert")
  }

  test("jaccard_neighbors: the wedge cap binds deterministically on a hub") {
    // star graph: hub 0 with spokes 1..150 — one adjacency group of
    // 150 members (> JaccAdjCap = 128). The cap must keep the
    // lowest-id 128 spokes (all spokes tie at degree 1 → id order),
    // emit C(128,2) wedge pairs through the hub (top-50 reported),
    // and report the 22 dropped adjacency rows.
    val C = graft.operators.Graph.JaccAdjCap
    val edges = spark.createDataFrame(
      (1L to 150L).map(i => (0L, i))).toDF("s1", "s2")
    val out = graft.operators.Graph.jaccardNeighborsFrame(edges).collect()
    assert(out.length == graft.operators.Graph.JaccTopK)
    assert(out.forall(_.getAs[Long]("n_adj_dropped") == (150L - C)))
    // all pairs are retained-spoke pairs: common = 1 (the hub),
    // true degrees 1 and 1 → jaccard 1.0, never an edge
    out.foreach { r =>
      assert(r.getAs[Long]("common") == 1L)
      assert(!r.getAs[Boolean]("is_edge"))
      assert(r.getAs[Double]("jaccard") == 1.0)
      assert(r.getLong(0) >= 1L && r.getLong(1) <= C.toLong,
        s"pair outside the deterministic (deg, id) retained set: $r")
    }
    // deterministic ranking: (common DESC, n1, n2) starts at (1,2)
    assert(out.head.getLong(0) == 1L && out.head.getLong(1) == 2L)
  }

  test("cc_labels: components equal a local union-find; converged at this scale") {
    val pairs = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val shared = pairs.groupBy(_._1).values.toSeq.flatMap { ps =>
      val sks = ps.map(_._2).distinct.sorted
      for (i <- sks.indices; j <- (i + 1) until sks.length) yield (sks(i), sks(j))
    }.groupBy(identity).view.mapValues(_.length.toLong).toSeq
    val edges = shared.sortBy { case ((s1, s2), c) => (-c, s1, s2) }
      .take(graft.operators.Graph.MaxEdges).map(_._1)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
    val expected = nodes.groupBy(find).map { case (c, m) => c -> m.size.toLong }
    val got = run("cc_labels").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("n_nodes"), r.getAs[Boolean]("converged")))
    assert(got.map(g => g._1 -> g._2).toMap == expected)
    // the tiny-sf graph's min-label eccentricity is well under the
    // round budget, so the flag must report a reached fixpoint here
    assert(got.forall(_._3), "cc_labels did not converge at spec scale")
  }

  test("kcore_peel: simultaneous-removal rounds replay a local peel to fixpoint") {
    val G = graft.operators.Graph
    val pairs = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val shared = pairs.groupBy(_._1).values.toSeq.flatMap { ps =>
      val sks = ps.map(_._2).distinct.sorted
      for (i <- sks.indices; j <- (i + 1) until sks.length) yield (sks(i), sks(j))
    }.groupBy(identity).view.mapValues(_.length.toLong).toSeq
    val edges = shared.sortBy { case ((s1, s2), c) => (-c, s1, s2) }
      .take(G.MaxEdges).map(_._1)
    var adj = (edges ++ edges.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val expected = (1 to G.KcoreRounds).map { r =>
      val rm = adj.collect { case (n, nb) if nb.size < G.KcoreK => n }.toSet
      adj = (adj -- rm).view.mapValues(_ -- rm).toMap
      (r.toLong, rm.size.toLong, adj.size.toLong, rm.isEmpty)
    }
    val got = run("kcore_peel").collect()
      .map(r => (r.getAs[Long]("round"), r.getAs[Long]("n_removed"),
        r.getAs[Long]("n_remaining"), r.getAs[Boolean]("converged")))
      .sortBy(_._1).toSeq
    assert(got == expected)
    // the budget genuinely reaches the fixpoint on this corpus
    assert(got.last._4, "did not converge within the round budget")
  }

  test("bfs_hops: layer histogram replays a local BFS from the min-id landmark") {
    val G = graft.operators.Graph
    val edges = G.coEdges(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val root = adj.keys.min
    val dist = scala.collection.mutable.Map(root -> 0L)
    var frontier = Set(root)
    var d = 0L
    while (d < G.BfsMaxHops && frontier.nonEmpty) {
      d += 1
      frontier = frontier.flatMap(adj).filterNot(dist.contains)
      frontier.foreach(n => dist(n) = d)
    }
    val expected = adj.keys.toSeq
      .map(n => dist.getOrElse(n, -1L))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val converged = dist.values.max < G.BfsMaxHops
    val got = run("bfs_hops").collect()
    assert(got.map(_.getAs[Long]("hops")).toSet == expected.keySet)
    got.foreach { r =>
      assert(r.getAs[Long]("n_nodes") == expected(r.getAs[Long]("hops")),
        s"hops ${r.getAs[Long]("hops")}")
      assert(r.getAs[Boolean]("converged") == converged)
    }
    // layer contiguity: reached hop values are exactly 0..max
    val reached = got.map(_.getAs[Long]("hops")).filter(_ >= 0).sorted.toSeq
    assert(reached == (0L to reached.max).toSeq)
  }

  test("kmv_intersect: exact overlap AND sketch estimator replay from the postings") {
    import graft.functions.HashFns
    val d = Tables.documents(spark, sf)
      .select(col("source"), explode(HashFns.shingles(col("text"))).as("gram"))
      .select(col("source"), HashFns.strHash(col("gram")).as("h"))
      .distinct().collect().map(r => (r.getString(0), r.getLong(1)))
    val bySrc = d.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val out = run("kmv_intersect").collect()
    assert(out.length == bySrc.size * (bySrc.size - 1) / 2)
    out.foreach { r =>
      val (sa, sb) = (r.getString(0), r.getString(1))
      val (ha, hb) = (bySrc(sa), bySrc(sb))
      assert(r.getAs[Long]("n_a") == ha.size.toLong && r.getAs[Long]("n_b") == hb.size.toLong)
      val common = (ha & hb).size
      assert(r.getAs[Long]("n_common") == common.toLong)
      assert(r.getAs[Long]("jac_exact_pm") ==
        common.toLong * 1000000L / (ha.size + hb.size - common))
      // sketch replay: K smallest per side, union re-ranked, theta = K-th
      val skA = ha.toSeq.sorted.take(Sketches.K).toSet
      val skB = hb.toSeq.sorted.take(Sketches.K).toSet
      val uni = (skA | skB).toSeq.sorted.take(Sketches.K)
      val both = uni.count(h => skA(h) && skB(h))
      assert(r.getAs[Long]("sk_union_n") == uni.size.toLong)
      assert(r.getAs[Long]("sk_both") == both.toLong)
      assert(r.getAs[Long]("jac_est_pm") == both.toLong * 1000000L / uni.size)
      val estU = if (uni.size == Sketches.K)
        (Sketches.K - 1).toLong * Sketches.M / uni.max else uni.size.toLong
      assert(r.getAs[Long]("est_union_q") == estU)
    }
    // the estimator is live at this scale on at least one pair
    assert(out.exists(_.getAs[Long]("sk_union_n") == Sketches.K.toLong),
      "no pair reached the K-sketch regime: estimator untested")
  }

  test("label_propagation: synchronous LPA rounds replay exactly; stable flag honest") {
    import graft.operators.{Graph => G}
    val edges = G.coEdges(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2)).toMap
    def best(lab: Map[Long, Long], n: Long): Option[Long] =
      adj.get(n).map { nbs =>
        val cnt = nbs.groupBy(lab).view.mapValues(_.length.toLong)
        cnt.maxBy { case (l, c) => (c, -l) }._1
      }
    var lab: Map[Long, Long] = adj.keySet.map(n => n -> n).toMap
    for (_ <- 1 to G.LpaRounds)
      lab = lab.map { case (n, l) => n -> best(lab, n).getOrElse(l) }
    val expected = lab.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val stable = lab.forall { case (n, l) => best(lab, n).forall(_ == l) }
    val got = run("label_propagation").collect()
    assert(got.map(r => r.getLong(0) -> r.getLong(1)).toMap == expected)
    assert(got.forall(_.getAs[Boolean]("stable") == stable))
  }

  test("quantile_merge: merged per-day histograms equal the direct ones; ranks replay exactly") {
    import graft.operators.Sketches
    val vq = Tables.events(spark, sf)
      .select(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).collect()
      .map(_.getLong(0))
    val buckets = vq.map(_ / Sketches.QmWidth)
    val hist = buckets.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val n = vq.length.toLong
    def quant(p: Long): Long = {
      val rank = (p * n + 99) / 100
      var cum = 0L
      hist.toSeq.sortBy(_._1).collectFirst {
        case (b, c) if { cum += c; cum >= rank } => b * Sketches.QmWidth
      }.get
    }
    val r = run("quantile_merge").head()
    assert(r.getAs[Long]("n") == n)
    assert(r.getAs[Long]("n_buckets") == hist.size.toLong)
    for ((p, col) <- Seq(50 -> "p50_q", 90 -> "p90_q", 99 -> "p99_q")) {
      assert(r.getAs[Long](s"m_$col") == quant(p), s"merged $col")
      // mergeability is IN the result: direct == merged
      assert(r.getAs[Long](s"d_$col") == r.getAs[Long](s"m_$col"), s"direct $col")
    }
    assert(r.getAs[Long]("m_p50_q") <= r.getAs[Long]("m_p90_q") &&
      r.getAs[Long]("m_p90_q") <= r.getAs[Long]("m_p99_q"))
  }

  test("modularity: per-community terms replay from a local LPA + edge recount") {
    import graft.operators.{Graph => G}
    val edges = G.coEdges(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2)).toMap
    def best(lab: Map[Long, Long], n: Long): Option[Long] =
      adj.get(n).map(_.groupBy(lab).view.mapValues(_.length.toLong)
        .maxBy { case (l, c) => (c, -l) }._1)
    var lab: Map[Long, Long] = adj.keySet.map(n => n -> n).toMap
    for (_ <- 1 to G.LpaRounds)
      lab = lab.map { case (n, l) => n -> best(lab, n).getOrElse(l) }
    val m = edges.length.toLong
    val inC = edges.filter { case (a, b) => lab(a) == lab(b) }
      .groupBy { case (a, _) => lab(a) }.view.mapValues(_.length.toLong).toMap
    val degC = adj.toSeq.groupBy { case (n, _) => lab(n) }
      .view.mapValues(_.map(_._2.length.toLong).sum).toMap
    val got = run("modularity").collect()
    assert(got.map(_.getLong(0)).toSet == lab.values.toSet)
    got.foreach { r =>
      val c = r.getLong(0)
      assert(r.getAs[Long]("in_edges") == inC.getOrElse(c, 0L), s"community $c in")
      assert(r.getAs[Long]("deg_sum") == degC(c), s"community $c deg")
      val expectPm = inC.getOrElse(c, 0L) * 1000000L / m -
        degC(c) * degC(c) * 1000000L / (4 * m * m)
      assert(r.getAs[Long]("contrib_pm") == expectPm, s"community $c contrib")
    }
    // handshake invariant: degrees sum to 2m across communities
    assert(got.map(_.getAs[Long]("deg_sum")).sum == 2 * m)
  }

  test("clustering_coef: C(k) spectrum matches a brute-force per-node recount") {
    val edges = spark.read
      .parquet(graft.operators.Graph.ensureCoEdges(spark, sf))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val triOf = adj.map { case (n, nbrs) =>
      val ns = nbrs.toSeq
      n -> (for {
        i <- ns.indices; j <- (i + 1) until ns.size
        if adj(ns(i)).contains(ns(j))
      } yield 1).size.toLong
    }
    val expected = adj.toSeq
      .map { case (n, nbrs) => (nbrs.size.toLong, triOf(n)) }
      .filter { case (deg, _) => deg >= 2 }
      .map { case (deg, tri) =>
        (deg, tri, 2L * tri * 1000000L / (deg * (deg - 1L))) }
      .groupBy(_._1).view.mapValues { g =>
        (g.size.toLong, g.map(_._2).sum, g.map(_._3).sum / g.size) }.toMap
    val got = run("clustering_coef").collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_nodes"),
        r.getAs[Long]("n_tri_sum"), r.getAs[Long]("avg_cc_pm"))).toMap
    assert(got == expected)
  }

  test("bitmap_distinct: popcounts equal exact distinct days; shard OR-merge lossless") {
    val rows = run("bitmap_distinct").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("lossless")), "shard merge must be lossless")
    val exact = Tables.events(spark, sf)
      .select(col("event_type"), to_date(col("ts")).as("day")).distinct()
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val t = r.getString(0)
      assert(r.getAs[Long]("n_days_direct") == exact(t), s"type $t direct")
      assert(r.getAs[Long]("n_days_merged") == exact(t), s"type $t merged")
      // word count never exceeds day count, and spans ≥ days/64
      val words = r.getAs[Long]("n_words")
      assert(words <= exact(t) && words >= (exact(t) + 63) / 64)
    }
  }

  test("random_walk: hash-chain walks replay exactly on a local adjacency") {
    import graft.operators.Graph
    val edges = Graph.ensureCoEdges(spark, sf)
    val adjRows = spark.read.parquet(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = (adjRows.map { case (a, b) => (a, b) } ++
      adjRows.map { case (a, b) => (b, a) })
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val P = graft.functions.HashFns.P
    def next(cur: Long, walk: Long, t: Long): Long = {
      val nbrs = adj(cur)
      val h = (((cur % P) * Graph.RwM1 + walk) % P * Graph.RwM2 + t) % P
      nbrs((h % nbrs.length).toInt)
    }
    val expected = (for {
      start <- adj.keys.toSeq; walk <- 0L until Graph.RwWalks.toLong
    } yield {
      val path = (1 to Graph.RwSteps).scanLeft(start) {
        (cur, t) => next(cur, walk, t.toLong)
      }
      (start, walk) -> path
    }).toMap
    val got = run("random_walk").collect()
    assert(got.length == adj.size * Graph.RwWalks)
    got.foreach { r =>
      val key = (r.getAs[Long]("start"), r.getAs[Long]("walk"))
      val path = (0 to Graph.RwSteps).map(t => r.getAs[Long](s"v$t"))
      assert(path == expected(key), s"walk $key diverged")
      // every hop is a real edge
      path.sliding(2).foreach { case Seq(a, b) =>
        assert(adj(a).contains(b), s"phantom edge $a->$b")
      }
    }
  }

  test("graph_sample_neighbors: fanout sample replays exactly on a local adjacency") {
    import graft.operators.Graph
    val adjRows = spark.read.parquet(Graph.ensureCoEdges(spark, sf)).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = (adjRows ++ adjRows.map(_.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val P = graft.functions.HashFns.P
    def sample(node: Long, k: Int): Seq[Long] =
      adj(node).sortBy(n => ((node % P) * Graph.RwM1 + n) % P -> n).take(k).toSeq
    val expected = (for {
      root <- adj.keys.toSeq; l1 <- sample(root, Graph.GsFan1)
      l2 <- sample(l1, Graph.GsFan2)
    } yield (root, l1, l2)).toSet
    val got = run("graph_sample_neighbors").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
    // fanout caps hold per root
    got.groupBy(_._1).values.foreach(g =>
      assert(g.size <= Graph.GsFan1 * Graph.GsFan2))
    assert(got.nonEmpty)
  }

  test("edge_support: histogram recounts from a local adjacency; 3x support = triangles") {
    import graft.operators.Graph
    val edges = spark.read.parquet(Graph.ensureCoEdges(spark, sf)).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nbrs = (edges ++ edges.map(_.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expected = edges
      .map { case (u, v) => (nbrs(u) intersect nbrs(v)).size.toLong }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got = run("edge_support").collect()
      .map(r => r.getAs[Long]("support") -> r.getAs[Long]("n_edges")).toMap
    assert(got == expected)
    // conservation + the triangle identity: sum(support) = 3 * triangles
    assert(got.values.sum == edges.length.toLong)
    // count per edge (a Set-valued for-comp would dedup the yields)
    val triangles = edges.map { case (u, v) =>
      (nbrs(u) intersect nbrs(v)).count(_ > v).toLong }.sum
    val supSum = got.map { case (s0, n) => s0 * n }.sum
    assert(supSum == 3 * triangles, s"sum(support)=$supSum vs 3x$triangles")
  }

  test("ktruss_peel: per-round trace matches a local simultaneous peel") {
    import graft.operators.Graph
    var alive = spark.read.parquet(Graph.ensureCoEdges(spark, sf)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    var t = -1L // picked from the round-1 spectrum, as the operator does
    val expected = (1 to Graph.TrussRounds).map { r =>
      val nbrs = (alive ++ alive.map(_.swap))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      def sup(e: (Long, Long)) = (nbrs(e._1) intersect nbrs(e._2)).size
      if (t < 0) t = math.max(1L,
        (if (alive.isEmpty) 0L else alive.map(sup(_).toLong).max) / 2)
      val (keep, drop) = alive.partition(sup(_) >= t) // simultaneous
      alive = keep
      (r.toLong, drop.size.toLong, keep.size.toLong, t + 2, drop.isEmpty)
    }
    val got = SparkEntry.queries("ktruss_peel")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4))).toSeq
    assert(got == expected)
    // the budget must actually reach the fixpoint at this scale
    assert(got.last._5, "peel did not converge within TrussRounds")
  }

  test("adamic_adar: the floor-log2 weighted overlap replays brute force; " +
    "hub neighbors weigh less than rare ones") {
    import graft.operators.Graph.{AaScale, AaTopK, MaxEdges}
    val pairs = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val shared = pairs.groupBy(_._1).values.toSeq.flatMap { ps =>
      val sks = ps.map(_._2).distinct.sorted
      for (i <- sks.indices; j <- (i + 1) until sks.length) yield (sks(i), sks(j))
    }.groupBy(identity).view.mapValues(_.length.toLong).toSeq
    val edges = shared.sortBy { case ((s1, s2), c) => (-c, s1, s2) }
      .take(MaxEdges).map(_._1).toSet
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    def ilog2(x: Long): Long = 63L - java.lang.Long.numberOfLeadingZeros(x)
    def w(z: Long): Long = AaScale / math.max(1L, ilog2(adj(z).size.toLong))
    val nodes = adj.keys.toSeq.sorted
    val expected = (for {
      i <- nodes.indices; j <- (i + 1) until nodes.length
      (a, b) = (nodes(i), nodes(j))
      zs = adj(a) & adj(b) if zs.nonEmpty
    } yield (a, b) -> ((zs.size.toLong, zs.toSeq.map(w).sum, edges((a, b)))))
      .sortBy { case ((a, b), (_, s, _)) => (-s, a, b) }
      .take(AaTopK)
    val got = run("adamic_adar").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getAs[Long]("common"),
        r.getAs[Long]("aa_fp"), r.getAs[Boolean]("is_edge"),
        r.getAs[Long]("n_adj_dropped"))))
    assert(got.map(_._1).toSeq == expected.map(_._1))
    got.zip(expected).foreach { case ((p, (c, s, e, cut)), (_, (ce, se, ee))) =>
      assert(c == ce && s == se && e == ee, s"pair $p")
      assert(cut == 0L, "cap inert at spec scale")
    }
    assert(got.nonEmpty)
  }

  test("adamic_adar: the hub discount is live on a planted degree spectrum") {
    import graft.operators.Graph.AaScale
    import spark.implicits._
    // hub z=100 with 16 spokes (ilog2 deg = 4 -> w = AaScale/4); rare
    // z=200 shared by exactly {1, 2} (deg 2 -> ilog2 = 1 -> w = AaScale).
    // Pair (1,2) shares BOTH z's; pair (3,4) shares only the hub: same
    // is_edge status, but (1,2) outranks every hub-only pair, and the
    // hub-only pairs score exactly the discounted AaScale/4.
    val hubEdges = (1L to 16L).map(i => (100L, i))
    val rare = Seq((200L, 1L), (200L, 2L))
    val edges = (hubEdges ++ rare).toDF("s1", "s2")
      .select(least(col("s1"), col("s2")).as("s1"),
        greatest(col("s1"), col("s2")).as("s2"))
    val got = graft.operators.Graph.adamicAdarFrame(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("aa_fp")).toMap
    val wHub = AaScale / 4  // deg(100) = 16
    val wRare = AaScale     // deg(200) = 2
    assert(got((1L, 2L)) == wHub + wRare)
    assert(got((3L, 4L)) == wHub)
    // the discount orders pairs the raw common-count cannot
    assert(got((1L, 2L)) > got((3L, 4L)))
  }

  test("hits_scores: two unnormalized power iterations replay exactly; " +
    "hubs and authorities are distinct roles") {
    import graft.operators.Graph.HitsTopK
    val pairs = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val a1 = pairs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val bySk = pairs.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val byC = pairs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val h1 = byC.map { case (c, sks) => c -> sks.map(a1).sum }
    val a2 = bySk.map { case (sk, cs) => sk -> cs.map(h1).sum }
    val h2 = byC.map { case (c, sks) => c -> sks.map(a2).sum }
    val expAuth = a2.toSeq.sortBy { case (n, s) => (-s, n) }.take(HitsTopK)
      .map { case (n, s) => ("authority", n, bySk(n).length.toLong, a1(n), s) }
    val expHub = h2.toSeq.sortBy { case (n, s) => (-s, n) }.take(HitsTopK)
      .map { case (n, s) => ("hub", n, byC(n).length.toLong, h1(n), s) }
    val got = run("hits_scores").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getAs[Long]("degree"),
        r.getAs[Long]("score1"), r.getAs[Long]("score2"))).toSeq
      .sortBy(t => (t._1, -t._5, t._2))
    assert(got == (expAuth ++ expHub).sortBy(t => (t._1, -t._5, t._2)))
    // degree alone does not decide rank 1 everywhere: HITS weighs WHO
    // points, not just how many — and both roles carry real mass
    assert(expAuth.nonEmpty && expHub.nonEmpty)
    assert(expAuth.head._5 > 0L && expHub.head._5 > 0L)
  }

  test("louvain_move: the synchronous gain sweeps replay exactly and " +
    "strictly improve modularity over the singleton baseline") {
    import graft.operators.Graph.{LvRounds, MaxEdges}
    val pairs = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val shared = pairs.groupBy(_._1).values.toSeq.flatMap { ps =>
      val sks = ps.map(_._2).distinct.sorted
      for (i <- sks.indices; j <- (i + 1) until sks.length) yield (sks(i), sks(j))
    }.groupBy(identity).view.mapValues(_.length.toLong).toSeq
    val edges = shared.sortBy { case ((s1, s2), c) => (-c, s1, s2) }
      .take(MaxEdges).map(_._1)
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2)).toMap
    val deg = adj.view.mapValues(_.size.toLong).toMap
    val m = edges.size.toLong
    var lab = deg.keys.map(n => n -> n).toMap
    var prev = lab
    for (_ <- 1 to LvRounds) {
      prev = lab
      lab = lab.map { case (n, l) =>
        val kic = adj(n).groupBy(lab).view.mapValues(_.size.toLong).toMap
        val cands = (kic.keySet + l).toSeq
        def score(c: Long): Long =
          2L * m * kic.getOrElse(c, 0L) -
            deg(n) * (prev.collect { case (x, cx) if cx == c => deg(x) }.sum -
              (if (l == c) deg(n) else 0L))
        val best = cands.map(c => (score(c), c)).sortBy(t => (-t._1, t._2)).head
        n -> (if (best._1 > score(l)) best._2 else l)
      }
    }
    val nMoved = lab.count { case (n, l) => prev(n) != l }.toLong
    val comms = lab.values.toSet.toSeq.sorted.map { c =>
      val members = lab.collect { case (n, l) if l == c => n }.toSet
      val inE = edges.count { case (a, b) => members(a) && members(b) }.toLong
      val ds = members.toSeq.map(deg).sum
      (c, members.size.toLong, inE, ds,
        inE * 1000000L / m - ds * ds * 1000000L / (4 * m * m))
    }
    val q0 = deg.values.map(d => -(d * d * 1000000L / (4 * m * m))).sum
    val qpm = comms.map(_._5).sum
    val got = run("louvain_move").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("n_nodes"),
        r.getAs[Long]("in_edges"), r.getAs[Long]("deg_sum"),
        r.getAs[Long]("contrib_pm"), r.getAs[Long]("q0_pm"),
        r.getAs[Long]("q_pm"), r.getAs[Long]("n_moved_last")))
      .sortBy(_._1).toSeq
    assert(got.map(t => (t._1, t._2, t._3, t._4, t._5)) == comms)
    assert(got.forall(t => t._6 == q0 && t._7 == qpm && t._8 == nMoved))
    // greedy strict-improvement moves beat the singleton baseline on
    // this graph, and the sweep genuinely merges communities
    assert(qpm > q0, s"q $qpm vs q0 $q0")
    assert(comms.size < deg.size, "no community ever formed")
  }

  test("lv_labels artifact: artifact-fed labels are row-identical to a " +
    "fresh gain sweep, and both consumers read the SAME parent map") {
    // r14: louvain_move + leiden_refine share the write-once parent
    // labels (the coEdges lifecycle). The artifact must be a pure
    // materialization — same (n, lab, plab) rows as an in-query sweep.
    val fresh = graft.operators.Graph.lvLabelsFresh(spark, sf).collect()
      .map(r => (r.getAs[Long]("n"), r.getAs[Long]("lab"), r.getAs[Long]("plab")))
      .sortBy(_._1).toSeq
    val art = graft.operators.Graph.lvLabels(spark, sf).collect()
      .map(r => (r.getAs[Long]("n"), r.getAs[Long]("lab"), r.getAs[Long]("plab")))
      .sortBy(_._1).toSeq
    assert(art == fresh, "artifact labels diverge from a fresh sweep")
    // and louvain_move over a fresh sweep reports the same rows as the
    // artifact-fed default path
    val viaArt = run("louvain_move").collect().map(_.toSeq).toSet
    val viaFresh = graft.operators.Graph
      .louvainMoveOn(spark, sf, graft.operators.Graph.lvLabelsFresh(spark, sf))
      .collect().map(_.toSeq).toSet
    assert(viaArt == viaFresh, "artifact-fed louvain_move diverges")
  }

  test("leiden_refine: a Louvain-pathological barbell labeled as ONE " +
    "community splits into its two cliques under refinement") {
    import spark.implicits._
    // K5 + K5 joined by a single bridge (5,6); the planted parent map
    // calls the whole thing one community — the badly-connected shape
    // Traag et al. 2019 built the refinement phase for
    val k5a = for (i <- 1L to 5L; j <- (i + 1) to 5L) yield (i, j)
    val k5b = for (i <- 6L to 10L; j <- (i + 1) to 10L) yield (i, j)
    val edges = (k5a ++ k5b :+ ((5L, 6L))).toDF("s1", "s2")
    val par = (1L to 10L).map(n => (n, 1L)).toDF("n", "par")
    val rows = graft.operators.Graph.leidenRefineOn(edges, par).collect()
    assert(rows.length == 2, s"expected the barbell to split: ${rows.toSeq}")
    rows.foreach { r =>
      assert(r.getAs[Long]("parent") == 1L)
      assert(r.getAs[Long]("n_nodes") == 5L, s"uneven split: ${rows.toSeq}")
      assert(r.getAs[Long]("in_edges") == 10L) // each side is its K5
      assert(r.getAs[Long]("n_parents") == 1L)
      assert(r.getAs[Long]("n_refined") == 2L)
      assert(r.getAs[Long]("n_split") == 1L)
      // the single-community parent scores 0; the split is strictly
      // better — refinement can IMPROVE a pathological partition
      assert(r.getAs[Long]("q_parent_pm") == 0L)
      assert(r.getAs[Long]("q_refined_pm") > 0L)
    }
  }

  test("leiden_refine: corpus report is internally consistent and the " +
    "refinement is a true within-parent partition refinement") {
    val rows = run("leiden_refine").collect()
      .map(r => (r.getAs[Long]("parent"), r.getAs[Long]("community"),
        r.getAs[Long]("n_nodes"), r.getAs[Long]("contrib_pm"),
        r.getAs[Long]("q_parent_pm"), r.getAs[Long]("q_refined_pm"),
        r.getAs[Long]("n_parents"), r.getAs[Long]("n_refined"),
        r.getAs[Long]("n_split")))
    assert(rows.nonEmpty)
    val (qp, qr, np, nr, ns) = (rows.head._5, rows.head._6, rows.head._7,
      rows.head._8, rows.head._9)
    assert(rows.length.toLong == nr)
    assert(rows.map(_._4).sum == qr, "q_refined_pm is not the contrib sum")
    assert(rows.map(_._1).distinct.length.toLong <= np)
    assert(rows.groupBy(_._1).count(_._2.length > 1).toLong == ns)
    assert(nr >= np, "refinement can only split parents, never merge them")
    // cross-operator: parents partition the same node set louvain_move
    // reported — sizes must agree parent-by-parent
    val louvain = run("louvain_move").collect()
      .map(r => r.getAs[Long]("community") -> r.getAs[Long]("n_nodes")).toMap
    val byParent = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(byParent == louvain,
      "refined sizes do not re-assemble the louvain communities")
    assert(qp == run("louvain_move").collect()
      .map(_.getAs[Long]("contrib_pm")).sum, "parent q differs from louvain")
    assert(qr <= qp || ns > 0, "refined q rose without any split")
  }
}
