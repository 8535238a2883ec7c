package graft

import org.apache.spark.sql.functions._
import graft.operators.{CorpusClean, KMeansIter}

/** Specs for the round-4 I-line: corpus cleaning, k-means, robust
  * stats, schema drift, stream-stream join. */
class CorpusCleanSpec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  private def tokens(text: String): Array[String] =
    text.split(" ").filter(_.nonEmpty)

  test("line_dedup: per-doc segment accounting is exact and kept == distinct globally") {
    val out = run("line_dedup").collect()
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.length == docs.size)
    // per-doc n_segs from first principles
    out.foreach { r =>
      val nSegs = math.max(math.ceil(tokens(docs(r.getLong(0))).length / 8.0).toLong, 1L)
      assert(r.getAs[Long]("n_segs") == nSegs, s"doc ${r.getLong(0)}")
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_segs"))
    }
    // every distinct segment is kept exactly once across the corpus
    val allSegs = docs.toSeq.flatMap { case (_, t) =>
      tokens(t).grouped(8).map(_.mkString(" ")).toSeq match {
        case Nil => Seq("")
        case ss  => ss
      }
    }
    assert(out.map(_.getAs[Long]("n_kept")).sum == allSegs.distinct.size)
  }

  test("boilerplate_strip: flags exactly the per-source repeated segments, all copies") {
    val docs = Tables.documents(spark, sf).select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def segs(t: String): Seq[String] =
      tokens(t).grouped(8).map(_.mkString(" ")).toSeq match {
        case Nil => Seq(""); case ss => ss
      }
    // per-source df over distinct docs
    val df = docs.flatMap { case (d, src, t) => segs(t).distinct.map(seg => (src, seg)) }
      .groupBy(identity).view.mapValues(_.length).toMap
    val out = run("boilerplate_strip").collect()
    assert(out.length == docs.length)
    val byId = out.map(r => r.getAs[Long]("doc_id") -> r).toMap
    docs.foreach { case (d, src, t) =>
      val ss = segs(t)
      val r = byId(d)
      val boiler = ss.count(seg => df((src, seg)) >= CorpusClean.BoilerDf)
      assert(r.getAs[Long]("n_segs") == ss.length.toLong, s"doc $d")
      assert(r.getAs[Long]("n_boiler") == boiler.toLong, s"doc $d")
      assert(r.getAs[Long]("clean_chars") ==
        ss.filter(seg => df((src, seg)) < CorpusClean.BoilerDf).map(_.length.toLong).sum)
    }
    // near-dup plants guarantee some boilerplate exists at this sf
    assert(out.map(_.getAs[Long]("n_boiler")).sum > 0)
  }

  test("repetition_score: fractions match a from-first-principles recount") {
    val out = run("repetition_score").collect()
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.length == docs.size)
    out.foreach { r =>
      val toks = tokens(docs(r.getLong(0)).toLowerCase)
      val n = toks.length.max(1)
      assert(r.getAs[Long]("n_words") == toks.length)
      val dupW = 1.0 - toks.distinct.length.toDouble / n
      val topW = toks.groupBy(identity).values.map(_.length).max.toDouble / n
      assert(math.abs(r.getAs[Double]("dup_word_frac") - dupW) < 1e-3)
      assert(math.abs(r.getAs[Double]("top_word_frac") - topW) < 1e-3)
      assert(r.getAs[Boolean]("keep") ==
        (dupW <= CorpusClean.DupWordMax + 1e-12 && topW <= CorpusClean.TopWordMax + 1e-12))
    }
  }

  test("substring_dedup: matches a from-first-principles window recount") {
    val out = run("substring_dedup").collect()
      .map(r => r.getLong(0) -> r).toMap
    // min doc_id can never have duplicated windows
    assert(out(out.keys.min).getAs[Long]("n_dup_windows") == 0L)
    // recompute window ownership exactly
    def wins(text: String): Set[String] = {
      val t = tokens(text)
      val n = math.max(math.ceil((t.length - CorpusClean.WinTokens).toDouble /
        CorpusClean.WinStride).toLong + 1, 1L).toInt
      (0 until n).map { i =>
        t.slice(i * CorpusClean.WinStride,
          i * CorpusClean.WinStride + CorpusClean.WinTokens).mkString(" ")
      }.toSet
    }
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> wins(r.getString(1))).sortBy(_._1)
    val firstOwner = scala.collection.mutable.Map[String, Long]()
    docs.foreach { case (id, ws) =>
      ws.foreach(w => if (!firstOwner.contains(w)) firstOwner(w) = id)
      val nDup = ws.count(w => firstOwner(w) < id).toLong
      assert(out(id).getAs[Long]("n_windows") == ws.size.toLong, s"doc $id windows")
      assert(out(id).getAs[Long]("n_dup_windows") == nDup, s"doc $id dups")
      assert(out(id).getAs[Boolean]("drop") ==
        (nDup.toDouble / ws.size >= CorpusClean.ContainMax))
    }
  }

  test("bpe_pairs: top pair matches a brute-force recount, counts descend") {
    val out = run("bpe_pairs").collect()
    assert(out.length == CorpusClean.BpeK)
    val ns = out.map(_.getAs[Long]("n"))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b })
    val counts = Tables.documents(spark, sf).select("text").collect()
      .flatMap(r => tokens(r.getString(0).toLowerCase).sliding(2).filter(_.length == 2))
      .map(p => (p(0), p(1)))
      .groupBy(identity).view.mapValues(_.length)
    assert(out.head.getAs[Long]("n") == counts.values.max.toLong)
    // every reported pair's count matches the brute-force recount
    out.foreach { r =>
      assert(counts((r.getString(0), r.getString(1))).toLong == r.getAs[Long]("n"))
    }
  }

  test("collocations: lift matches a brute-force recount, floor respected") {
    val out = run("collocations").collect()
    assert(out.length == CorpusClean.CollocK)
    val texts = Tables.documents(spark, sf).select("text").collect()
      .map(r => tokens(r.getString(0).toLowerCase))
    val uni = texts.flatten.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val n = uni.values.sum
    val pairs = texts.flatMap(_.sliding(2).filter(_.length == 2).map(p => (p(0), p(1))))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    out.foreach { r =>
      val (wl, wr) = (r.getString(0), r.getString(1))
      val c = pairs((wl, wr))
      assert(c == r.getAs[Long]("n_pair"))
      assert(c >= CorpusClean.CollocMinCount)
      val lift = c.toDouble * n / (uni(wl).toDouble * uni(wr))
      assert(math.abs(r.getAs[Double]("lift") - lift) < 1e-3)
    }
    val lifts = out.map(_.getAs[Double]("lift"))
    assert(lifts.zip(lifts.tail).forall { case (a, b) => a >= b })
  }

  test("kmeans_iter: partition of the corpus, Lloyd descent holds") {
    val out = run("kmeans_iter").collect()
    assert(out.length == KMeansIter.K)
    val total = Tables.embeddings(spark, sf).count()
    assert(out.map(_.getAs[Long]("n_members")).sum == total)
    assert(out.forall(_.getAs[Long]("inertia") > 0))
    val i1 = KMeansIter.inertiaAfter(spark, sf, 1)
    val i2 = KMeansIter.inertiaAfter(spark, sf, 2)
    assert(i2 <= i1, s"inertia must not increase: $i1 -> $i2")
    assert(out.map(_.getAs[Long]("inertia")).sum == i2)
  }

  test("quantile_bins: bins cover all rows, depths are balanced, extents ordered") {
    val out = run("quantile_bins").collect().sortBy(_.getAs[Int]("bin"))
    val total = Tables.lineitem(spark, sf).count()
    assert(out.map(_.getAs[Long]("n_rows")).sum == total)
    val depths = out.map(_.getAs[Long]("n_rows"))
    assert(depths.max - depths.min <= math.max(2, total / 50),
      s"equi-depth skew: ${depths.mkString(",")}")
    out.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Double]("hi") <= b.getAs[Double]("lo") + 1e-9)
      case _ =>
    }
  }

  test("lm_score: quantized bigram probabilities match an exact integer recount") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> tokens(r.getString(1).toLowerCase)).toMap
    val allBg = docs.values.toSeq.flatMap(_.sliding(2).filter(_.length == 2)
      .map(p => (p(0), p(1))))
    val cBg = allBg.groupBy(identity).view.mapValues(_.length.toLong)
    val cUni = docs.values.toSeq.flatten.groupBy(identity).view.mapValues(_.length.toLong)
    val out = run("lm_score").collect().map(r => r.getLong(0) -> r).toMap
    assert(out.size == docs.count(_._2.length >= 2))
    docs.filter(_._2.length >= 2).foreach { case (id, toks) =>
      val qs = toks.sliding(2).filter(_.length == 2)
        .map(p => cBg((p(0), p(1))) * CorpusClean.LmScale / cUni(p(0))).toSeq
      assert(out(id).getAs[Long]("n_bigrams") == qs.length.toLong, s"doc $id n")
      assert(out(id).getAs[Long]("sum_q") == qs.sum, s"doc $id sum_q")
      val score = qs.sum.toDouble / (qs.length * CorpusClean.LmScale)
      assert(math.abs(out(id).getAs[Double]("lm_score") - score) < 1e-3)
      assert(out(id).getAs[Boolean]("fluent") == (score >= CorpusClean.LmMin))
    }
  }

  test("dist_drift: TVD matches the exact-integer recount on the same bins") {
    val ps = (1 until graft.queries.Robust.Bins).map(_.toDouble / graft.queries.Robust.Bins)
    val edges = Tables.events(spark, sf)
      .agg(expr(s"percentile(value, array(${ps.mkString(",")}))"))
      .head().getSeq[Double](0)
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), col("value"), expr("unix_timestamp(ts)")).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2) / 86400 % 2))
    val out = run("dist_drift").collect().map(r => r.getString(0) -> r).toMap
    ev.groupBy(_._1).foreach { case (et, rows) =>
      val cells = rows.groupBy { case (_, v, _) => edges.count(v > _) }
      val na = rows.count(_._3 == 0L).toLong
      val nb = rows.count(_._3 == 1L).toLong
      val num = cells.values.map { c =>
        val a = c.count(_._3 == 0L).toLong
        val b = c.count(_._3 == 1L).toLong
        math.abs(a * nb - b * na)
      }.sum
      val tvd = num.toDouble / (2L * na * nb)
      assert(out(et).getAs[Long]("na") == na, s"$et na")
      assert(out(et).getAs[Long]("nb") == nb, s"$et nb")
      assert(math.abs(out(et).getAs[Double]("tvd") - tvd) < 1e-5, s"$et tvd")
      assert(out(et).getAs[Boolean]("drift") == (tvd > graft.queries.Robust.DriftMax))
    }
  }

  test("winsorize: clamp counts exact against the same percentile limits") {
    val lims = Tables.events(spark, sf).groupBy(col("event_type"))
      .agg(expr(s"percentile(value, ${graft.queries.Robust.WinsLo})").as("lo"),
        expr(s"percentile(value, ${graft.queries.Robust.WinsHi})").as("hi"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val ev = Tables.events(spark, sf).select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val out = run("winsorize").collect().map(r => r.getString(0) -> r).toMap
    ev.groupBy(_._1).foreach { case (et, rows) =>
      val (lo, hi) = lims(et)
      val vs = rows.map(_._2)
      assert(out(et).getAs[Long]("n") == vs.length.toLong)
      assert(out(et).getAs[Long]("n_clamped_lo") == vs.count(_ < lo).toLong)
      assert(out(et).getAs[Long]("n_clamped_hi") == vs.count(_ > hi).toLong)
      val wins = vs.map(v => math.min(math.max(v, lo), hi))
      assert(math.abs(out(et).getAs[Double]("mean_raw") - vs.sum / vs.length) < 1e-3)
      assert(math.abs(out(et).getAs[Double]("mean_wins") - wins.sum / wins.length) < 1e-3)
    }
  }

  test("outlier_mad: every event counted once, outliers are a strict minority") {
    val out = run("outlier_mad").collect()
    val total = Tables.events(spark, sf).count()
    assert(out.map(_.getAs[Long]("n")).sum == total)
    out.foreach { r =>
      assert(r.getAs[Long]("n_outliers") * 4 < r.getAs[Long]("n"),
        s"${r.getString(0)}: MAD flags should be a small fraction")
      assert(r.getAs[Double]("mad") >= 0)
    }
  }

  test("schema_drift: pre-drift generation surfaces typed nulls, nothing lost") {
    val out = run("schema_drift").collect()
    val day1 = out.filter(_.getAs[Int]("day") == 1)
    assert(day1.length == 1 && day1.head.getAs[String]("status") == "<pre-drift>")
    assert(out.filter(_.getAs[Int]("day") == 2)
      .forall(_.getAs[String]("status") != "<pre-drift>"))
    val total = Tables.orders(spark, sf).count()
    assert(out.map(_.getAs[Long]("n")).sum == total)
  }

  test("filter_funnel: stages partition the corpus and match a per-doc recount") {
    val out = run("filter_funnel").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.values.map(_._1).sum == docs.length.toLong)
    assert(out.values.map(_._2).sum == docs.map(_._3).sum)
    // first-principles verdicts
    val keeper = docs.groupBy(_._2).values
      .flatMap(g => g.map(d => d._1 -> g.map(_._1).min)).toMap
    def verdict(id: Long, text: String): String = {
      val toks = tokens(text.toLowerCase)
      val n = toks.length
      val dupW = if (n == 0) 1.0 else 1.0 - toks.distinct.length.toDouble / n
      val topW = if (n == 0) 0.0
        else toks.groupBy(identity).values.map(_.length).max.toDouble / n
      val punct = text.count(c => !(c.isDigit || c == ' ' ||
        (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')))
      val q = math.min(math.max(tokens(text).length, 1), 100).toDouble / 100 *
        (1.0 - punct.toDouble / text.length)
      if (n < graft.operators.TrainPrep.MinTok) "1_too_short"
      else if (dupW > CorpusClean.DupWordMax || topW > CorpusClean.TopWordMax) "2_repetitive"
      else if (q < 0.5) "3_low_quality"
      else if (id != keeper(id)) "4_exact_dup"
      else "5_pass"
    }
    val expected = docs.groupBy(d => verdict(d._1, d._2))
      .view.mapValues(g => (g.length.toLong, g.map(_._3).sum)).toMap
    assert(out == expected)
  }

  test("stream_join: streaming result equals the relational join") {
    val out = run("stream_join").collect()
      .map(r => (r.getAs[Long]("vid"), r.getAs[Long]("pid"))).toSet
    val e = Tables.events(spark, sf)
    val v = e.filter(col("event_type") === "view")
      .select(col("event_id").as("vid"), col("user_id"), col("ts").as("vts"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id").as("pu"), col("ts").as("pts"))
    val batch = v.join(p, col("user_id") === col("pu") &&
        col("pts") >= col("vts") && col("pts") <= col("vts") + expr("INTERVAL 1 HOUR"))
      .select("vid", "pid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == batch)
    assert(out.nonEmpty)
  }

  test("stream_join_outer: watermark eviction emits exactly the provably-unmatched views") {
    val rows = run("stream_join_outer").collect()
    val matched = rows.filter(_.getAs[Int]("unmatched") == 0)
      .map(r => (r.getAs[Long]("vid"), r.getAs[Long]("pid"))).toSet
    val nullVids = rows.filter(_.getAs[Int]("unmatched") == 1)
      .map(_.getAs[Long]("vid")).toSet
    // matched portion identical to the inner stream join
    val inner = run("stream_join").collect()
      .map(r => (r.getAs[Long]("vid"), r.getAs[Long]("pid"))).toSet
    assert(matched == inner)
    // every null row is a view with NO purchase in its hour, and its
    // deadline sits a full delay inside the evicted region
    val e = Tables.events(spark, sf)
    val v = e.filter(col("event_type") === "view")
      .select(col("event_id").as("vid"), col("user_id"), col("ts").as("vts"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id").as("pu"), col("ts").as("pts"))
    // global watermark under the default 'min' policy: the SLOWER
    // stream's max drives eviction — same least() as the operator
    val maxPts = p.agg(max(col("pts"))).collect()(0).getTimestamp(0).toInstant
    val maxVts = v.agg(max(col("vts"))).collect()(0).getTimestamp(0).toInstant
    val wm = if (maxVts.isBefore(maxPts)) maxVts else maxPts
    val expectedNull = v.join(p, col("user_id") === col("pu") &&
        col("pts") >= col("vts") && col("pts") <= col("vts") + expr("INTERVAL 1 HOUR"),
        "left_anti")
      .filter(col("vts") + expr("INTERVAL 1 HOUR") <=
        lit(java.sql.Timestamp.from(wm.minusSeconds(3 * 3600))))
      .collect().map(_.getAs[Long]("vid")).toSet
    assert(nullVids == expectedNull)
    assert(nullVids.nonEmpty, "no unmatched views — outer semantics vacuous")
    // null rows carry null purchase columns
    rows.filter(_.getAs[Int]("unmatched") == 1)
      .foreach(r => assert(r.isNullAt(r.fieldIndex("pid")) && r.isNullAt(r.fieldIndex("pts"))))
  }

  test("bpe_train: merge loop replays a sequential greedy BPE trainer") {
    val rows = run("bpe_train").collect()
      .map(r => (r.getAs[Int]("round"), r.getAs[String]("left"),
        r.getAs[String]("right"), r.getAs[Long]("n_pair"), r.getAs[Long]("n_applied")))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == (1 to CorpusClean.BpeTrainRounds).toSeq)

    // sequential reference: plain Scala greedy BPE on the collected corpus
    var docs = Tables.documents(spark, sf).select("text").collect()
      .map(_.getString(0).toLowerCase.split("\\s+").filter(_.nonEmpty).toVector)
    for ((round, l, r, nPair, nApplied) <- rows) {
      val pairCounts = docs.iterator.flatMap(d => d.iterator.zip(d.iterator.drop(1)))
        .foldLeft(Map.empty[(String, String), Long]) { (m, p) =>
          m.updated(p, m.getOrElse(p, 0L) + 1)
        }
      val bestN = pairCounts.values.max
      val best = pairCounts.filter(_._2 == bestN).keys.minBy(identity)
      assert((l, r, nPair) == (best._1, best._2, bestN), s"round $round argmax")
      var applied = 0L
      docs = docs.map { d =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < d.length) {
          if (i + 1 < d.length && d(i) == l && d(i + 1) == r) {
            out += s"${l}_$r"; applied += 1; i += 2 // greedy left-to-right
          } else { out += d(i); i += 1 }
        }
        out.result()
      }
      assert(applied == nApplied, s"round $round applied: $applied vs $nApplied")
    }
    // the overlap path must actually exercise (a same-token merge with
    // n_applied < n_pair somewhere, or no same-token pair ever won)
    val sameTok = rows.filter(t => t._2 == t._3)
    sameTok.foreach { t => assert(t._5 <= t._4) }
  }

  test("bpe-token artifact: delete → rebuild equals a fresh training run") {
    graft.ingest.ArtifactCache.deleteTree(java.nio.file.Paths.get(CorpusClean.BpeTokens.path(sf)))
    val built = CorpusClean.ensureBpeTokens(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("pos"), r.getAs[String]("w"))).toSet
    val persisted = rows(spark.read.parquet(built))
    val live = rows(CorpusClean.bpeTrainRun(spark, sf)._1)
    assert(persisted.nonEmpty && persisted == live,
      s"persisted=${persisted.size} live=${live.size}")
  }

  test("bpe_apply: compression conserves Σ n_applied against bpe_train") {
    val applyRows = run("bpe_apply").collect()
    val trainRows = run("bpe_train").collect()
    // each applied merge fuses exactly two tokens into one
    val totalApplied = trainRows.map(_.getAs[Long]("n_applied")).sum
    val before = applyRows.map(_.getAs[Long]("tokens_before")).sum
    val after = applyRows.map(_.getAs[Long]("tokens_after")).sum
    assert(before - after == totalApplied,
      s"token conservation broken: $before - $after != $totalApplied")
    assert(after < before, "no merge applied anywhere — vacuous")
    applyRows.foreach { r =>
      val c = r.getAs[Double]("compression")
      assert(c > 0.0 && c <= 1.0, s"compression out of range: $c")
      assert(r.getAs[Long]("n_docs") > 0)
    }
    // every source is represented
    assert(applyRows.map(_.getAs[String]("source")).toSet ==
      Tables.documents(spark, sf).select("source").distinct()
        .collect().map(_.getString(0)).toSet)
  }

  test("bpe merge-apply: island parity equals sequential greedy on adversarial runs") {
    // seeded random sequences over a 2-letter alphabet, dominated by
    // runs — the worst case for the parity trick (every merge overlaps
    // its neighbor). Both candidate pairs (same-token and mixed) are
    // applied to EVERY sequence in one DataFrame pass and compared to
    // a plain left-to-right scanner per sequence.
    val rnd = new scala.util.Random(42)
    val docs = (0 until 60).map { id =>
      val len = rnd.nextInt(21)
      id.toLong -> Vector.fill(len)(if (rnd.nextInt(3) == 0) "b" else "a")
    }
    def sequential(d: Vector[String], l: String, r: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < d.length) {
        if (i + 1 < d.length && d(i) == l && d(i + 1) == r) { out += s"${l}_$r"; i += 2 }
        else { out += d(i); i += 1 }
      }
      out.result()
    }
    import spark.implicits._
    val frame = docs.flatMap { case (id, toks) =>
      toks.zipWithIndex.map { case (t, p) => (id, p, t) }
    }.toDF("doc_id", "pos", "w")
    for ((l, r) <- Seq(("a", "a"), ("a", "b"), ("b", "a"))) {
      val got = ReferenceForms.applyMerge(ReferenceForms.stageMerge(frame, l, r), r)
        .collect().map(r0 => (r0.getLong(0), r0.getInt(1), r0.getString(2)))
        .groupBy(_._1).view
        .mapValues(_.sortBy(_._2).map(_._3).toVector).toMap
      docs.foreach { case (id, toks) =>
        val want = sequential(toks, l, r)
        val have = got.getOrElse(id, Vector.empty)
        assert(have == want, s"pair ($l,$r) doc $id: $have vs $want (input $toks)")
      }
    }
  }

  test("html_extract: zero residual markup; columns match a char-walk extractor") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // independent local extraction: a character STATE MACHINE (not
    // the operator's regexes), so the spec proves the regex pipeline
    // implements the extraction semantics, not just itself
    def wrap(id: Long, text: String): String = {
      val sb = new StringBuilder
      sb ++= s"<html><head><title>Doc $id</title><style>p{margin:0}</style>"
      sb ++= s"<script>var d=$id;</script></head><body><h1>Doc $id</h1><p>"
      sb ++= text
      if (id % 3 == 0) sb ++= " &amp; entities &lt;escaped&gt;"
      if (id % 4 == 0) sb ++= "&nbsp;&copy;2026"
      sb ++= "</p>"
      if (id % 5 == 0) sb ++= "<div class=\"ad\">buy now</div>"
      sb ++= "</body></html>"
      sb.result()
    }
    def extract(html: String): String = {
      val out = new StringBuilder
      var i = 0
      var skipUntil: String = null // inside script/style content
      while (i < html.length) {
        if (html.charAt(i) == '<') {
          val close = html.indexOf('>', i)
          val tag = html.substring(i + 1, close)
          if (skipUntil != null) { if (tag == skipUntil) skipUntil = null }
          else if (tag == "script" || tag == "style") skipUntil = "/" + tag
          if (skipUntil == null || tag == "script" || tag == "style") out += ' '
          i = close + 1
        } else { if (skipUntil == null) out += html.charAt(i); i += 1 }
      }
      val decoded = Seq("&amp;" -> "&", "&lt;" -> "<", "&gt;" -> ">",
        "&nbsp;" -> " ", "&copy;" -> "(c)")
        .foldLeft(out.result()) { case (acc, (e, r)) => acc.replace(e, r) }
      decoded.replaceAll(" {2,}", " ").trim
    }
    val got = run("html_extract").collect().map(r => r.getLong(0) ->
      (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(6))).toMap
    assert(got.size == docs.length)
    docs.foreach { case (id, text) =>
      val html = wrap(id, text)
      val clean = extract(html)
      val (lenHtml, nTags, nEnt, nRes, lenText, stripped) = got(id)
      assert(nRes == 0, s"doc $id: residual markup $nRes")
      assert(lenHtml == html.length, s"doc $id len_html")
      assert(lenText == clean.length, s"doc $id len_text: spark $lenText vs local ${clean.length}")
      assert(stripped == html.length - clean.length)
      val localTags = "<[^>]*>".r.findAllIn(html).length
      val localEnts = "&(amp|lt|gt|nbsp|copy);".r.findAllIn(html).length
      assert(nTags == localTags && nEnt == localEnts)
      // the original words survive extraction verbatim
      assert(clean.contains(text.replaceAll(" {2,}", " ").trim), s"doc $id lost text")
    }
  }

  test("ccnet_buckets: tertiles partition each lang; quality orders head>=middle>=tail") {
    val rows = run("ccnet_buckets").collect()
    val perLang = rows.groupBy(_.getString(0))
    val langCounts = Tables.documents(spark, sf).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perLang.keySet == langCounts.keySet)
    perLang.foreach { case (lang, bs) =>
      val byBucket = bs.map(r => r.getString(1) -> r).toMap
      assert(byBucket.keySet == Set("head", "middle", "tail"), s"$lang buckets")
      // ntile: sizes partition the lang and differ by at most 1
      val sizes = byBucket.view.mapValues(_.getAs[Long]("n_docs")).toMap
      assert(sizes.values.sum == langCounts(lang))
      assert(sizes.values.max - sizes.values.min <= 1, s"$lang sizes $sizes")
      // fluency ordering across the cut (ties may sit exactly on it)
      assert(byBucket("head").getAs[Long]("min_fq")
        >= byBucket("middle").getAs[Long]("max_fq"))
      assert(byBucket("middle").getAs[Long]("min_fq")
        >= byBucket("tail").getAs[Long]("max_fq"))
      // the split is non-degenerate: head is strictly more fluent
      // than tail somewhere
      assert(byBucket("head").getAs[Long]("max_fq")
        > byBucket("tail").getAs[Long]("min_fq"), s"$lang flat fq")
    }
  }

  test("c4_filters: first-match rule counts replay from first principles; conservation holds") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def linesOf(id: Long, text: String): Seq[String] = {
      val ts = tokens(text)
      val nLines = math.max(math.ceil(ts.length / CorpusClean.C4LineTokens.toDouble).toLong, 1L)
      val base = (0L until nLines).map { si =>
        val body = ts.slice((si * CorpusClean.C4LineTokens).toInt,
          (si * CorpusClean.C4LineTokens).toInt + CorpusClean.C4LineTokens).mkString(" ")
        body + Seq("", ".", "!", "?")(((id + si) % 4).toInt)
      }
      base ++ CorpusClean.C4Planted.collect { case (m, _, txt) if id % m == 0 => txt }
    }
    def lineRule(l: String): String =
      if (!l.matches(".*[.!?\"]$")) "line_no_terminal_punct"
      else if (l.split(" ").count(_.nonEmpty) < 5) "line_min_words"
      else if (l.contains("javascript")) "line_javascript"
      else if (CorpusClean.C4BadPhrases.exists(l.contains)) "line_bad_phrase"
      else "kept"
    var pgLorem, pgCurly, pgMin, pgKept = 0L
    var lTerm, lShort, lJs, lPhrase, lKept = 0L
    docs.foreach { case (id, text) =>
      val ls = linesOf(id, text)
      if (ls.exists(_.contains("lorem ipsum"))) pgLorem += 1
      else if (ls.exists(_.contains("{"))) pgCurly += 1
      else {
        val rs = ls.map(lineRule)
        lTerm += rs.count(_ == "line_no_terminal_punct")
        lShort += rs.count(_ == "line_min_words")
        lJs += rs.count(_ == "line_javascript")
        lPhrase += rs.count(_ == "line_bad_phrase")
        val kept = rs.count(_ == "kept")
        if (kept < CorpusClean.C4MinKeptLines) pgMin += 1
        else { pgKept += 1; lKept += kept }
      }
    }
    val got = run("c4_filters").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n")).toMap
    assert(got.size == 9)
    assert(got(("page_lorem_ipsum", "page")) == pgLorem)
    assert(got(("page_curly_brace", "page")) == pgCurly)
    assert(got(("page_min_lines", "page")) == pgMin)
    assert(got(("kept_pages", "page")) == pgKept)
    assert(got(("line_no_terminal_punct", "line")) == lTerm)
    assert(got(("line_min_words", "line")) == lShort)
    assert(got(("line_javascript", "line")) == lJs)
    assert(got(("line_bad_phrase", "line")) == lPhrase)
    assert(got(("kept_lines", "line")) == lKept)
    // pages conserve; every rule actually fires on this corpus
    assert(pgLorem + pgCurly + pgMin + pgKept == docs.length.toLong)
    assert(Seq(pgLorem, pgCurly, lTerm, lShort, lJs, lPhrase, lKept).forall(_ > 0))
  }

  test("fineweb_filters: doc-level verdicts replay from first principles; " +
    "every published rule fires") {
    import CorpusClean.{C4LineTokens, FwDupLine, FwDupPm, FwPunctPm,
      FwShortChars, FwShortPm}
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def linesOf(id: Long, text: String): Seq[String] = {
      val ts = tokens(text)
      val nLines = math.max(math.ceil(ts.length / C4LineTokens.toDouble).toLong, 1L)
      (0L until nLines).map { si =>
        if (id % 23 == 0 && si % 3 == 0) FwDupLine
        else {
          val width = if (id % 29 == 0) 2 else C4LineTokens
          val body = ts.slice((si * C4LineTokens).toInt,
            (si * C4LineTokens).toInt + width).mkString(" ")
          val punct = if (id % 19 == 0) ""
            else Seq("", ".", "!", "?")(((id + si) % 4).toInt)
          body + punct
        }
      }
    }
    def verdictOf(ls: Seq[String]): String = {
      val n = ls.length.toLong
      val chars = ls.map(_.length.toLong).sum
      val punct = ls.count(_.matches(".*[.!?\"]$")).toLong
      val copies = ls.groupBy(identity).view.mapValues(_.length).toMap
      val dupChars = ls.collect {
        case l if copies(l) >= 2 => l.length.toLong
      }.sum
      val short = ls.count(_.length < FwShortChars).toLong
      if (punct * 1000 <= FwPunctPm * n) "punct_ratio"
      else if (dupChars * 1000 >= FwDupPm * chars) "dup_line_chars"
      else if (short * 1000 >= FwShortPm * n) "short_lines"
      else "kept"
    }
    val expected = docs.map { case (id, text) =>
      val ls = linesOf(id, text)
      (verdictOf(ls), ls.length.toLong, ls.map(_.length.toLong).sum)
    }.groupBy(_._1).view.mapValues(g =>
      (g.length.toLong, g.map(_._2).sum, g.map(_._3).sum)).toMap
    val got = run("fineweb_filters").collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_lines"), r.getAs[Long]("n_chars")))).toMap
    assert(got == expected)
    // each published rule fires on its planted class, and most docs keep
    Seq("punct_ratio", "dup_line_chars", "short_lines", "kept").foreach(v =>
      assert(got.contains(v), s"$v never fired"))
    assert(got("kept")._1 > got.filterKeys(_ != "kept").values.map(_._1).sum)
  }

  test("anchor_extract: per-host link/anchor stats replay from the planted pages") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    // (host, docId, anchor, nofollow) per planted link
    val links = docs.flatMap { case (id, text) =>
      val ts = tokens(text)
      val self = (s"site${id % 7}.example.com", id, ts.slice(0, 3).mkString(" "), false)
      val hub = if (id % 4 == 0)
        Seq((s"site${(id + 1) % 7}.example.com", id, ts.slice(3, 6).mkString(" "), false))
      else Seq.empty
      val ads = if (id % 6 == 0)
        Seq(("ads.example.com", id, "click here", true)) else Seq.empty
      Seq(self) ++ hub ++ ads
    }
    val got = run("anchor_extract").collect()
      .map(r => r.getString(0) -> r).toMap
    val byHost = links.groupBy(_._1)
    assert(got.keySet == byHost.keySet)
    byHost.foreach { case (host, ls) =>
      val r = got(host)
      val kept = ls.filterNot(_._4)
      assert(r.getAs[Long]("n_links") == ls.length.toLong, s"$host links")
      assert(r.getAs[Long]("n_kept") == kept.length.toLong, s"$host kept")
      assert(r.getAs[Long]("n_docs") == ls.map(_._2).distinct.length.toLong)
      assert(r.getAs[Long]("n_anchor_texts") == kept.map(_._3).distinct.length.toLong)
      assert(r.getAs[Long]("anchor_tokens") ==
        kept.map(_._3.split(" ").count(_.nonEmpty).toLong).sum)
      assert(r.getAs[Long]("n_nofollow") == ls.count(_._4).toLong)
    }
    // the nofollow host carries NO anchor supervision
    assert(got("ads.example.com").getAs[Long]("n_kept") == 0L)
    assert(got("ads.example.com").getAs[Long]("n_anchor_texts") == 0L)
  }

  test("bff_dedup: bloom verdicts replay from a local bit array; no " +
    "false negatives, false positives are exactly the bloom's surplus") {
    import graft.operators.Sketches.{BloomM, BloomProbes, M}
    import graft.operators.CorpusClean.SegTokens
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def segsOf(text: String): Seq[String] = {
      val ts = tokens(text)
      val n = math.max(1L, math.ceil(ts.length.toDouble / SegTokens).toLong)
      (0L until n).map(si =>
        ts.slice((si * SegTokens).toInt, (si * SegTokens).toInt + SegTokens)
          .mkString(" "))
    }
    def polyHash(s: String): Long = {
      var acc = 0L; var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        acc = (acc * 31L + cp) % M
        i += Character.charCount(cp)
      }
      acc
    }
    def probes(key: Long): Seq[Long] = BloomProbes.map { case (a, b) =>
      val g = Math.floorMod(key * a + b, M); Math.floorMod(g * g, M) % BloomM }
    val all = docs.flatMap { case (d, src, t) => segsOf(t).map(sg => (d, src, sg)) }
    val priorSegs = all.filter(_._1 % 10 < 8).map(_._3).toSet
    val bits = priorSegs.map(polyHash).flatMap(probes)
    val incoming = all.filter(_._1 % 10 >= 8)
    val verdicts = incoming.map { case (d, src, sg) =>
      val pos = probes(polyHash(sg)).forall(bits.contains)
      val dup = priorSegs.contains(sg)
      (src, pos, dup)
    }
    val expected = verdicts.groupBy(_._1).view.mapValues { v =>
      val in = v.length.toLong
      val drop = v.count(_._2).toLong
      val dup = v.count(_._3).toLong
      val fp = v.count(x => x._2 && !x._3).toLong
      (in, drop, dup, fp, bits.size.toLong,
        drop * 1000L / in, fp * 1000L / math.max(in - dup, 1L))
    }.toMap
    val got = run("bff_dedup").collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("n_para_in"),
        r.getAs[Long]("n_dropped"), r.getAs[Long]("n_true_dup"),
        r.getAs[Long]("n_false_pos"), r.getAs[Long]("set_bits"),
        r.getAs[Long]("drop_pm"), r.getAs[Long]("fp_pm")))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (src, e) => assert(got(src) == e, s"source $src") }
    // the Bloom guarantee: every true duplicate IS dropped (no false
    // negatives), so surplus drops are exactly the false positives
    assert(verdicts.forall(v => !v._3 || v._2), "false negative!")
    got.values.foreach(v => assert(v._2 == v._3 + v._4))
    // both error legs of the report are non-vacuous on this corpus
    assert(got.values.map(_._3).sum > 0L, "some true cross-shard dup exists")
    assert(got.values.map(_._1).sum > got.values.map(_._3).sum,
      "some incoming paragraphs are genuinely new")
  }

  test("kneser_ney: per-doc scores replay from first principles; the " +
    "discount leaves exact probability mass <= 1 per context and is live") {
    import graft.operators.CorpusClean.{KnDiscNum, KnDiscDen, LmScale}
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), tokens(r.getString(1).toLowerCase)))
    val bgs = docs.flatMap { case (d, ts) =>
      ts.sliding(2).filter(_.length == 2).map(p => (d, p(0), p(1))) }
    val cbg = bgs.groupBy(t => (t._2, t._3)).view.mapValues(_.length.toLong).toMap
    val ctx = cbg.toSeq.groupBy(_._1._1).view
      .mapValues(v => (v.map(_._2).sum, v.size.toLong)).toMap // (ctx, n1w)
    val n1w1 = cbg.keys.toSeq.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val nt = cbg.size.toLong
    def q(w: String, w1: String): Long = {
      val c = cbg((w, w1)); val (cx, n1w) = ctx(w)
      (math.max(KnDiscDen * c - KnDiscNum, 0L) * nt +
        KnDiscNum * n1w * n1w1(w1)) * LmScale / (KnDiscDen * cx * nt)
    }
    val expected = bgs.groupBy(_._1).view.mapValues { v =>
      (v.length.toLong, v.map(t => q(t._2, t._3)).sum)
    }.toMap
    val got = run("kneser_ney").collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("n_bigrams"),
        r.getAs[Long]("sum_q"), r.getAs[Double]("kn_score"),
        r.getAs[Boolean]("fluent")))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (d, (nb, sq)) =>
      val g = got(d)
      assert((g._1, g._2) == ((nb, sq)), s"doc $d")
      val score = math.floor(sq.toDouble / (nb * LmScale) * 1e4 + 0.5) / 1e4
      assert(g._3 == score && g._4 == (sq.toDouble / (nb * LmScale) >= 0.01))
    }
    // exact-rational mass check per context: the discounted +
    // interpolated mass over OBSERVED continuations never exceeds 1
    ctx.foreach { case (w, (cx, n1w)) =>
      val mass = cbg.collect { case ((`w`, w1), c) =>
        BigInt(math.max(KnDiscDen * c - KnDiscNum, 0L)) * BigInt(nt) +
          BigInt(KnDiscNum) * BigInt(n1w) * BigInt(n1w1(w1)) }.sum
      assert(mass <= BigInt(KnDiscDen) * BigInt(cx) * BigInt(nt), s"ctx $w")
    }
    // the discount is live: some bigram scores BELOW its MLE-on-the-
    // same-denominator twin, i.e. smoothing actually moved mass
    val moved = cbg.keys.exists { case (w, w1) =>
      q(w, w1) != cbg((w, w1)) * LmScale / ctx(w)._1 }
    assert(moved, "KN equals MLE everywhere — discount vacuous")
  }

  // ---- unigram_lm: the local sequential trainer the operator must
  // replay exactly (same logish lattice, same tiebreak) ----
  private def ulmLogish(x: Long): Long = {
    val b = 63 - java.lang.Long.numberOfLeadingZeros(x)
    b * 1024L + ((x * 1024L) >> b) - 1024L
  }
  private def ulmPieces(word: String, mask: Long): Seq[String] = {
    val cuts = (1 until word.length).filter(p => ((mask >> (p - 1)) & 1L) == 1L)
    val bounds = 0 +: cuts :+ word.length
    bounds.sliding(2).map { case Seq(a, b) => word.substring(a, b) }.toSeq
  }
  private def ulmTrain(words: Map[String, Long], rounds: Int)
      : Seq[Map[String, Long]] = {
    var vocab = words.toSeq.flatMap { case (w, f) =>
      for (a <- 0 until w.length; b <- a + 1 to w.length)
        yield (w.substring(a, b), f)
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    (1 to rounds).map { _ =>
      val lt = ulmLogish(vocab.values.sum)
      vocab = words.toSeq.flatMap { case (w, f) =>
        val best = (0L until (1L << (w.length - 1))).flatMap { m =>
          val ps = ulmPieces(w, m)
          if (ps.forall(vocab.contains))
            Some((ps.map(p => ulmLogish(vocab(p))).sum - ps.length * lt,
              ps.length, m, ps))
          else None
        }.minBy { case (sc, np, m, _) => (-sc, np, m) }
        best._4.map(p => (p, f))
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      vocab
    }
  }

  test("unigram_lm: every round's re-estimated vocab replays from the " +
    "local sequential Viterbi-EM trainer; vocabulary shrinks monotonically") {
    import graft.operators.CorpusClean.{UlmMaxWord, UlmRounds}
    val words = Tables.documents(spark, sf).select("text").collect()
      .flatMap(r => tokens(r.getString(0).toLowerCase))
      .filter(_.length <= UlmMaxWord)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val expected = ulmTrain(words, UlmRounds)
    val got = run("unigram_lm").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      .groupBy(_._1).view
      .mapValues(_.map(t => t._2 -> t._3).toMap).toMap
    (1 to UlmRounds).foreach { r =>
      assert(got(r.toLong) == expected(r - 1), s"round $r diverged")
    }
    // EM pruning: counts only ever cover winners' pieces
    (2 to UlmRounds).foreach { r =>
      assert(got(r.toLong).keySet.subsetOf(got(r - 1L).keySet))
    }
    assert(got(UlmRounds.toLong).nonEmpty)
  }

  test("unigram_lm: the EM loop is LIVE on a planted corpus — round 1 " +
    "keeps a compound whole, round 2 re-segments it after mass concentrates") {
    import graft.operators.CorpusClean.UlmRounds
    import spark.implicits._
    // words: aabb x12, aa x70, bb x70, ab x3. Seed mass (all
    // substrings) keeps aabb whole in round 1; after the M-step
    // concentrates mass on winners, aa/bb outweigh and round 2
    // splits aabb -> aa+bb. Verified against ulmTrain below.
    val words = Map("aabb" -> 12L, "aa" -> 70L, "bb" -> 70L, "ab" -> 3L)
    val text = words.toSeq.sortBy(_._1)
      .flatMap { case (w, f) => Seq.fill(f.toInt)(w) }.mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("ulm_live")
      .toFile.getAbsolutePath
    Seq((1L, text, "en", "src0", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.CorpusClean.unigramLm(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      .groupBy(_._1).view
      .mapValues(_.map(t => t._2 -> t._3).toMap).toMap
    val expected = ulmTrain(words, UlmRounds)
    (1 to UlmRounds).foreach { r =>
      assert(got(r.toLong) == expected(r - 1), s"round $r diverged")
    }
    assert(got(1L).contains("aabb"), "round 1 should keep the compound")
    assert(!got(2L).contains("aabb"), "round 2 should re-segment it")
    assert(got(2L)("aa") == 82L && got(2L)("bb") == 82L)
  }

  test("bpe_train array-form loop emits the row-form merges and token frame, bit-for-bit") {
    val (rowToks, rowMerges) = ReferenceForms.bpeTrainRows(spark, sf)
    val arrMerges = CorpusClean.bpeTrainReport(spark, sf)
    assert(arrMerges == rowMerges, s"arr=$arrMerges row=$rowMerges")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("pos"), r.getAs[String]("w"))).toSet
    val (arrToks, _) = CorpusClean.bpeTrainRun(spark, sf)
    assert(rows(arrToks) == rows(rowToks))
    rowToks.unpersist()
  }

  test("lm_scores artifact rows equal the fresh lmPerDoc sweep") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_bigrams"),
        r.getAs[Long]("sum_q"))).toSet
    val art = rows(graft.operators.CorpusClean.lmScoresArtifact(spark, sf))
    assert(art == rows(graft.operators.CorpusClean.lmPerDoc(spark, sf)))
    assert(art.nonEmpty)
  }
}
