package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFns
import graft.queries.TextOps

class TextOpsSpec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  // Real-language fixtures: the synthetic corpus has no language
  // signal, so the accuracy claim for E1 is checked here.
  private val fixtures = Seq(
    ("en", "the quick brown fox jumped over the lazy dog and it was fast"),
    ("en", "it is a truth that a single man in possession of a fortune was in want of a wife"),
    ("fr", "le chat est dans la maison et les enfants jouent dans le jardin pour une heure"),
    ("fr", "une baguette et des croissants pour le petit déjeuner est une bonne idée"),
    ("es", "el perro es grande y los gatos son pequeños en la casa que tenemos por ahora"),
    ("es", "una taza de café con leche es lo que quiero por la mañana en el campo"),
    ("de", "der hund ist groß und die katze ist klein aber nicht zu klein für ein haus"),
    ("de", "das wetter ist heute schön und wir gehen mit der familie zu einem see"),
    ("zh", "我 有 一 只 猫 它 是 我 的 朋友 就 在 这 里 和 我 一起"),
    ("zh", "这 是 一 个 很 好 的 地方 我 们 都 喜欢 在 这 里 吃饭 他 也 是"))

  test("vocab_drift: TVD and OOV replay from local token counts; bounds hold") {
    val rows = run("vocab_drift").collect()
    assert(rows.length == 1)
    val r = rows.head
    // local recount with the identical integer arithmetic
    val toks = Tables.documents(spark, sf)
      .select((col("doc_id") % 10 < 8).as("is_ref"),
        explode(TextFns.wsTokens(lower(col("text")))).as("tok"))
      .collect().map(x => (x.getBoolean(0), x.getString(1)))
    val ca = toks.filter(_._1).groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val cb = toks.filterNot(_._1).groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val (na, nb) = (ca.values.sum, cb.values.sum)
    val vocab = ca.keySet ++ cb.keySet
    val s0 = vocab.toSeq.map(t =>
      (ca.getOrElse(t, 0L) * nb - cb.getOrElse(t, 0L) * na).abs).sum
    val oov = vocab.toSeq.filter(t => !ca.contains(t))
      .map(t => cb.getOrElse(t, 0L)).sum
    assert(r.getAs[Long]("n_tok_ref") == na && r.getAs[Long]("n_tok_inc") == nb)
    assert(r.getAs[Long]("vocab_ref") == ca.size.toLong)
    assert(r.getAs[Long]("vocab_inc") == cb.size.toLong)
    assert(r.getAs[Long]("n_oov_types") == vocab.count(t => !ca.contains(t)).toLong)
    assert(r.getAs[Long]("oov_pm") == oov * 1000000L / nb)
    assert(r.getAs[Long]("tvd_pm") == s0 * 1000000L / (2 * na * nb))
    // TVD is a [0, 1] metric scaled per-million
    val tvd = r.getAs[Long]("tvd_pm")
    assert(tvd >= 0 && tvd <= 1000000)
  }

  test("lang_id: >=90% accuracy on real-language fixtures") {
    import spark.implicits._
    val df = fixtures.toDF("truth", "text")
    val scores = TextFns.langs.map(l => l -> TextFns.langScore(col("text"), l))
    val pred = df.select(col("truth"),
      TextFns.langPredict(scores).as("pred"))
    val acc = pred.filter(col("truth") === col("pred")).count().toDouble / fixtures.size
    assert(acc >= 0.9, s"accuracy $acc")
  }

  test("lang_id over documents: scores bounded by token count, pred deterministic") {
    val out = run("lang_id")
    assert(out.count() == Tables.documents(spark, sf).count())
    val bad = out.join(Tables.documents(spark, sf), "doc_id")
      .filter(col("s_en") > size(split(col("text"), " ")))
    assert(bad.count() == 0)
  }

  test("text_quality: ratios in [0,1], quality in [0,1]") {
    val rows = run("text_quality").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val pr = r.getAs[Double]("punct_ratio")
      val q = r.getAs[Double]("quality")
      assert(pr >= 0 && pr <= 1); assert(q >= 0 && q <= 1)
    }
  }

  test("token_count: re_tokens >= ws_tokens on alnum text; hand-checked case") {
    import spark.implicits._
    val out = Seq("Hello, world! 42 times.").toDF("text")
      .select(TextFns.wsTokenCount(col("text")).as("ws"),
        TextFns.reTokenCount(col("text")).as("re"))
      .collect()(0)
    // Hello , world ! 42 times . → 7 lexer tokens; 4 ws tokens
    assert(out.getAs[Int]("ws") == 4 && out.getAs[Int]("re") == 7)
    val rows = run("token_count").collect()
    assert(rows.forall(r => r.getAs[Int]("re_tokens") >= r.getAs[Int]("ws_tokens")))
  }

  test("scrub_pii: planted PII found at planting rates, zero residual after masking") {
    val rows = run("scrub_pii").collect()
    assert(rows.forall(_.getAs[Int]("n_residual") == 0))
    val emails = rows.map(_.getAs[Int]("n_email")).sum
    val phones = rows.map(_.getAs[Int]("n_phone")).sum
    val ids = Tables.documents(spark, sf).select("doc_id").collect().map(_.getLong(0))
    assert(emails >= ids.count(_ % 7 == 0))
    assert(phones >= ids.count(_ % 11 == 0))
  }

  test("bm25_topk: scores positive and descending, hits contain query terms") {
    val rows = run("bm25_topk").collect()
    assert(rows.length == TextOps.TopK)
    val scores = rows.map(_.getAs[Double]("score"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    assert(scores.forall(_ > 0))
    val hitIds = rows.map(_.getLong(0)).toSet
    val withTerms = Tables.documents(spark, sf)
      .filter(TextOps.Bm25Query.map(t => col("text").contains(t)).reduce(_ || _))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(hitIds.subsetOf(withTerms))
  }

  test("lang_confusion: cells sum to the corpus, diagonal matches lang_id accuracy") {
    val cells = run("lang_confusion").collect()
    val nDocs = Tables.documents(spark, sf).count()
    assert(cells.map(_.getAs[Long]("n")).sum == nDocs)
    cells.foreach { r =>
      assert(r.getAs[Boolean]("correct") ==
        (r.getString(0) == r.getString(1)))
    }
    // diagonal mass == per-doc agreement recount from lang_id itself
    val agree = run("lang_id").select(col("doc_id"), col("pred_lang"))
      .join(Tables.documents(spark, sf).select(col("doc_id"), col("lang")), "doc_id")
      .filter(col("pred_lang") === col("lang")).count()
    assert(cells.filter(_.getAs[Boolean]("correct")).map(_.getAs[Long]("n")).sum == agree)
  }

  test("tokenizer_fertility: integer sums match a per-doc recount") {
    val docs = Tables.documents(spark, sf).select("lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val re = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]".r
    val out = run("tokenizer_fertility").collect().map(r => r.getString(0) -> r).toMap
    docs.groupBy(_._1).foreach { case (lang, ds) =>
      val ws = ds.map(_._2.split(" ").count(_.nonEmpty).toLong).sum
      val rt = ds.map(d => re.findAllIn(d._2).length.toLong).sum
      val r = out(lang)
      assert(r.getAs[Long]("n_docs") == ds.length.toLong)
      assert(r.getAs[Long]("ws_tokens") == ws, s"$lang ws")
      assert(r.getAs[Long]("re_tokens") == rt, s"$lang re")
      assert(math.abs(r.getAs[Double]("fertility") - rt.toDouble / ws) < 1e-3)
    }
  }

  test("gini_diversity: exact-rational concentration matches a recount") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase.split(" ").filter(_.nonEmpty))
    val out = run("gini_diversity").collect().map(r => r.getLong(0) -> r).toMap
    assert(out.size == docs.count(_._2.nonEmpty))
    docs.filter(_._2.nonEmpty).foreach { case (id, toks) =>
      val counts = toks.groupBy(identity).values.map(_.length.toLong)
      val n = toks.length.toLong
      val ss = counts.map(c => c * c).sum
      val r = out(id)
      assert(r.getAs[Long]("n_words") == n)
      assert(r.getAs[Long]("n_distinct") == counts.size.toLong)
      assert(math.abs(r.getAs[Double]("gini") - (n * n - ss).toDouble / (n * n)) < 1e-3)
    }
  }

  test("domain_stats: planted URLs land in the right domains with exact counts") {
    val n = Tables.documents(spark, sf).count()
    val ids = Tables.documents(spark, sf).select("doc_id").collect().map(_.getLong(0))
    val rows = run("domain_stats").collect()
      .map(r => r.getString(0) -> r).toMap
    // every planted URL is found: site<k>.example.com for doc_id%5==0
    val siteDocs = ids.filter(_ % 5 == 0)
    (0 until 7).foreach { k =>
      val expect = siteDocs.filter(_ % 7 == k)
      if (expect.nonEmpty) {
        val r = rows(s"site$k.example.com")
        assert(r.getAs[Long]("n_urls") == expect.length.toLong)
        assert(r.getAs[Long]("n_docs") == expect.length.toLong)
        assert(r.getAs[Long]("n_https") == expect.length.toLong)
      }
    }
    val cdnDocs = ids.filter(_ % 9 == 0)
    (0 until 3).foreach { k =>
      val expect = cdnDocs.filter(_ % 3 == k)
      if (expect.nonEmpty) {
        val r = rows(s"cdn$k.example.org")
        assert(r.getAs[Long]("n_urls") == expect.length.toLong)
        assert(r.getAs[Long]("n_https") == 0L)
      }
    }
    // nothing else extracted from the URL-free corpus
    assert(rows.keySet.forall(d => d.endsWith("example.com") || d.endsWith("example.org")))
    assert(n > 0)
  }

  test("build_index: df/cf/postings match a local recount on the top terms") {
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase.split(" ").filter(_.nonEmpty).toSeq)
    val byTerm = texts.flatMap { case (d, ws) => ws.map(w => (w, d)) }
      .groupBy(_._1)
    val rows = run("build_index").collect()
    assert(rows.length == math.min(TextOps.IdxTopTerms, byTerm.size))
    // df is non-increasing down the report (the ORDER BY is real)
    val dfs = rows.map(_.getAs[Long]("df"))
    assert(dfs.zip(dfs.tail).forall { case (a, b) => a >= b })
    rows.take(20).foreach { r =>
      val w = r.getString(0)
      val occ = byTerm(w)
      assert(r.getAs[Long]("cf") == occ.length.toLong)
      val docs = occ.map(_._2).distinct.sorted
      assert(r.getAs[Long]("df") == docs.length.toLong)
      assert(r.getAs[String]("postings_head") ==
        docs.take(TextOps.IdxPostingsCap).mkString(","))
    }
  }

  test("doc_fingerprint: deterministic, order-sensitive, low collision") {
    import spark.implicits._
    val df = Seq("a b c", "a b c", "c b a", "a b d").toDF("text")
      .select(TextFns.docFingerprint(col("text")).as("fp"))
    val fps = df.collect().map(_.getLong(0))
    assert(fps(0) == fps(1))       // deterministic
    assert(fps(0) != fps(2))       // order matters
    assert(fps(0) != fps(3))       // content matters
    val n = run("doc_fingerprint").count()
    val distinct = run("doc_fingerprint").select("fp").distinct().count()
    assert(distinct > n * 9 / 10)  // near-unique on the corpus
  }

  test("ngram_novelty: per-doc novel fractions match a local shingle recount") {
    val got = run("ngram_novelty").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_novel"),
          r.getAs[Double]("novelty")))).toMap
    // local reference: same distinct-3-gram shingles, same mod split
    def sh(text: String): Set[String] = {
      val toks = text.toLowerCase.split(" ").filter(_.nonEmpty).toSeq
      if (toks.size >= 3) toks.sliding(3).map(_.mkString(" ")).toSet
      else Set(toks.mkString(" "))
    }
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> sh(r.getString(1)))
    val train = docs.collect { case (id, g) if id % 10 < 8 => g }
      .foldLeft(Set.empty[String])(_ ++ _)
    val test = docs.filter(_._1 % 10 >= 8)
    assert(got.keySet == test.map(_._1).toSet)
    test.foreach { case (id, grams) =>
      val novel = grams.count(g => !train.contains(g)).toLong
      val want = (grams.size.toLong, novel,
        graft.Portable.jround(novel.toDouble / grams.size, 4))
      assert(got(id) == want, s"doc $id: ${got(id)} vs $want")
    }
    // both regimes present: some novelty found, and not everything novel
    assert(got.values.exists(_._2 > 0), "no novel grams — probe vacuous")
    assert(got.values.exists(v => v._2 < v._1), "every gram novel — split broken")
  }

  test("url_dedup: raw variants collapse onto canonical targets, keep-first exact") {
    val ids = Tables.documents(spark, sf).select("doc_id").collect().map(_.getLong(0))
    case class U(id: Long, raw: String, canon: String)
    val local = ids.map { id =>
      val host = s"site${id % 7}.example.com"
      val hostV = if (id % 4 == 1) host.toUpperCase else host
      val raw = s"https://$hostV/page${id % 13}" +
        (if (id % 3 == 0) s"?utm_source=feed${id % 5}" else "") +
        (if (id % 11 == 0) "#sec" else "")
      U(id, raw, s"site${id % 7}.example.com/page${id % 13}")
    }
    val expected = local.groupBy(_.canon).map { case (c, us) =>
      c -> (us.length.toLong, us.map(_.raw).distinct.length.toLong,
        us.map(_.id).distinct.length.toLong, us.map(_.id).min)
    }
    val got = run("url_dedup").collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_urls"),
        r.getAs[Long]("n_raw_forms"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("keeper_doc"))).toMap
    assert(got == expected)
    // canonicalization genuinely collapses: some group holds >1 raw form
    assert(expected.values.exists(_._2 > 1))
    // and every canonical key is query/fragment/case-free
    assert(got.keys.forall(c => !c.contains("?") && !c.contains("#") && c == c.toLowerCase))
  }

  test("keyness_terms: per-million rates and ranking replay from exact bigram counts") {
    val docs = Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val sg = docs.flatMap { case (src, text) =>
      val ts = text.toLowerCase.split(" ").filter(_.nonEmpty)
      ts.iterator.sliding(2).withPartial(false)
        .map(p => (src, p.mkString(" "))).toSeq
    }.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val st = sg.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val gt = sg.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val n = st.values.sum
    val scored = sg.collect { case ((src, gram), a) if a >= TextOps.KeyMinCount =>
      val aPm = a * 1000000L / st(src)
      val bPm = (gt(gram) - a) * 1000000L / (n - st(src))
      (src, gram, a, aPm, bPm, aPm * 1000000L / (bPm + 1))
    }.toSeq
    val expected = scored.groupBy(_._1).flatMap { case (_, rs) =>
      rs.sortBy(t => (-t._6, -t._3, t._2)).take(TextOps.KeyK).zipWithIndex
        .map { case (t, i) => (t._1, t._2, t._3, t._4, t._5, t._6, (i + 1).toLong) }
    }.toSet
    val got = run("keyness_terms").collect().map(r =>
      (r.getString(0), r.getString(1), r.getAs[Long]("a"), r.getAs[Long]("a_pm"),
        r.getAs[Long]("b_pm"), r.getAs[Long]("score"),
        r.getAs[Int]("rn").toLong)).toSet
    assert(got == expected)
    assert(got.groupBy(_._1).values.forall(_.size <= TextOps.KeyK))
  }

  test("url_filter: first-match verdicts recount locally; conservation holds") {
    val ids = Tables.documents(spark, sf).select("doc_id").collect().map(_.getLong(0))
    def urlOf(id: Long): String =
      s"https://site${id % 7}.example.com" +
        (if (id % 9 == 0) "/ads" else "") + s"/page${id % 13}" +
        (if (id % 8 == 5) ".zip" else "") +
        (if (id % 6 == 2) "?a=1&b=2&c=3&d=4" else "")
    def verdictOf(id: Long): String = {
      val u = urlOf(id)
      val host = u.stripPrefix("https://").takeWhile(_ != '/')
      if (TextOps.BlockedHosts.contains(host)) "drop_domain"
      else if (u.contains("/ads/") || u.endsWith("/ads")) "drop_path"
      else if (".*\\.(zip|exe|jpg|png)([?#].*|)$".r.matches(u)) "drop_ext"
      else if (u.count(_ == '&') + (if (u.contains('?')) 1 else 0) > TextOps.MaxUrlParams)
        "drop_params"
      else "keep"
    }
    val expected = ids.groupBy(verdictOf).view.mapValues(_.length.toLong).toMap
    val rows = run("url_filter").collect()
    val got = rows.map(r => r.getString(0) -> r.getAs[Long]("n_urls")).toMap
    assert(got == expected)
    // conservation: every URL gets exactly one verdict
    assert(got.values.sum == ids.length.toLong)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_total") == ids.length.toLong)
      assert(r.getAs[Long]("share_permille") ==
        r.getAs[Long]("n_urls") * 1000L / ids.length)
    }
  }

  test("winnow_fingerprint: rightmost-min selection replays exactly; " +
    "coverage guarantee holds") {
    import graft.queries.TextOps.{WinK, WinM, WinW}
    val P = graft.functions.HashFns.P
    def polyHash(t: String): Long = {
      var acc = 0L; var i = 0
      while (i < t.length) {
        val cp = t.codePointAt(i)
        acc = (acc * 31 + cp) % P
        i += Character.charCount(cp)
      }
      acc
    }
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val local = docs.flatMap { case (id, text) =>
      val toks = text.toLowerCase.split(" ").filter(_.nonEmpty)
      if (toks.isEmpty) None
      else {
        val grams =
          if (toks.length >= WinK) toks.sliding(WinK).map(_.mkString(" ")).toArray
          else Array(toks.mkString(" "))
        val ng = grams.length
        val keys = grams.zipWithIndex.map { case (g, p) =>
          (P - polyHash(g)) * WinM + p
        }
        val floor = math.min(WinW - 1, ng - 1)
        val selected = (floor until ng).map { i =>
          keys.slice(math.max(0, i - WinW + 1), i + 1).max
        }.distinct
        val fps = selected.map(k => P - k / WinM)
        Some(id -> ((ng.toLong, fps)))
      }
    }.toMap
    val hashDocs = local.toSeq
      .flatMap { case (id, (_, fps)) => fps.map(h => (h, id)) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    val got = run("winnow_fingerprint").collect().map(r =>
      r.getAs[Long]("doc_id") -> ((r.getAs[Long]("n_grams"),
        r.getAs[Long]("n_fps"), r.getAs[Long]("n_shared"),
        r.getAs[Long]("density_pm")))).toMap
    assert(got.keySet == local.keySet)
    local.foreach { case (id, (ng, fps)) =>
      val nShared = fps.count(h => hashDocs(h) >= 2).toLong
      assert(got(id) == ((ng, fps.size.toLong, nShared,
        fps.size * 1000000L / ng)), s"doc $id")
      // the winnowing guarantee: a selected key serves at most W
      // consecutive windows, so fingerprints >= ceil(windows / W);
      // and never more than the gram count
      val windows = ng - math.min(WinW - 1, ng - 1)
      assert(fps.size.toLong >= (windows + WinW - 1) / WinW && fps.size <= ng)
    }
    // the corpus carries genuine cross-doc local overlap (the MOSS
    // signal the operator exists to surface)
    assert(got.values.exists(_._3 > 0))
  }

  test("winnow_fingerprint: kernel, running-window and fanout forms select " +
    "identical fingerprints") {
    def set(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val shipped = set(graft.queries.TextOps.winnowFps(spark, sf))
    assert(shipped == set(ReferenceForms.winnowFps(spark, sf, fanout = true)))
    assert(shipped == set(ReferenceForms.winnowFps(spark, sf, fanout = false)))
  }

  test("robots_gate: longest-match beats first-match; allow wins ties; root-deny loses to /ads/ok") {
    import graft.queries.TextOps.RobotsRules
    val ids = Tables.documents(spark, sf).select("doc_id").collect().map(_.getLong(0))
    def pathOf(id: Long): String = (id % 5) match {
      case 0 => s"/ads/page${id % 13}"
      case 1 => s"/private/doc${id % 13}"
      case 2 => s"/ads/ok/page${id % 13}"
      case 3 => s"/page${id % 13}"
      case _ => s"/docs/page${id % 13}"
    }
    // RFC 9309 reference evaluation: longest matching prefix, allow on ties
    def verdictOf(id: Long): (String, Option[Boolean]) = {
      val host = s"site${id % 7}.example.com"
      val p = pathOf(id)
      val ms = RobotsRules.filter(r => r._1 == host && p.startsWith(r._2))
      val v = if (ms.isEmpty) None
        else Some(ms.maxBy(r => (r._2.length, r._3))._3)
      (host, v)
    }
    var exp = Map.empty[String, (Long, Long, Long, Long)].withDefaultValue((0L, 0L, 0L, 0L))
    ids.foreach { id =>
      val (h, v) = verdictOf(id)
      val (n, a, d, df) = exp(h)
      exp += h -> ((n + 1, a + (if (v.getOrElse(true)) 1 else 0),
        d + (if (v.contains(false)) 1 else 0), df + (if (v.isEmpty) 1 else 0)))
    }
    val got = run("robots_gate").collect().map(r =>
      r.getString(0) -> ((r.getAs[Long]("n_urls"), r.getAs[Long]("n_allowed"),
        r.getAs[Long]("n_denied"), r.getAs[Long]("n_default")))).toMap
    assert(got == exp.toMap)
    // the RFC subtlety is live on this corpus: the blocked hosts still
    // allow SOME url (an /ads/ok one outranking the root disallow)
    val blockedWithAllow = got.filter { case (h, v) =>
      graft.queries.TextOps.BlockedHosts.contains(h) && v._2 > 0 }
    assert(blockedWithAllow.nonEmpty)
    got.values.foreach { case (n, a, d, _) => assert(a + d == n) }
  }

  test("zipf_fit: the ilog2 rank-frequency OLS replays from a local " +
    "vocabulary count; the slope is negative (a real power-law decay)") {
    import graft.queries.TextOps.ZipfBMax
    val freq = Tables.documents(spark, sf).select("text").collect()
      .flatMap(_.getString(0).toLowerCase.split(" ").filter(_.nonEmpty))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    def ilog2(x: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(x)
    // per-type ranks by (freq desc); cell algebra must equal the
    // brute-force per-rank assignment
    val ranked = freq.values.toSeq.sortBy(-_).zipWithIndex
      .map { case (f, i) => (i + 1L, f) } // rank -> freq
    val pts = ranked.map { case (r, f) => (ilog2(r), ilog2(f)) }
    val n = pts.length.toLong
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val syy = pts.map(p => p._2 * p._2).sum
    def r6(v: Double) = math.floor(v * 1e6 + 0.5) / 1e6
    val num = (n * sxy - sx * sy).toDouble
    val den1 = (n * sxx - sx * sx).toDouble
    val den2 = (n * syy - sy * sy).toDouble
    val slope = num / den1
    val r = SparkEntry.queries("zipf_fit")(spark, sf).head()
    assert(r.getAs[Long]("n_types") == freq.size.toLong)
    assert(r.getAs[Long]("n_tokens") == freq.values.sum)
    assert(r.getAs[Long]("top_freq") == freq.values.max)
    assert(r.getAs[Double]("slope") == r6(slope))
    assert(r.getAs[Double]("intercept") == r6((sy - slope * sx) / n))
    assert(r.getAs[Double]("r2") == r6(num * num / (den1 * den2)))
    // a genuine Zipf decay on this corpus, and the bucket ceiling holds
    assert(r.getAs[Double]("slope") < 0, s"slope ${r.getAs[Double]("slope")}")
    assert(ilog2(freq.size.toLong) <= ZipfBMax)
  }

  test("good_turing: every class row replays from a local frequency-of-" +
    "frequencies count; the r=0 row carries the N1/N unseen mass") {
    import graft.queries.TextOps.GtMaxR
    val freq = Tables.documents(spark, sf).select("text").collect()
      .map(_.getString(0).toLowerCase.split(" ").filter(_.nonEmpty))
      .filter(_.length >= 3)
      .flatMap(ts => ts.sliding(3).map(_.mkString(" ")))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val nr = freq.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = freq.values.sum
    def r6(v: Double) = math.floor(v * 1e6 + 0.5) / 1e6
    val rows = SparkEntry.queries("good_turing")(spark, sf).collect()
      .map(r => r.getAs[Long]("r") -> r).toMap
    assert(rows.size == GtMaxR + 1)
    for (r <- 0L to GtMaxR.toLong) {
      val row = rows(r)
      val nT = nr.getOrElse(r, 0L)
      val nNext = nr.getOrElse(r + 1, 0L)
      assert(row.getAs[Long]("n_types") == nT, s"r=$r n_types")
      assert(row.getAs[Long]("n_next") == nNext, s"r=$r n_next")
      assert(row.getAs[Long]("n_tokens") == n)
      assert(row.getAs[Long]("raw_mass_pm") == r * nT * 1000L / n, s"r=$r raw")
      assert(row.getAs[Long]("gt_mass_pm") == (r + 1) * nNext * 1000L / n, s"r=$r gt")
      if (nT == 0L) assert(row.isNullAt(row.fieldIndex("r_star")), s"r=$r r_star null")
      else assert(row.getAs[Double]("r_star") ==
        r6((r + 1).toDouble * nNext.toDouble / nT.toDouble), s"r=$r r_star")
    }
    // the defining Good-Turing read: unseen mass = N1/N, as the r=0 row
    assert(rows(0L).getAs[Long]("gt_mass_pm") ==
      nr.getOrElse(1L, 0L) * 1000L / n)
    assert(rows(0L).getAs[Long]("n_types") == 0L) // nothing observed 0 times
    assert(nr.getOrElse(1L, 0L) > 0L, "corpus has singletons (metric non-vacuous)")
  }

  test("textrank_keywords: full-kernel form emits exactly the distributed rows") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("tok"),
        r.getAs[Int]("rnk"), r.getAs[Long]("rank_pm"))).toSet
    val full = rows(run("textrank_keywords"))
    val dist = rows(ReferenceForms.textrankDistributed(spark, sf))
    assert(full == dist, s"full=${full.size} dist=${dist.size}")
    assert(full.nonEmpty)
  }

  test("textrank_keywords: corpus top-3 replays from a local sequential " +
    "weighted-PageRank in the same integer arithmetic") {
    import graft.queries.TextOps._
    val stops = graft.functions.TextFns.stopwords.values.flatten.toSet
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = docs.flatMap { case (id, text) =>
      val toks = text.toLowerCase.split(" ").filter(_.nonEmpty)
      val surv = toks.zipWithIndex
        .filter { case (t, _) => t.matches(s"[a-z]{$TrMinLen,}") && !stops(t) }
      val edges = for {
        i <- surv.indices; j <- i + 1 until surv.length
        if surv(j)._2 - surv(i)._2 <= TrWindow && surv(j)._2 > surv(i)._2
        if surv(i)._1 != surv(j)._1
        e <- Seq((surv(i)._1, surv(j)._1), (surv(j)._1, surv(i)._1))
      } yield e
      val w = edges.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val wdeg = w.toSeq.groupBy(_._1._1).view.mapValues(_.map(_._2).sum).toMap
      val nodes = surv.map(_._1).distinct.sorted
      var r = nodes.map(_ -> TrScale).toMap
      for (_ <- 1 to TrRounds) {
        val rw = wdeg.map { case (u, d) => u -> r(u) / d }
        r = nodes.map { n =>
          val m = w.collect { case ((u, v), wt) if v == n => wt * rw(u) }.sum
          n -> (TrBase + 85 * m / 100)
        }.toMap
      }
      nodes.sortBy(n => (-r(n), n)).take(TrTopK).zipWithIndex
        .map { case (n, i) => (id, n, i + 1, r(n)) }
    }.toSet
    val got = SparkEntry.queries("textrank_keywords")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3))).toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }
}
