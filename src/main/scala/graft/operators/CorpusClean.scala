package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.Portable.pround
import graft.functions.TextFns

/** Corpus-cleaning operators (SURVEY.md §2 I-line): the
  * line/segment-level dedup and repetition filters a web-scale
  * training-data pipeline runs BEFORE document-level dedup — the
  * CCNet / Gopher / "Deduplicating Training Data" family, re-expressed
  * as Spark column algebra.
  *
  * Shared scale shape: segment/window construction is map-only
  * (`sequence` + `slice`, codegen'd — no interpreted lambdas over
  * token arrays in the hot path beyond array slicing); global
  * first-occurrence resolution is ONE shuffle keyed on the segment
  * text; per-doc verdicts are one doc-keyed aggregate. Nothing is
  * ever pairwise — shuffle volume ∝ corpus tokens, never docs².
  */
object CorpusClean {

  /** Tokens per dedup segment (the "line" analog: the synthetic
    * corpus has no newlines, so fixed-width token segments stand in
    * for CCNet's newline-split paragraphs). */
  val SegTokens = 8

  /** (doc_id, si, seg) — non-overlapping [[SegTokens]]-token segments
    * per document, map-only: explode a 0..n_segs-1 index sequence and
    * slice the token array (1-based) per index. Short docs yield one
    * segment holding the whole text. */
  private def segments(s: SparkSession, dir: String): DataFrame = {
    val toks = TextFns.wsTokens(col("text"))
    documents(s, dir)
      .select(col("doc_id"), toks.as("toks"))
      .withColumn("n_segs",
        greatest(ceil(size(col("toks")).cast("double") / SegTokens).cast("long"), lit(1L)))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0L), col("n_segs") - 1)).as("si"))
      .select(col("doc_id"), col("si"),
        concat_ws(" ",
          slice(col("toks"), (col("si") * SegTokens + 1).cast("int"), lit(SegTokens))).as("seg"))
  }

  /** DuckDB twin of [[segments]] as a CTE named `segs` (DuckDB list
    * slices are 1-based and end-inclusive, like Spark's `slice`). */
  private val segsCte: String =
    s"""WITH t AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks,
       |    greatest(CAST(ceil(len(list_filter(string_split(text, ' '), x -> x <> ''))::DOUBLE
       |      / $SegTokens) AS BIGINT), 1) AS n_segs
       |  FROM documents),
       |ti AS (SELECT doc_id, toks, unnest(range(0, n_segs)) AS si FROM t),
       |segs AS (
       |  SELECT doc_id, si,
       |    array_to_string(toks[(si * $SegTokens + 1):((si + 1) * $SegTokens)], ' ') AS seg
       |  FROM ti)""".stripMargin

  /** I1: corpus-wide segment (line) dedup, CCNet-style — every
    * repeated [[SegTokens]]-token segment keeps only its FIRST
    * occurrence in (doc_id, si) order; later copies are dropped from
    * their documents. Emits the per-doc retention report (segments
    * kept / dropped, surviving chars) a pipeline uses to kill
    * boilerplate-heavy docs. One shuffle keyed on segment text. */
  def lineDedup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("seg")).orderBy(col("doc_id"), col("si"))
    segments(s, dir)
      .withColumn("rn", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rn") === 1, length(col("seg")).cast("long"))
          .otherwise(0L)).as("kept_chars"))
  }

  val lineDedupSql: String =
    segsCte + """
      |SELECT doc_id, count(*) AS n_segs,
      |  sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
      |  sum(CASE WHEN rn = 1 THEN length(seg) ELSE 0 END)::BIGINT AS kept_chars
      |FROM (SELECT doc_id, seg,
      |        row_number() OVER (PARTITION BY seg ORDER BY doc_id, si) AS rn
      |      FROM segs)
      |GROUP BY doc_id""".stripMargin

  /** Boilerplate df floor: a segment seen in ≥ this many DISTINCT
    * docs of one source is boilerplate. 2 is the verify-scale floor
    * (the synthetic corpus's only repeats are near-dup plants); a
    * production crawl uses a relative cut like 1% of the source. */
  val BoilerDf = 2

  /** K-line: source-level BOILERPLATE strip — the CCNet step between
    * line-dedup and the LM filter: a segment repeated across ≥
    * [[BoilerDf]] distinct documents OF THE SAME SOURCE (nav bars,
    * footers, cookie banners) is removed from EVERY document, unlike
    * [[lineDedup]] which keeps the first copy. Emits the per-doc
    * report (segments, boilerplate hits, surviving chars, ratio).
    * Shape: one (source, seg)-keyed df aggregate, then the segment
    * frame re-joins the boilerplate set on the SAME key — two
    * shuffles total, both ∝ segments, no pairwise anything. */
  def boilerplateStrip(s: SparkSession, dir: String): DataFrame = {
    val src = documents(s, dir).select(col("doc_id"), col("source"))
    val segsSrc = segments(s, dir).join(src, "doc_id")
    val dfs = segsSrc.select(col("source"), col("seg"), col("doc_id")).distinct()
      .groupBy(col("source"), col("seg")).agg(count(lit(1)).as("df"))
    val boiler = dfs.filter(col("df") >= BoilerDf)
      .select(col("source"), col("seg"), lit(true).as("is_boiler"))
    segsSrc.join(boiler, Seq("source", "seg"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("is_boiler"), 1L).otherwise(0L)).as("n_boiler"),
        sum(when(col("is_boiler").isNull, length(col("seg")).cast("long"))
          .otherwise(0L)).as("clean_chars"))
      .withColumn("boiler_ratio",
        pround(col("n_boiler").cast("double") / col("n_segs"), 4))
  }

  val boilerplateStripSql: String =
    segsCte + s""",
      |ss AS (SELECT segs.doc_id, source, si, seg
      |       FROM segs JOIN documents ON segs.doc_id = documents.doc_id),
      |dfs AS (
      |  SELECT source, seg, count(*) AS df
      |  FROM (SELECT DISTINCT source, seg, doc_id FROM ss)
      |  GROUP BY 1, 2),
      |boiler AS (SELECT source, seg FROM dfs WHERE df >= $BoilerDf)
      |SELECT doc_id, count(*) AS n_segs,
      |  sum(CASE WHEN b.seg IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_boiler,
      |  sum(CASE WHEN b.seg IS NULL THEN length(ss.seg) ELSE 0 END)::BIGINT AS clean_chars,
      |  floor((sum(CASE WHEN b.seg IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / count(*)) * 10000.0 + 0.5) / 10000.0 AS boiler_ratio
      |FROM ss LEFT JOIN boiler b ON ss.source = b.source AND ss.seg = b.seg
      |GROUP BY doc_id""".stripMargin

  /** K124: HTML TEXT EXTRACTION — the markup-to-text step UPSTREAM
    * of every other text operator (the CommonCrawl WET extraction;
    * boilerplate_strip, line_dedup and lang_id all assume it already
    * ran). The corpus is plain text, so each document is first
    * wrapped in DETERMINISTIC doc_id-derived markup (the scrub_pii
    * planting convention): head/title, a style block, a script
    * block, heading + paragraph tags, planted character entities on
    * id mod 3 / mod 4, an ad div on id mod 5. Extraction is the real
    * pipeline: (1) drop script/style ELEMENTS with their content
    * (`<(script|style)[^>]*>[^<]*</(script|style)>` — planted block
    * content is '<'-free so the non-backreference form is exact in
    * both regex dialects), (2) strip remaining tags to a space
    * separator, (3) decode entities (&amp; &lt; &gt; &nbsp; &copy;),
    * (4) collapse space runs + trim. Residual markup is counted
    * AFTER tag-stripping but BEFORE entity decode (decoding &lt; is
    * SUPPOSED to reintroduce a literal '<' — that is text, not
    * markup). Per-doc accounting: html/extracted lengths, tag and
    * entity counts, residual count (spec-pinned to 0 corpus-wide),
    * net chars_stripped.
    *
    * Scale shape: map-only — one projection chain per document, no
    * shuffle at all; at 100 TB this is the embarrassingly-parallel
    * scan pass it is in production, and Catalyst keeps the chained
    * regex stages as materialized per-row columns (multi-referenced
    * non-cheap aliases survive CollapseProject). */
  def htmlExtract(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val html = concat(
      lit("<html><head><title>Doc "), id,
      lit("</title><style>p{margin:0}</style><script>var d="), id,
      lit(";</script></head><body><h1>Doc "), id, lit("</h1><p>"), col("text"),
      when(col("doc_id") % 3 === 0, lit(" &amp; entities &lt;escaped&gt;"))
        .otherwise(lit("")),
      when(col("doc_id") % 4 === 0, lit("&nbsp;&copy;2026")).otherwise(lit("")),
      lit("</p>"),
      when(col("doc_id") % 5 === 0, lit("<div class=\"ad\">buy now</div>"))
        .otherwise(lit("")),
      lit("</body></html>"))
    val decoded = Seq("&amp;" -> "&", "&lt;" -> "<", "&gt;" -> ">",
      "&nbsp;" -> " ", "&copy;" -> "(c)")
      .foldLeft(col("notags")) { case (c, (e, r)) => replace(c, lit(e), lit(r)) }
    documents(s, dir)
      .withColumn("html", html)
      .withColumn("noscript",
        regexp_replace(col("html"), ScriptStyleRe, " "))
      .withColumn("notags", regexp_replace(col("noscript"), TagRe, " "))
      .withColumn("clean", trim(regexp_replace(decoded, " {2,}", " ")))
      .select(col("doc_id"),
        length(col("html")).as("len_html"),
        regexp_count(col("html"), lit(TagRe)).as("n_tags"),
        regexp_count(col("html"), lit(EntityRe)).as("n_entities"),
        regexp_count(col("notags"), lit("[<>]")).as("n_residual"),
        length(col("clean")).as("len_text"),
        (length(col("html")) - length(col("clean"))).as("chars_stripped"))
  }

  /** Extraction regexes — the common Java/RE2 subset (no
    * backreferences, no lazy quantifiers), so Spark and DuckDB
    * execute the IDENTICAL pattern text. */
  val ScriptStyleRe = "<(script|style)[^>]*>[^<]*</(script|style)>"
  val TagRe = "<[^>]*>"
  val EntityRe = "&(amp|lt|gt|nbsp|copy);"

  lazy val htmlExtractSql: String =
    s"""WITH h AS (
       |  SELECT doc_id,
       |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
       |    || '</title><style>p{margin:0}</style><script>var d='
       |    || CAST(doc_id AS VARCHAR) || ';</script></head><body><h1>Doc '
       |    || CAST(doc_id AS VARCHAR) || '</h1><p>' || text
       |    || CASE WHEN doc_id % 3 = 0 THEN ' &amp; entities &lt;escaped&gt;'
       |            ELSE '' END
       |    || CASE WHEN doc_id % 4 = 0 THEN '&nbsp;&copy;2026' ELSE '' END
       |    || '</p>'
       |    || CASE WHEN doc_id % 5 = 0 THEN '<div class="ad">buy now</div>'
       |            ELSE '' END
       |    || '</body></html>' AS html
       |  FROM documents),
       |t AS (
       |  SELECT doc_id, html,
       |    regexp_replace(
       |      regexp_replace(html, '$ScriptStyleRe', ' ', 'g'),
       |      '$TagRe', ' ', 'g') AS notags
       |  FROM h),
       |d AS (
       |  SELECT doc_id, html, notags,
       |    trim(regexp_replace(
       |      replace(replace(replace(replace(replace(notags,
       |        '&amp;', '&'), '&lt;', '<'), '&gt;', '>'), '&nbsp;', ' '),
       |        '&copy;', '(c)'),
       |      ' {2,}', ' ', 'g')) AS clean
       |  FROM t)
       |SELECT doc_id,
       |  length(html) AS len_html,
       |  len(regexp_extract_all(html, '$TagRe')) AS n_tags,
       |  len(regexp_extract_all(html, '$EntityRe')) AS n_entities,
       |  len(regexp_extract_all(notags, '[<>]')) AS n_residual,
       |  length(clean) AS len_text,
       |  length(html) - length(clean) AS chars_stripped
       |FROM d""".stripMargin

  /** Gopher-style repetition thresholds: a doc is dropped when more
    * than 60% of its words are repeats or one word exceeds 20% of
    * the text. */
  val DupWordMax = 0.6
  val TopWordMax = 0.2

  /** I2: repetition scoring (the Gopher quality-filter family) —
    * per-doc duplicate-word fraction, top-word fraction, and
    * duplicate-bigram fraction, plus the keep/drop verdict. Two
    * doc-keyed aggregates (words, bigrams) joined on doc_id; ratios
    * are single divisions of exact integer counts — exactly the
    * tie-prone class — rounded via [[graft.Portable.pround]]. */
  def repetitionScore(s: SparkSession, dir: String): DataFrame = {
    val toks = documents(s, dir).select(col("doc_id"),
      posexplode(TextFns.wsTokens(lower(col("text")))).as(Seq("pos", "w")))
    val words = toks
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_words"),
        count(lit(1)).as("n_distinct"),
        max(col("cnt")).as("top_cnt"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val bigrams = toks
      .withColumn("w1", lead(col("w"), 1).over(w))
      .filter(col("w1").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("w"), col("w1")).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_bg"), count(lit(1)).as("n_distinct_bg"))
    val dupW = lit(1.0) - col("n_distinct").cast("double") / greatest(col("n_words"), lit(1L))
    val topW = col("top_cnt").cast("double") / greatest(col("n_words"), lit(1L))
    val dupB = lit(1.0) - col("n_distinct_bg").cast("double") / greatest(col("n_bg"), lit(1L))
    words.join(bigrams, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_words"),
        pround(dupW, 4).as("dup_word_frac"),
        pround(topW, 4).as("top_word_frac"),
        pround(coalesce(dupB, lit(0.0)), 4).as("dup_bigram_frac"),
        (dupW <= DupWordMax && topW <= TopWordMax).as("keep"))
  }

  val repetitionScoreSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS w,
       |    generate_subscripts(list_filter(string_split(lower(text), ' '), x -> x <> ''), 1) AS pos
       |  FROM documents),
       |words AS (
       |  SELECT doc_id, sum(cnt)::BIGINT AS n_words, count(*) AS n_distinct,
       |    max(cnt) AS top_cnt
       |  FROM (SELECT doc_id, w, count(*) AS cnt FROM toks GROUP BY 1, 2)
       |  GROUP BY doc_id),
       |bg AS (
       |  SELECT doc_id, sum(cnt)::BIGINT AS n_bg, count(*) AS n_distinct_bg
       |  FROM (SELECT doc_id, bg, count(*) AS cnt FROM (
       |          SELECT doc_id, w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS bg
       |          FROM toks)
       |        WHERE bg IS NOT NULL GROUP BY 1, 2)
       |  GROUP BY doc_id)
       |SELECT doc_id, n_words,
       |  floor((1.0 - n_distinct::DOUBLE / greatest(n_words, 1)) * 10000.0 + 0.5) / 10000.0 AS dup_word_frac,
       |  floor((top_cnt::DOUBLE / greatest(n_words, 1)) * 10000.0 + 0.5) / 10000.0 AS top_word_frac,
       |  floor((coalesce(1.0 - n_distinct_bg::DOUBLE / greatest(n_bg, 1), 0.0)) * 10000.0 + 0.5) / 10000.0 AS dup_bigram_frac,
       |  (1.0 - n_distinct::DOUBLE / greatest(n_words, 1)) <= $DupWordMax
       |    AND top_cnt::DOUBLE / greatest(n_words, 1) <= $TopWordMax AS keep
       |FROM words LEFT JOIN bg USING (doc_id)""".stripMargin

  /** Window geometry for [[substringDedup]]: 16-token windows at
    * stride 8 — every 8-token run of shared text is covered by at
    * least one common window (Lee et al.'s suffix-dedup capability,
    * approximated with fixed windows so it stays one equi-keyed
    * shuffle instead of a distributed suffix array). */
  val WinTokens = 16
  val WinStride = 8

  /** Containment threshold: a doc is dropped when at least half its
    * windows already appeared in earlier docs. */
  val ContainMax = 0.5

  /** I3: substring containment dedup — overlapping [[WinTokens]]-token
    * windows per doc; a window is "duplicated" when the SAME window
    * text occurs in any EARLIER doc (min-doc_id wins). Docs mostly
    * made of duplicated windows get dropped. No pairwise join: the
    * first-occurrence owner per window is one groupBy(min), so a
    * window shared by d docs costs d postings, never d². */
  def substringDedup(s: SparkSession, dir: String): DataFrame = {
    val toks = TextFns.wsTokens(col("text"))
    val nWins = greatest(
      ceil((size(col("toks")) - WinTokens).cast("double") / WinStride).cast("long") + 1, lit(1L))
    val wins = documents(s, dir)
      .select(col("doc_id"), toks.as("toks"))
      .withColumn("n_wins", nWins)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0L), col("n_wins") - 1)).as("wi"))
      .select(col("doc_id"),
        concat_ws(" ",
          slice(col("toks"), (col("wi") * WinStride + 1).cast("int"), lit(WinTokens))).as("win"))
      .distinct()
    val firstOwner = wins.groupBy(col("win")).agg(min(col("doc_id")).as("first_doc"))
    wins.join(firstOwner, "win")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("first_doc") < col("doc_id"), 1L).otherwise(0L)).as("n_dup_windows"))
      .withColumn("dup_frac",
        pround(col("n_dup_windows").cast("double") / col("n_windows"), 4))
      .withColumn("drop", col("n_dup_windows").cast("double") / col("n_windows") >= ContainMax)
  }

  val substringDedupSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks,
       |    greatest(CAST(ceil((len(list_filter(string_split(text, ' '), x -> x <> '')) - $WinTokens)::DOUBLE
       |      / $WinStride) AS BIGINT) + 1, 1) AS n_wins
       |  FROM documents),
       |ti AS (SELECT doc_id, toks, unnest(range(0, n_wins)) AS wi FROM t),
       |wins AS (
       |  SELECT DISTINCT doc_id,
       |    array_to_string(toks[(wi * $WinStride + 1):(wi * $WinStride + $WinTokens)], ' ') AS win
       |  FROM ti),
       |own AS (SELECT win, min(doc_id) AS first_doc FROM wins GROUP BY win)
       |SELECT doc_id, n_windows, n_dup_windows,
       |  floor((n_dup_windows::DOUBLE / n_windows) * 10000.0 + 0.5) / 10000.0 AS dup_frac,
       |  n_dup_windows::DOUBLE / n_windows >= $ContainMax AS "drop"
       |FROM (
       |  SELECT wins.doc_id, count(*) AS n_windows,
       |    sum(CASE WHEN own.first_doc < wins.doc_id THEN 1 ELSE 0 END)::BIGINT AS n_dup_windows
       |  FROM wins JOIN own USING (win)
       |  GROUP BY wins.doc_id)""".stripMargin

  /** Top-K adjacent pairs reported by [[bpePairs]]. */
  val BpeK = 20

  /** I7: BPE merge candidates — corpus-wide counts of ADJACENT token
    * pairs, the statistic a byte-pair tokenizer trainer computes each
    * merge round. Pair construction is the lead-window postings shape
    * (doc-keyed, codegen'd); the count is one map-side-combined
    * aggregate; top-K with a total-order tiebreak so the cut is
    * deterministic. */
  def bpePairs(s: SparkSession, dir: String): DataFrame = {
    val toks = documents(s, dir).select(col("doc_id"),
      posexplode(TextFns.wsTokens(lower(col("text")))).as(Seq("pos", "w")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    toks
      .withColumn("w1", lead(col("w"), 1).over(w))
      .filter(col("w1").isNotNull)
      .groupBy(col("w").as("left"), col("w1").as("right"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("left"), col("right"))
      .limit(BpeK)
  }

  val bpePairsSql: String =
    s"""WITH t AS (
       |  SELECT list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
       |  FROM documents),
       |p AS (
       |  SELECT unnest([{'l': toks[i], 'r': toks[i+1]} for i in range(1, len(toks))]) AS pr
       |  FROM t WHERE len(toks) >= 2)
       |SELECT pr.l AS "left", pr.r AS "right", count(*) AS n
       |FROM p GROUP BY 1, 2
       |ORDER BY n DESC, "left", "right" LIMIT $BpeK""".stripMargin

  /** Minimum pair count before a collocation is scored (PMI is
    * unstable on rare pairs — the standard count floor). */
  val CollocMinCount = 25
  val CollocK = 20

  /** I14: collocation mining — adjacent pairs scored by LIFT,
    * P(l,r) / (P(l)·P(r)) — the quantity inside PMI's log, same
    * ranking, but an exact-integer ratio: c_lr·N and c_l·c_r are
    * exact in doubles (< 2^53), one division, so the score is
    * engine-exact where a transcendental ln is a 1-ulp cross-engine
    * hash risk. Shape: the [[bpePairs]] postings aggregate + a
    * broadcast unigram join + a one-row total cross join — all
    * count-sized, nothing corpus-pairwise. */
  def collocations(s: SparkSession, dir: String): DataFrame = {
    val toks = documents(s, dir).select(col("doc_id"),
      posexplode(TextFns.wsTokens(lower(col("text")))).as(Seq("pos", "w")))
    val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val tot = uni.agg(sum(col("c")).as("n_total"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val bg = toks
      .withColumn("w1", lead(col("w"), 1).over(w))
      .filter(col("w1").isNotNull)
      .groupBy(col("w").as("wl"), col("w1").as("wr"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= CollocMinCount)
    bg
      .join(broadcast(uni.select(col("w").as("wl"), col("c").as("cl"))), "wl")
      .join(broadcast(uni.select(col("w").as("wr"), col("c").as("cr"))), "wr")
      .crossJoin(broadcast(tot))
      .withColumn("lift",
        pround(col("n_pair").cast("double") * col("n_total") /
          (col("cl").cast("double") * col("cr")), 4))
      .orderBy(col("lift").desc, col("wl"), col("wr"))
      .limit(CollocK)
      .select(col("wl"), col("wr"), col("n_pair"), col("lift"))
  }

  val collocationsSql: String =
    s"""WITH t AS (
       |  SELECT list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
       |  FROM documents),
       |uni AS (
       |  SELECT w, count(*) AS c FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
       |tot AS (SELECT sum(c)::BIGINT AS n_total FROM uni),
       |bg AS (
       |  SELECT pr.l AS wl, pr.r AS wr, count(*) AS n_pair FROM (
       |    SELECT unnest([{'l': toks[i], 'r': toks[i+1]} for i in range(1, len(toks))]) AS pr
       |    FROM t WHERE len(toks) >= 2) GROUP BY 1, 2
       |  HAVING count(*) >= $CollocMinCount)
       |SELECT wl, wr, n_pair,
       |  floor((n_pair::DOUBLE * tot.n_total / (ul.c::DOUBLE * ur.c)) * 10000.0 + 0.5) / 10000.0 AS lift
       |FROM bg CROSS JOIN tot
       |JOIN uni ul ON bg.wl = ul.w
       |JOIN uni ur ON bg.wr = ur.w
       |ORDER BY lift DESC, wl, wr LIMIT $CollocK""".stripMargin

  /** Fixed-point scale for quantized bigram conditional
    * probabilities: q = ⌊c(w,w') · 10⁶ / c(w)⌋ in PURE INTEGER
    * arithmetic. */
  val LmScale = 1000000L

  /** Fluency floor on the mean quantized conditional probability. */
  val LmMin = 0.01

  /** J-line: corpus-LM fluency scoring — the perplexity-filter family
    * (CCNet's LM step) with the corpus itself as the bigram model:
    * each document is scored by the mean conditional probability
    * P(wᵢ | wᵢ₋₁) of its bigrams under corpus-wide counts. True
    * perplexity exponentiates a mean log-prob — transcendental, a
    * cross-engine hash risk — so probabilities are instead quantized
    * to integers (⌊c_bg·10⁶ / c_uni⌋, exact `div` of exact BIGINTs)
    * and summed as BIGINT: order-independent, hash-exact, same doc
    * ranking. Shape: doc-keyed bigram postings equi-joined to the
    * corpus bigram table (shuffle ∝ corpus tokens) + a broadcast
    * unigram join; one doc-keyed aggregate finishes. */
  /** The per-doc integer core of [[lmScore]] — (doc_id, n_bigrams,
    * sum_q) with q = cbg·LmScale div cuni per bigram instance —
    * shared with [[graft.operators.TrainPrep.qualityAgreement]]'s
    * fluency axis so the two operators can't drift. The bigram
    * instances feed both the count table and the scoring join, so
    * they are persisted; the doc-count-sized result is checkpointed
    * so they can be released. */
  private[graft] def lmPerDoc(s: SparkSession, dir: String): DataFrame = {
    val (toks, bg0) = lmTokens(s, dir)
    val bg = bg0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = lmScoresOf(toks, bg).localCheckpoint()
    bg.unpersist()
    out
  }

  /** The un-checkpointed [[lmPerDoc]] plan — the lm_scores artifact
    * producer, and what PlanSpec asserts on (the checkpoint above
    * hides the executed plan). */
  private[graft] def lmPerDocFrame(s: SparkSession, dir: String): DataFrame = {
    val (toks, bg) = lmTokens(s, dir)
    lmScoresOf(toks, bg)
  }

  /** (doc_id, pos, w) token postings and their (doc_id, w, w1)
    * bigram instances. */
  private def lmTokens(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val toks = documents(s, dir).select(col("doc_id"),
      posexplode(TextFns.wsTokens(lower(col("text")))).as(Seq("pos", "w")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    (toks, toks
      .withColumn("w1", lead(col("w"), 1).over(w))
      .filter(col("w1").isNotNull)
      .select(col("doc_id"), col("w"), col("w1")))
  }

  private def lmScoresOf(toks: DataFrame, bg: DataFrame): DataFrame = {
    val cBg = bg.groupBy(col("w"), col("w1")).agg(count(lit(1)).as("cbg"))
    val cUni = toks.groupBy(col("w")).agg(count(lit(1)).as("cuni"))
    bg
      .join(cBg, Seq("w", "w1"))
      .join(broadcast(cUni), Seq("w"))
      .select(col("doc_id"), expr(s"(cbg * ${LmScale}L) div cuni").as("q"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("q")).as("sum_q"))
  }

  /** Root for the materialized per-doc LM fluency scores — the
    * write-once artifact the gate/bucket family reads (the
    * lv_labels/lsh_pairs lifecycle): ccnet_buckets,
    * quality_agreement, conformal_gate and pareto_quality_gate are
    * all CONSUMERS of the corpus-LM score table (a real pipeline
    * scores once and gates many), yet each re-ran the full
    * tokenize → bigram-window → count-joins → doc-aggregate sweep
    * that lm_score had already run. lm_score itself stays a FRESH
    * computation — it IS the scorer under eval (the ann_ranked
    * convention). Subdir embeds an [[graft.ingest.ArtifactCache]]
    * token over the corpus + [[LmScale]]. */
  val LmScoresRoot = "target/graft_lm_scores"

  def lmScoresPath(dir: String): String =
    s"$LmScoresRoot/${new java.io.File(dir).getName}_" +
      graft.ingest.ArtifactCache.token(dir, Seq("documents"),
        s"lmscale=$LmScale;bigram;v1")

  /** Build the score table at most once per (JVM, scale dir);
    * concurrent first callers serialize on the ArtifactCache lock. */
  def ensureLmScores(s: SparkSession, dir: String): String =
    graft.ingest.ArtifactCache.ensure(lmScoresPath(dir)) {
      lmPerDocFrame(s, dir).write.mode("overwrite").parquet(lmScoresPath(dir))
    }

  /** The PERSISTED (doc_id, n_bigrams, sum_q) scores — set
    * semantics, row-identical to [[lmPerDoc]] (spec-pinned). */
  private[graft] def lmScoresArtifact(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(ensureLmScores(s, dir))

  def lmScore(s: SparkSession, dir: String): DataFrame =
    lmPerDoc(s, dir)
      .select(col("doc_id"), col("n_bigrams"), col("sum_q"),
        pround(col("sum_q").cast("double") / (col("n_bigrams") * LmScale), 4).as("lm_score"),
        (col("sum_q").cast("double") / (col("n_bigrams") * LmScale) >= LmMin).as("fluent"))

  val lmScoreSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS w,
       |    generate_subscripts(list_filter(string_split(lower(text), ' '), x -> x <> ''), 1) AS pos
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, w, w1 FROM (
       |    SELECT doc_id, w, lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
       |    FROM toks)
       |  WHERE w1 IS NOT NULL),
       |cbg AS (SELECT w, w1, count(*) AS cbg FROM bg GROUP BY 1, 2),
       |cuni AS (SELECT w, count(*) AS cuni FROM toks GROUP BY 1)
       |SELECT doc_id, count(*) AS n_bigrams, sum(q)::BIGINT AS sum_q,
       |  floor((sum(q)::DOUBLE / (count(*) * $LmScale)) * 10000.0 + 0.5) / 10000.0 AS lm_score,
       |  sum(q)::DOUBLE / (count(*) * $LmScale) >= $LmMin AS fluent
       |FROM (
       |  SELECT bg.doc_id, (cbg.cbg * $LmScale) // cuni.cuni AS q
       |  FROM bg JOIN cbg USING (w, w1) JOIN cuni USING (w))
       |GROUP BY doc_id""".stripMargin

  /** Merge rounds trained by [[bpeTrain]]. */
  val BpeTrainRounds = 5

  /** K63: BPE TRAINING — the actual merge LOOP, not just one round's
    * candidate counts (I7): [[BpeTrainRounds]] rounds of count
    * adjacent pairs → argmax (count desc, lexicographic tiebreak) →
    * apply the merge LEFT-TO-RIGHT GREEDY, exactly the sequential
    * semantics a byte-pair trainer has. The greedy scan is the
    * non-relational-looking part, made relational with the
    * island-parity trick: a run of k consecutive matches of the best
    * pair (only possible when left = right, and the corpus has real
    * `batch batch batch` runs) must merge occurrences 1,3,5,… — so
    * flag matches, locate each maximal consecutive-flag island by its
    * running start position, and keep the flags at EVEN offset from
    * their island start. Rows consumed by the previous position's
    * merge drop out, survivors re-index densely, and the next round
    * runs on the rebuilt sequence (localCheckpoint per round — the
    * kcore plan-truncation convention; per-round argmax is a 1-row
    * collect, the I4/I10 driver-loop contract). Shuffle per round is
    * one doc-keyed exchange of the token table — corpus-proportional,
    * never pairwise. The oracle replays the SAME algebra as generated
    * chained CTEs with NO injected per-round constants: DuckDB
    * computes its own argmax each round, so the hash gate
    * cross-checks Spark's merge decisions end-to-end.
    *
    * Tiebreak collation caveat: equal-count pairs break ties by
    * (w, w1) string order, which must agree across THREE engines —
    * Spark's UTF8 binary order, DuckDB's binary collation, and the
    * property spec's Java String order (UTF-16 code units). These
    * coincide on ASCII (and all of the BMP below surrogates) but
    * diverge for supplementary-plane characters, where UTF-8 byte
    * order sorts by code point and UTF-16 sorts surrogate pairs
    * below U+E000. The corpus generator emits ASCII tokens only, so
    * the tie order is engine-invariant here; a corpus with astral
    * tokens would need an explicit codepoint-keyed tiebreak. */
  def bpeTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bpeTrainReport(s, dir)
      .toDF("round", "left", "right", "n_pair", "n_applied")
  }

  /** The training loop on the ARRAY-PER-DOC frame: tokens ride one
    * array column, adjacent pairs come from the one-pass
    * [[graft.plans.TokPairs]] kernel (a map-side projection) and the
    * merge round from [[graft.plans.BpeMerge]] — the sequential
    * greedy scanner the island-parity window chain is spec-pinned
    * against, now AS the executable form. The row-frame loop it
    * replaced (OPTIMIZATION_r14.md row 19; CorpusCleanSpec keeps it
    * as the oracle) paid per round: a doc-keyed sort window for
    * lead(w) over corpus-token ROWS, then the three-window
    * island-parity chain and a re-index window; here each round is
    * one pair-count aggregate + one map-only merge over doc-count
    * rows. Same merges, same encoded corpus (posexplode at the end
    * re-derives the 1-based positions), bit-for-bit. Returns the
    * PERSISTED final token arrays (caller unpersists) plus the merge
    * report rows. */
  private def bpeLoop(s: SparkSession, dir: String)
      : (DataFrame, Seq[(Int, String, String, Long, Long)]) = {
    def mat(df: DataFrame): DataFrame =
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def nTok(df: DataFrame): Long = df
      .agg(coalesce(sum(size(col("ts")).cast("long")), lit(0L)))
      .collect()(0).getLong(0)
    var toks = mat(documents(s, dir).select(col("doc_id"),
      TextFns.wsTokens(lower(col("text"))).as("ts")))
    var nToks = nTok(toks)
    val merges = Seq.newBuilder[(Int, String, String, Long, Long)]
    for (round <- 1 to BpeTrainRounds) {
      val best = toks
        .select(explode(call_function("tok_pairs", col("ts"))).as("p"))
        .select(col("p.w").as("w"), col("p.w1").as("w1"))
        .groupBy(col("w"), col("w1")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("w"), col("w1")).limit(1)
        .collect()(0)
      val (l, r, n) = (best.getString(0), best.getString(1), best.getLong(2))
      val prev = toks
      toks = mat(toks.select(col("doc_id"),
        call_function("bpe_merge", col("ts"), lit(l), lit(r)).as("ts")))
      val nAfter = nTok(toks)
      prev.unpersist()
      merges += ((round, l, r, n, nToks - nAfter))
      nToks = nAfter
    }
    (toks, merges.result())
  }

  /** Merge report only — the public bpe_train path (the final token
    * frame is never materialized beyond the loop's own cache). */
  private[graft] def bpeTrainReport(s: SparkSession, dir: String)
      : Seq[(Int, String, String, Long, Long)] = {
    val (toks, merges) = bpeLoop(s, dir)
    toks.unpersist()
    merges
  }

  /** The training loop itself: returns the ENCODED token table after
    * all [[BpeTrainRounds]] merges plus the merge report rows —
    * [[bpeTrain]] reports the merges, [[ensureBpeTokens]] persists
    * the encoded corpus for downstream consumers. */
  private[graft] def bpeTrainRun(s: SparkSession, dir: String)
      : (DataFrame, Seq[(Int, String, String, Long, Long)]) = {
    val (toks, merges) = bpeLoop(s, dir)
    // re-derive the (doc_id, pos, w) row frame the artifact persists;
    // positions are 1-based
    val out = toks
      .select(col("doc_id"), posexplode(col("ts")).as(Seq("pos0", "w")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("w"))
      .localCheckpoint()
    toks.unpersist()
    (out, merges)
  }

  /** Root for the materialized ENCODED corpus (doc_id, pos, w) after
    * BPE training — the [[graft.operators.Dedup.ClusterLabelsRoot]]
    * write-once lifecycle for the tokenizer artifact: training runs
    * once, every downstream consumer reads the persisted encoding. */
  val BpeTokensRoot = "target/graft_bpe_tokens"

  /** Subdir name embeds an [[graft.ingest.ArtifactCache]] token
    * (corpus files + merge-round count), so a regenerated corpus or a
    * [[BpeTrainRounds]] change self-invalidates the persisted
    * encoding instead of serving a stale tokenization. */
  def bpeTokensPath(dir: String): String =
    s"$BpeTokensRoot/${new java.io.File(dir).getName}_" +
      graft.ingest.ArtifactCache.token(dir, Seq("documents"),
        s"rounds=$BpeTrainRounds;ws-lower")

  /** Train + persist the encoded corpus at most once per (JVM, dir);
    * concurrent first callers serialize on the ArtifactCache lock. */
  def ensureBpeTokens(s: SparkSession, dir: String): String = {
    val path = bpeTokensPath(dir)
    graft.ingest.ArtifactCache.ensure(path) {
      bpeTrainRun(s, dir)._1.write.mode("overwrite").parquet(path)
    }
  }

  /** K68: APPLY the trained BPE merges — the encode half of the
    * tokenizer loop (K63 trains, this measures the encoding): per
    * source, document count, token counts before and after the
    * merges, and the compression ratio. Reads the PERSISTED encoded
    * corpus of [[ensureBpeTokens]]; the before-side token count is a
    * map-only `size(tokens)` over documents — no second explode. One
    * doc-keyed join + one source-keyed aggregate; at 100 TB the
    * encoded corpus is the artifact you materialize ANYWAY (it feeds
    * packing/sharding), so apply-side queries never re-pay training.
    * Each applied merge fuses exactly two tokens into one, so
    * tokens_before − tokens_after = Σ n_applied — the cross-query
    * conservation the spec gates against K63's report. */
  def bpeApply(s: SparkSession, dir: String): DataFrame = {
    val toks = s.read.parquet(ensureBpeTokens(s, dir))
    val before = documents(s, dir).select(col("doc_id"), col("source"),
      size(TextFns.wsTokens(lower(col("text")))).cast("long").as("nb"))
    val after = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("na"))
    before.join(after, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nb")).as("tokens_before"),
        sum(col("na")).as("tokens_after"))
      .withColumn("compression",
        pround(col("tokens_after").cast("double") / col("tokens_before"), 4))
  }

  /** The shared CTE chain (t0 = raw tokens … t{N} = tokens after N
    * merges), each round computing ITS OWN argmax — the DuckDB twin
    * of [[bpeTrainRun]]'s loop. */
  private lazy val bpeCtes: String = {
    val base =
      """t0 AS MATERIALIZED (
        |  SELECT doc_id,
        |    generate_subscripts(list_filter(string_split(lower(text), ' '), x -> x <> ''), 1) AS pos,
        |    unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS w
        |  FROM documents)""".stripMargin
    val rounds = (1 to BpeTrainRounds).map { k =>
      s"""c$k AS MATERIALIZED (
         |  SELECT w, w1, count(*) AS n FROM (
         |    SELECT w, lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
         |    FROM t${k - 1}) WHERE w1 IS NOT NULL GROUP BY 1, 2),
         |b$k AS MATERIALIZED (SELECT w AS l, w1 AS r, n FROM c$k ORDER BY n DESC, w, w1 LIMIT 1),
         |f$k AS MATERIALIZED (
         |  SELECT doc_id, pos, w,
         |    coalesce(lead(w) OVER win = (SELECT r FROM b$k), false)
         |      AND w = (SELECT l FROM b$k) AS flag
         |  FROM t${k - 1} WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
         |g$k AS MATERIALIZED (
         |  SELECT *, flag AND NOT coalesce(lag(flag) OVER win, false) AS istart
         |  FROM f$k WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
         |m$k AS MATERIALIZED (
         |  SELECT *, flag AND (pos - ispos) % 2 = 0 AS m FROM (
         |    SELECT *, max(CASE WHEN istart THEN pos END)
         |      OVER (PARTITION BY doc_id ORDER BY pos
         |            ROWS UNBOUNDED PRECEDING) AS ispos
         |    FROM g$k)),
         |a$k AS MATERIALIZED (SELECT count(*) AS applied FROM m$k WHERE m),
         |t$k AS MATERIALIZED (
         |  SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS pos,
         |    CASE WHEN m THEN w || '_' || (SELECT r FROM b$k) ELSE w END AS w
         |  FROM (SELECT *, coalesce(lag(m) OVER (PARTITION BY doc_id ORDER BY pos), false) AS consumed
         |        FROM m$k)
         |  WHERE NOT consumed)""".stripMargin
    }
    s"WITH $base,\n${rounds.mkString(",\n")}"
  }

  lazy val bpeTrainSql: String = {
    val report = (1 to BpeTrainRounds).map { k =>
      s"""SELECT $k AS round, l AS "left", r AS "right", n AS n_pair,
         |  (SELECT applied FROM a$k)::BIGINT AS n_applied FROM b$k""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"$bpeCtes\n$report"
  }

  lazy val bpeApplySql: String =
    s"""$bpeCtes,
       |bfr AS (SELECT doc_id, count(*) AS nb FROM t0 GROUP BY 1),
       |aft AS (SELECT doc_id, count(*) AS na FROM t$BpeTrainRounds GROUP BY 1)
       |SELECT source, count(*)::BIGINT AS n_docs,
       |  sum(nb)::BIGINT AS tokens_before, sum(na)::BIGINT AS tokens_after,
       |  floor((sum(na)::DOUBLE / sum(nb)) * 10000.0 + 0.5) / 10000.0 AS compression
       |FROM documents JOIN bfr USING (doc_id) JOIN aft USING (doc_id)
       |GROUP BY source""".stripMargin

  /** [[unigramLm]] EM rounds and the word-length cap: words longer
    * than [[UlmMaxWord]] chars are excluded from training (the
    * SentencePiece max_sentencepiece_length / pre-split convention);
    * this corpus' generator tops out at 8, so nothing is dropped
    * here, and at scale the cap bounds the per-word lattice at
    * 2^(L−1) ≤ 128 segmentations regardless of corpus size. */
  val UlmRounds = 3
  val UlmMaxWord = 8

  /** Exact fixed-point log2 on the bit lattice: for x ≥ 1,
    * logish(x) = msb·1024 + (the 10 mantissa bits after the msb) =
    * ilog2(x)·2¹⁰ + ((x·2¹⁰) >> ilog2(x)) − 2¹⁰ — the classic
    * piecewise-linear log2 (error < 0.09 %), MONOTONE in x and pure
    * integer algebra (bin-length + shifts), so Viterbi comparisons
    * on summed log-probabilities are bit-identical across engines —
    * no libm log anywhere near an argmax (the record_linkage ilog2
    * convention, widened by 10 mantissa bits so EM re-estimation
    * actually moves scores between rounds instead of collapsing
    * onto whole-bit ties). */
  private def logishExpr(x: String): String =
    s"((length(bin($x)) - 1) * 1024" +
      s" + shiftright(($x) * 1024, CAST(length(bin($x)) - 1 AS INT)) - 1024)"

  /** K177: UNIGRAM-LM TOKENIZER TRAINING — the SentencePiece unigram
    * model (Kudo, ACL 2018: "Subword Regularization"), the OTHER
    * production subword trainer next to BPE (K63): start from a
    * large seed vocabulary of candidate pieces, iterate EM — E-step
    * segments the corpus under current piece probabilities, M-step
    * re-estimates probabilities from the segmentation counts — and
    * let unused pieces fall out (the pruning analog). This is the
    * HARD-EM (Viterbi) variant: each word takes its single best
    * segmentation per round, the deterministic integer-exact form
    * of Kudo's §3.2 loop (soft forward-backward expectations are
    * float-valued and engine-divergent by construction; Viterbi EM
    * is the standard deterministic degeneration and what most
    * re-implementations ship first). All algebra exact: seed counts
    * = substring occurrence counts weighted by word frequency,
    * log-probabilities live on the [[logishExpr]] bit lattice
    * (score(seg) = Σ logish(cnt_piece) − |seg|·logish(total),
    * BIGINT), argmax tiebreak (score desc, piece-count asc, cut-mask
    * asc) — engine-invariant integer order, no collation anywhere.
    * The E-step is ENUMERATED, not DP: a word of length L has
    * 2^(L−1) segmentations indexed by cut BITMASK, and piece (a,b]
    * belongs to mask m iff bits a..b−2 of m are 0 and bits a−1, b−1
    * are set (word-edge positions exempt) — pure shift/and algebra
    * both engines evaluate identically; with [[UlmMaxWord]] = 8 the
    * lattice is ≤ 128 masks × ≤ 8 pieces per DISTINCT word, built
    * once and reused by every round (only counts change). A word's
    * round-r winner stays valid at r+1 (its pieces were just
    * counted), so every word always has a segmentation — single
    * chars need no special floor. Output: the re-estimated vocab
    * after each round (round, piece, cnt, share_ppm); the vocabulary
    * is MONOTONE SHRINKING (round-r counts only cover round-r
    * winners' pieces), which is the EM pruning story the spec pins
    * alongside a full local sequential-trainer replay. Oracle: the
    * bpe_train contract — chained MATERIALIZED CTEs recomputing
    * their own E/M steps with zero injected constants.
    *
    * Shape: ONE corpus token pass (map-side combining word count) —
    * everything after runs on the distinct-word lattice (vocab ×
    * ≤128×8 rows, corpus-size-FREE): per round one broadcast join
    * of piece counts onto the lattice, a (word, mask) combining
    * aggregate, a per-word width-≤128 window argmax, and a
    * piece-keyed recount; localCheckpoint per round (the kcore
    * lineage convention). At 100 TB the corpus pass is the only
    * data-proportional stage — the EM loop costs the same as at
    * sf0.001. */
  def unigramLm(s: SparkSession, dir: String): DataFrame = {
    val words = documents(s, dir)
      .select(explode(TextFns.wsTokens(lower(col("text")))).as("word"))
      .filter(length(col("word")) <= UlmMaxWord)
      .groupBy(col("word")).agg(count(lit(1)).as("wf"))
      .localCheckpoint() // distinct words; lattice + seed read it
    val pairs = words
      .select(col("word"), col("wf"),
        explode(sequence(lit(0), length(col("word")) - 1)).as("a"))
      .select(col("word"), col("wf"), col("a"),
        explode(sequence(col("a") + 1, length(col("word")))).as("b"))
      .select(col("word"), col("wf"), col("a"), col("b"),
        expr("substring(word, a + 1, b - a)").as("piece"))
    val lat = pairs
      .select(col("word"), col("wf"), col("a"), col("b"), col("piece"),
        explode(expr(
          "sequence(CAST(0 AS BIGINT)," +
            " shiftleft(CAST(1 AS BIGINT)," +
            " CAST(length(word) AS INT) - 1) - 1)")).as("mask"))
      .filter(
        expr("a = 0 OR (shiftright(mask, CAST(a - 1 AS INT)) & 1) = 1") &&
        expr("b = length(word) OR (shiftright(mask, CAST(b - 1 AS INT)) & 1) = 1") &&
        expr("(shiftright(mask, CAST(a AS INT)) &" +
          " (shiftleft(CAST(1 AS BIGINT), CAST(b - a - 1 AS INT)) - 1)) = 0"))
      .select(col("word"), col("wf"), col("mask"), col("piece"))
      .localCheckpoint() // distinct-word lattice; reused every round
    var vocab = pairs.groupBy(col("piece")).agg(sum(col("wf")).as("cnt"))
      .localCheckpoint() // seed: weighted substring occurrence counts
    var report: DataFrame = null
    for (round <- 1 to UlmRounds) {
      val tot = vocab.agg(sum(col("cnt")).as("tot"))
        .select(expr(logishExpr("tot")).as("ltot"))
      val scored = lat.join(broadcast(vocab), "piece")
        .groupBy(col("word"), col("mask"))
        .agg(count(lit(1)).as("found"),
          sum(expr(logishExpr("cnt"))).as("lsum"))
        .withColumn("need", expr("bit_count(mask) + 1"))
        .filter(col("found") === col("need")) // no pruned piece inside
        .crossJoin(broadcast(tot)) // 1-row scalar frame
        .withColumn("score", col("lsum") - col("need") * col("ltot"))
      val win = Window.partitionBy(col("word"))
        .orderBy(col("score").desc, col("need"), col("mask"))
      val winners = scored
        .withColumn("rn", row_number().over(win)).filter(col("rn") === 1)
        .select(col("word"), col("mask"))
      vocab = lat.join(winners, Seq("word", "mask"))
        .groupBy(col("piece")).agg(sum(col("wf")).as("cnt"))
        .localCheckpoint() // M-step recount; next round reads it
      val rtot = vocab.agg(sum(col("cnt")).as("rt"))
      val rows = vocab.crossJoin(broadcast(rtot)) // 1-row scalar frame
        .select(lit(round.toLong).as("round"), col("piece"), col("cnt"),
          expr("(cnt * 1000000) div rt").as("share_ppm"))
      report = if (report == null) rows else report.unionByName(rows)
    }
    report
  }

  lazy val unigramLmSql: String = {
    def logish(x: String): String =
      s"((length(bin($x)) - 1) * 1024" +
        s" + ((($x) * 1024) >> (length(bin($x)) - 1)) - 1024)"
    val base =
      s"""wrd AS MATERIALIZED (
         |  SELECT word, count(*)::BIGINT AS wf FROM (
         |    SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS word
         |    FROM documents)
         |  WHERE length(word) <= $UlmMaxWord GROUP BY 1),
         |prs AS MATERIALIZED (
         |  SELECT word, wf, a, b, substr(word, (a + 1)::INT, (b - a)::INT) AS piece
         |  FROM wrd, unnest(range(0, length(word))) AS ta(a),
         |       unnest(range(1, length(word) + 1)) AS tb(b)
         |  WHERE a < b),
         |lat AS MATERIALIZED (
         |  SELECT word, wf, mask, piece
         |  FROM prs, unnest(range(0, 1 << (length(word) - 1)::INT)) AS tm(mask)
         |  WHERE (a = 0 OR ((mask >> (a - 1)::INT) & 1) = 1)
         |    AND (b = length(word) OR ((mask >> (b - 1)::INT) & 1) = 1)
         |    AND ((mask >> a::INT) & ((1::BIGINT << (b - a - 1)::INT) - 1)) = 0),
         |v0 AS MATERIALIZED (
         |  SELECT piece, sum(wf)::BIGINT AS cnt FROM prs GROUP BY 1)"""
        .stripMargin
    val rounds = (1 to UlmRounds).map { k =>
      s"""lt$k AS MATERIALIZED (
         |  SELECT ${logish("sum(cnt)")}::BIGINT AS ltot FROM v${k - 1}),
         |sc$k AS MATERIALIZED (
         |  SELECT word, mask, count(*)::BIGINT AS found,
         |    bit_count(mask) + 1 AS need,
         |    (sum(${logish("cnt")}) - (bit_count(mask) + 1) *
         |      (SELECT ltot FROM lt$k))::BIGINT AS score
         |  FROM lat JOIN v${k - 1} USING (piece)
         |  GROUP BY word, mask
         |  HAVING count(*) = bit_count(mask) + 1),
         |wn$k AS MATERIALIZED (
         |  SELECT word, mask FROM (
         |    SELECT word, mask, row_number() OVER (PARTITION BY word
         |      ORDER BY score DESC, need ASC, mask ASC) AS rn
         |    FROM sc$k) WHERE rn = 1),
         |v$k AS MATERIALIZED (
         |  SELECT piece, sum(wf)::BIGINT AS cnt
         |  FROM lat JOIN wn$k USING (word, mask) GROUP BY 1),
         |rt$k AS MATERIALIZED (SELECT sum(cnt)::BIGINT AS rt FROM v$k)"""
        .stripMargin
    }.mkString(",\n")
    val out = (1 to UlmRounds).map { k =>
      s"""SELECT $k::BIGINT AS round, piece, cnt,
         |  (cnt * 1000000 // (SELECT rt FROM rt$k))::BIGINT AS share_ppm
         |FROM v$k""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH $base,\n$rounds\n$out"
  }

  /** K132: CCNET HEAD/MIDDLE/TAIL BUCKETS — the published CCNet
    * (Wenzek et al., LREC 2020) corpus partition every
    * CommonCrawl-derived training set inherits: within each language,
    * documents are ordered by LM score and split into three
    * equal-sized quality tertiles; training mixes then draw from
    * "head" (and sometimes "middle") while "tail" is dropped or
    * down-weighted. The score is the SHARED [[lmPerDoc]] integer
    * fluency core (same column quality_agreement's b-axis uses, so
    * the three quality consumers cannot drift): fq = sum_q·1000 div
    * (n_bigrams·LmScale), higher = more fluent — CCNet orders by
    * ascending perplexity, this orders by descending fluency, the
    * same ranking. Buckets via ntile(3) over (fq DESC, doc_id): both
    * engines assign oversized groups first on a TOTAL order, so the
    * cut is engine-exact. Docs with no bigrams score 0 (tail-most).
    *
    * Shape: the lmPerDoc shuffles (∝ corpus tokens) + ONE ntile
    * window PARTITIONED BY LANG (state per partition ∝ docs in that
    * language — at 100 TB the per-lang rank is the standard
    * distributed-sort-by-key, never a global single-partition
    * window) + a ≤ langs×3 aggregate. */
  def ccnetBuckets(s: SparkSession, dir: String): DataFrame = {
    val meta = documents(s, dir).select(col("doc_id"), col("lang"),
      TextFns.wsTokenCount(col("text")).cast("long").as("toks"))
    val scored = meta.join(lmScoresArtifact(s, dir), Seq("doc_id"), "left_outer")
      .withColumn("fq", coalesce(
        expr(s"(sum_q * 1000) div (n_bigrams * ${LmScale}L)"), lit(0L)))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("fq").desc, col("doc_id"))
    scored.withColumn("b", ntile(3).over(w))
      .withColumn("bucket",
        when(col("b") === 1, "head").when(col("b") === 2, "middle")
          .otherwise("tail"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_toks"),
        min(col("fq")).as("min_fq"), max(col("fq")).as("max_fq"))
  }

  val ccnetBucketsSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS w,
       |    generate_subscripts(list_filter(string_split(lower(text), ' '), x -> x <> ''), 1) AS pos
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, w, w1 FROM (
       |    SELECT doc_id, w, lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
       |    FROM toks)
       |  WHERE w1 IS NOT NULL),
       |cbg AS (SELECT w, w1, count(*) AS cbg FROM bg GROUP BY 1, 2),
       |cuni AS (SELECT w, count(*) AS cuni FROM toks GROUP BY 1),
       |perdoc AS (
       |  SELECT doc_id, count(*) AS n_bigrams, sum(q)::BIGINT AS sum_q
       |  FROM (
       |    SELECT bg.doc_id, (cbg.cbg * $LmScale) // cuni.cuni AS q
       |    FROM bg JOIN cbg USING (w, w1) JOIN cuni USING (w))
       |  GROUP BY doc_id),
       |m AS (
       |  SELECT d.doc_id, d.lang,
       |    len(list_filter(string_split(d.text, ' '), x -> x <> ''))::BIGINT AS toks,
       |    coalesce((p.sum_q * 1000) // (p.n_bigrams * $LmScale), 0) AS fq
       |  FROM documents d LEFT JOIN perdoc p USING (doc_id)),
       |t AS (
       |  SELECT lang, toks, fq,
       |    ntile(3) OVER (PARTITION BY lang ORDER BY fq DESC, doc_id) AS b
       |  FROM m)
       |SELECT lang,
       |  CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
       |  count(*)::BIGINT AS n_docs, sum(toks)::BIGINT AS n_toks,
       |  min(fq)::BIGINT AS min_fq, max(fq)::BIGINT AS max_fq
       |FROM t GROUP BY 1, 2""".stripMargin

  /** Tokens per synthetic page line for [[c4Filters]] (the corpus has
    * no newlines, so fixed-width token lines stand in for C4's
    * newline-split lines, the [[SegTokens]] convention). */
  val C4LineTokens = 8

  /** C4's "bad phrase" line blocklist (Raffel et al. list the policy
    * boilerplate family explicitly). */
  val C4BadPhrases: Seq[String] =
    Seq("terms of use", "privacy policy", "cookie policy", "uses cookies")

  /** Planted special lines keyed on doc_id mod m — each exercises one
    * named C4 rule: (modulus, synthetic line index, line text). Line
    * indexes start at 1001, past any base line count. */
  val C4Planted: Seq[(Int, Long, String)] = Seq(
    (3,  1001L, "please enable javascript to view this page."),
    (7,  1002L, "we updated our privacy policy and terms today."),
    (11, 1003L, "click here."),
    (13, 1004L, "lorem ipsum dolor sit amet."),
    (17, 1005L, "var config = { mode: full };"))

  /** Minimum kept lines for a page to survive (C4's "at least 3
    * sentences" gate, applied after line filtering). */
  val C4MinKeptLines = 3

  /** K138: C4 CLEANING HEURISTICS — the line/page filter stack of C4
    * (Raffel et al., JMLR 2020 §2.2), the cleaning pass T5 trained on
    * and the template most later web corpora (MassiveText, RefinedWeb,
    * FineWeb) start from: keep only lines ending in terminal
    * punctuation, drop lines under 5 words, drop lines mentioning
    * javascript or policy boilerplate ([[C4BadPhrases]]); drop whole
    * pages containing "lorem ipsum" or a curly brace, and pages left
    * with fewer than [[C4MinKeptLines]] kept lines. Pages are planted
    * deterministically (html_extract convention): base lines are
    * [[C4LineTokens]]-token slices with terminal punctuation assigned
    * by (doc_id+si) mod 4 — so the no-punct rule fires on a known 1/4
    * of base lines — plus one [[C4Planted]] line per matching modulus.
    * Rules evaluate FIRST-MATCH in C4's published order (page gates on
    * raw content first, then lines within raw-surviving pages, then
    * the min-kept-lines page gate). Output: the fixed 9-row rule
    * report (rule, level, n) — hits per named rule plus kept pages and
    * kept lines — every count an exact integer.
    *
    * Scale shape: line construction is map-only (sequence + slice +
    * a filtered planted union, all codegen'd); per-page accounting is
    * ONE doc-keyed aggregate; the verdict frame collapses to a ≤4-row
    * checkpointed cell table and the 9-row report derives from it
    * (the url_filter single-scan posture) — shuffle ∝ pages, payload
    * never wider than counters. */
  def c4Filters(s: SparkSession, dir: String): DataFrame = {
    // ONE corpus scan: base lines AND planted lines both come out of
    // a single per-doc struct-array concat (a unioned per-rule scan
    // would read the corpus once per planted rule at 100 TB)
    def lrow(si: Column, line: Column) =
      struct(si.cast("long").as("si"), line.as("line"))
    val baseArr = transform(
      sequence(lit(0L), greatest(
        ceil(size(col("toks")).cast("double") / C4LineTokens).cast("long"), lit(1L)) - 1),
      si => lrow(si, concat(
        concat_ws(" ", slice(col("toks"),
          (si * C4LineTokens + 1).cast("int"), lit(C4LineTokens))),
        element_at(array(lit(""), lit("."), lit("!"), lit("?")),
          (pmod(col("doc_id") + si, lit(4L)) + 1).cast("int")))))
    val plantedArr = filter(
      array(C4Planted.map { case (m, si, txt) =>
        when(col("doc_id") % m === 0, lrow(lit(si), lit(txt)))
          .otherwise(lit(null))
      }: _*), x => x.isNotNull)
    val wcCol = size(filter(split(col("line"), " "), t => t =!= ""))
    val cls = documents(s, dir)
      .select(col("doc_id"), TextFns.wsTokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(concat(baseArr, plantedArr)).as("p"))
      .select(col("doc_id"), col("p.si").as("si"), col("p.line").as("line"))
      .withColumn("wc", wcCol)
      .withColumn("rule",
        when(!col("line").rlike("[.!?\"]$"), "line_no_terminal_punct")
          .when(col("wc") < 5, "line_min_words")
          .when(col("line").contains("javascript"), "line_javascript")
          .when(C4BadPhrases.map(p => col("line").contains(p)).reduce(_ || _),
            "line_bad_phrase")
          .otherwise("kept"))
    def hit(r: String) = sum(when(col("rule") === r, 1L).otherwise(0L))
    val perDoc = cls.groupBy(col("doc_id")).agg(
      max(col("line").contains("lorem ipsum").cast("int")).as("has_lorem"),
      max(col("line").contains("{").cast("int")).as("has_curly"),
      hit("line_no_terminal_punct").as("n_term"),
      hit("line_min_words").as("n_short"),
      hit("line_javascript").as("n_js"),
      hit("line_bad_phrase").as("n_phrase"),
      hit("kept").as("n_keep"))
    val byV = perDoc
      .withColumn("verdict",
        when(col("has_lorem") === 1, "page_lorem_ipsum")
          .when(col("has_curly") === 1, "page_curly_brace")
          .when(col("n_keep") < C4MinKeptLines, "page_min_lines")
          .otherwise("kept"))
      .groupBy(col("verdict"))
      .agg(count(lit(1)).as("n_pages"), sum(col("n_term")).as("t"),
        sum(col("n_short")).as("sh"), sum(col("n_js")).as("j"),
        sum(col("n_phrase")).as("ph"), sum(col("n_keep")).as("k"))
      .localCheckpoint() // ≤ 4 rows; the 9-row report derives from it
    def vSum(c: Column, pred: Column) =
      coalesce(sum(when(pred, c)), lit(0L))
    val lineScope = col("verdict").isin("page_min_lines", "kept")
    val one = byV.agg(
      vSum(col("n_pages"), col("verdict") === "page_lorem_ipsum").as("pg_lorem"),
      vSum(col("n_pages"), col("verdict") === "page_curly_brace").as("pg_curly"),
      vSum(col("n_pages"), col("verdict") === "page_min_lines").as("pg_min"),
      vSum(col("n_pages"), col("verdict") === "kept").as("pg_kept"),
      vSum(col("t"), lineScope).as("l_term"),
      vSum(col("sh"), lineScope).as("l_short"),
      vSum(col("j"), lineScope).as("l_js"),
      vSum(col("ph"), lineScope).as("l_phrase"),
      vSum(col("k"), col("verdict") === "kept").as("l_kept"))
    def rrow(rule: String, level: String, n: Column) =
      struct(lit(rule).as("rule"), lit(level).as("level"),
        n.cast("long").as("n"))
    one.select(explode(array(
        rrow("page_lorem_ipsum", "page", col("pg_lorem")),
        rrow("page_curly_brace", "page", col("pg_curly")),
        rrow("page_min_lines", "page", col("pg_min")),
        rrow("kept_pages", "page", col("pg_kept")),
        rrow("line_no_terminal_punct", "line", col("l_term")),
        rrow("line_min_words", "line", col("l_short")),
        rrow("line_javascript", "line", col("l_js")),
        rrow("line_bad_phrase", "line", col("l_phrase")),
        rrow("kept_lines", "line", col("l_kept")))).as("r"))
      .select(col("r.rule").as("rule"), col("r.level").as("level"),
        col("r.n").as("n"))
  }

  val c4FiltersSql: String = {
    val plantedSql = C4Planted.map { case (m, si, txt) =>
      s"SELECT doc_id, CAST($si AS BIGINT) AS si, '$txt' AS line FROM documents WHERE doc_id % $m = 0"
    }.mkString("\n       |  UNION ALL ")
    val phrasePred = C4BadPhrases
      .map(p => s"contains(line, '$p')").mkString(" OR ")
    s"""WITH t AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks,
       |    greatest(CAST(ceil(len(list_filter(string_split(text, ' '), x -> x <> ''))::DOUBLE
       |      / $C4LineTokens) AS BIGINT), 1) AS n_lines
       |  FROM documents),
       |base AS (
       |  SELECT doc_id, si,
       |    array_to_string(toks[(si * $C4LineTokens + 1):((si + 1) * $C4LineTokens)], ' ')
       |      || ['', '.', '!', '?'][CAST((doc_id + si) % 4 AS INT) + 1] AS line
       |  FROM (SELECT doc_id, toks, unnest(range(0, n_lines)) AS si FROM t)),
       |lines_ AS (
       |  SELECT * FROM base
       |  UNION ALL $plantedSql),
       |cls AS (
       |  SELECT doc_id, line,
       |    CASE WHEN NOT regexp_matches(line, '[.!?"]$$') THEN 'line_no_terminal_punct'
       |         WHEN len(list_filter(string_split(line, ' '), x -> x <> '')) < 5
       |           THEN 'line_min_words'
       |         WHEN contains(line, 'javascript') THEN 'line_javascript'
       |         WHEN $phrasePred THEN 'line_bad_phrase'
       |         ELSE 'kept' END AS rule
       |  FROM lines_),
       |perdoc AS (
       |  SELECT doc_id,
       |    max(CASE WHEN contains(line, 'lorem ipsum') THEN 1 ELSE 0 END) AS has_lorem,
       |    max(CASE WHEN contains(line, '{') THEN 1 ELSE 0 END) AS has_curly,
       |    sum(CASE WHEN rule = 'line_no_terminal_punct' THEN 1 ELSE 0 END)::BIGINT AS n_term,
       |    sum(CASE WHEN rule = 'line_min_words' THEN 1 ELSE 0 END)::BIGINT AS n_short,
       |    sum(CASE WHEN rule = 'line_javascript' THEN 1 ELSE 0 END)::BIGINT AS n_js,
       |    sum(CASE WHEN rule = 'line_bad_phrase' THEN 1 ELSE 0 END)::BIGINT AS n_phrase,
       |    sum(CASE WHEN rule = 'kept' THEN 1 ELSE 0 END)::BIGINT AS n_keep
       |  FROM cls GROUP BY doc_id),
       |v AS (
       |  SELECT *,
       |    CASE WHEN has_lorem = 1 THEN 'page_lorem_ipsum'
       |         WHEN has_curly = 1 THEN 'page_curly_brace'
       |         WHEN n_keep < $C4MinKeptLines THEN 'page_min_lines'
       |         ELSE 'kept' END AS verdict
       |  FROM perdoc),
       |o AS (
       |  SELECT
       |    coalesce(sum(CASE WHEN verdict = 'page_lorem_ipsum' THEN 1 END), 0)::BIGINT AS pg_lorem,
       |    coalesce(sum(CASE WHEN verdict = 'page_curly_brace' THEN 1 END), 0)::BIGINT AS pg_curly,
       |    coalesce(sum(CASE WHEN verdict = 'page_min_lines' THEN 1 END), 0)::BIGINT AS pg_min,
       |    coalesce(sum(CASE WHEN verdict = 'kept' THEN 1 END), 0)::BIGINT AS pg_kept,
       |    coalesce(sum(CASE WHEN verdict IN ('page_min_lines', 'kept') THEN n_term END), 0)::BIGINT AS l_term,
       |    coalesce(sum(CASE WHEN verdict IN ('page_min_lines', 'kept') THEN n_short END), 0)::BIGINT AS l_short,
       |    coalesce(sum(CASE WHEN verdict IN ('page_min_lines', 'kept') THEN n_js END), 0)::BIGINT AS l_js,
       |    coalesce(sum(CASE WHEN verdict IN ('page_min_lines', 'kept') THEN n_phrase END), 0)::BIGINT AS l_phrase,
       |    coalesce(sum(CASE WHEN verdict = 'kept' THEN n_keep END), 0)::BIGINT AS l_kept
       |  FROM v)
       |SELECT 'page_lorem_ipsum' AS rule, 'page' AS level, pg_lorem AS n FROM o
       |UNION ALL SELECT 'page_curly_brace', 'page', pg_curly FROM o
       |UNION ALL SELECT 'page_min_lines', 'page', pg_min FROM o
       |UNION ALL SELECT 'kept_pages', 'page', pg_kept FROM o
       |UNION ALL SELECT 'line_no_terminal_punct', 'line', l_term FROM o
       |UNION ALL SELECT 'line_min_words', 'line', l_short FROM o
       |UNION ALL SELECT 'line_javascript', 'line', l_js FROM o
       |UNION ALL SELECT 'line_bad_phrase', 'line', l_phrase FROM o
       |UNION ALL SELECT 'kept_lines', 'line', l_kept FROM o""".stripMargin
  }

  /** Anchor-tag regexes — the common Java/RE2 subset (the
    * [[ScriptStyleRe]] convention): a full tag, then href / inner
    * text / rel="nofollow" read from the tag string itself, so href
    * and anchor text can never mis-align. */
  val AnchorTagRe = "<a [^>]*>[^<]*</a>"
  val HrefRe = "href=\"([^\"]*)\""
  val AnchorTextRe = ">([^<]*)<"
  val HostRe = "https?://([a-z0-9.-]+)"

  /** K139: ANCHOR-TEXT MINING — the hyperlink anchor-text harvest
    * behind ORCAS-class click/anchor corpora and anchor-based
    * retrieval pretraining (anchor text ≈ a human-written query for
    * the target page; used as weak supervision for dense retrievers
    * and as a document-expansion field in web ranking since
    * TREC-Web). Pages are planted deterministically (html_extract
    * convention): every doc links its own site{doc_id%7} target with
    * its first three tokens as anchor text, docs ≡0 mod 4 add a
    * second link (tokens 4-6 → site{(doc_id+1)%7}), docs ≡0 mod 6 add
    * a rel="nofollow" tracker link — which anchor pipelines DROP (the
    * publisher opted out of endorsement) but must still count.
    * Per target host: links seen / kept, distinct linking docs,
    * distinct kept anchor texts, kept anchor tokens, nofollow drops.
    *
    * Scale shape: tag extraction is map-only regexp_extract_all over
    * the page (payloads never shuffle — tags do, and a tag is tens of
    * bytes); ONE host-keyed combining aggregate ends the plan. At
    * crawl scale this is the classic "invert the web graph by anchor"
    * map-reduce, shuffle ∝ links. */
  def anchorExtract(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val toks = TextFns.wsTokens(col("text"))
    val page = concat(
      lit("<html><body><p>"), col("text"), lit("</p><a href=\"https://site"),
      (id % 7).cast("string"), lit(".example.com/page"),
      (id % 13).cast("string"), lit("\">"),
      concat_ws(" ", slice(col("toks"), 1, 3)), lit("</a>"),
      when(id % 4 === 0, concat(
        lit("<a href=\"https://site"), ((id + 1) % 7).cast("string"),
        lit(".example.com/hub\">"), concat_ws(" ", slice(col("toks"), 4, 3)),
        lit("</a>"))).otherwise(lit("")),
      when(id % 6 === 0,
        lit("<a href=\"https://ads.example.com/track\" rel=\"nofollow\">click here</a>"))
        .otherwise(lit("")),
      lit("</body></html>"))
    val tags = documents(s, dir)
      .select(id, toks.as("toks"), col("text"))
      .withColumn("page", page)
      .select(id, explode(regexp_extract_all(col("page"), lit(AnchorTagRe), lit(0))).as("tag"))
    tags
      .select(id,
        regexp_extract(regexp_extract(col("tag"), HrefRe, 1), HostRe, 1).as("host"),
        regexp_extract(col("tag"), AnchorTextRe, 1).as("anchor"),
        col("tag").contains("rel=\"nofollow\"").as("nofollow"))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_links"),
        sum(when(!col("nofollow"), 1L).otherwise(0L)).as("n_kept"),
        countDistinct(col("doc_id")).as("n_docs"),
        countDistinct(when(!col("nofollow"), col("anchor"))).as("n_anchor_texts"),
        coalesce(sum(when(!col("nofollow"),
          size(filter(split(col("anchor"), " "), t => t =!= "")).cast("long"))), lit(0L))
          .as("anchor_tokens"),
        sum(when(col("nofollow"), 1L).otherwise(0L)).as("n_nofollow"))
  }

  val anchorExtractSql: String =
    s"""WITH p AS (
       |  SELECT doc_id,
       |    list_filter(string_split(text, ' '), x -> x <> '') AS toks, text
       |  FROM documents),
       |h AS (
       |  SELECT doc_id,
       |    '<html><body><p>' || text || '</p><a href="https://site'
       |    || CAST(doc_id % 7 AS VARCHAR) || '.example.com/page'
       |    || CAST(doc_id % 13 AS VARCHAR) || '">'
       |    || array_to_string(toks[1:3], ' ') || '</a>'
       |    || CASE WHEN doc_id % 4 = 0 THEN
       |         '<a href="https://site' || CAST((doc_id + 1) % 7 AS VARCHAR)
       |         || '.example.com/hub">' || array_to_string(toks[4:6], ' ') || '</a>'
       |       ELSE '' END
       |    || CASE WHEN doc_id % 6 = 0 THEN
       |         '<a href="https://ads.example.com/track" rel="nofollow">click here</a>'
       |       ELSE '' END
       |    || '</body></html>' AS page
       |  FROM p),
       |tg AS (
       |  SELECT doc_id, unnest(regexp_extract_all(page, '$AnchorTagRe')) AS tag
       |  FROM h),
       |a AS (
       |  SELECT doc_id,
       |    regexp_extract(regexp_extract(tag, 'href="([^"]*)"', 1),
       |      'https?://([a-z0-9.-]+)', 1) AS host,
       |    regexp_extract(tag, '>([^<]*)<', 1) AS anchor,
       |    contains(tag, 'rel="nofollow"') AS nofollow
       |  FROM tg)
       |SELECT host, count(*)::BIGINT AS n_links,
       |  sum(CASE WHEN NOT nofollow THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       |  count(DISTINCT doc_id)::BIGINT AS n_docs,
       |  count(DISTINCT CASE WHEN NOT nofollow THEN anchor END)::BIGINT AS n_anchor_texts,
       |  coalesce(sum(CASE WHEN NOT nofollow
       |    THEN len(list_filter(string_split(anchor, ' '), x -> x <> '')) END), 0)::BIGINT
       |    AS anchor_tokens,
       |  sum(CASE WHEN nofollow THEN 1 ELSE 0 END)::BIGINT AS n_nofollow
       |FROM a GROUP BY host""".stripMargin

  /** FineWeb custom-filter thresholds, per-mille, and the short-line
    * char cut — the three DOCUMENT-level heuristics of Penedo et al.
    * 2024 (The FineWeb Datasets, §3.6), selected by ablation from the
    * C4/MassiveText candidate pool with these exact published
    * values: drop the doc when the fraction of lines ending in
    * punctuation is ≤ 0.12, when the fraction of characters in
    * DUPLICATED lines is ≥ 0.10, or when the fraction of lines
    * shorter than 30 chars is ≥ 0.67. */
  val FwPunctPm = 120L
  val FwDupPm = 100L
  val FwShortPm = 670L
  val FwShortChars = 30

  /** The planted within-doc duplicate line for the dup-chars rule
    * (boilerplate-shaped, punctuation-terminated so it never trips
    * the punct rule instead). */
  val FwDupLine = "subscribe to our newsletter for updates."

  /** K156: FINEWEB CUSTOM FILTERS — the doc-level quality gate stack
    * of Penedo et al. 2024 ([[FwPunctPm]]/[[FwDupPm]]/[[FwShortPm]]),
    * the published refinement ON TOP of the C4 line rules (K138):
    * where C4 drops individual lines, FineWeb drops whole documents
    * whose LINE-STATISTICS profile says boilerplate/listing/nav page.
    * Lines are the K138 synthetic-line convention ([[C4LineTokens]]-
    * token slices, terminal punct on (doc_id+si) mod 4 ≠ 0), with
    * three deterministic planted populations so each published rule
    * fires on a known doc class: docs ≡0 (mod 19) lose ALL terminal
    * punctuation (punct ratio 0 ≤ 120‰), docs ≡0 (mod 23) repeat
    * [[FwDupLine]] on every third line (duplicated-line chars ≥
    * 100‰), docs ≡0 (mod 29) truncate every line to 2 tokens (short
    * lines ≥ 670‰). Verdicts evaluate FIRST-MATCH in the paper's
    * listing order; every ratio test is an exact integer
    * cross-multiplication (n·1000 vs threshold·denominator — no
    * float ever divides). Output: per verdict, doc/line/char counts.
    *
    * Scale shape: line construction is map-only (sequence + slice,
    * codegen'd); duplicate detection is a (doc, line)-keyed combining
    * aggregate followed by a doc-keyed one — shuffle ∝ lines, the
    * line_dedup posture, never pairwise; the report is the ≤4-row
    * verdict aggregate. */
  def finewebFilters(s: SparkSession, dir: String): DataFrame = {
    val lineArr = transform(
      sequence(lit(0L), greatest(
        ceil(size(col("toks")).cast("double") / C4LineTokens).cast("long"),
        lit(1L)) - 1),
      si => {
        val width = when(col("doc_id") % 29 === 0, lit(2))
          .otherwise(lit(C4LineTokens))
        val body = concat_ws(" ",
          slice(col("toks"), (si * C4LineTokens + 1).cast("int"), width))
        val punct = when(col("doc_id") % 19 === 0, lit(""))
          .otherwise(element_at(array(lit(""), lit("."), lit("!"), lit("?")),
            (pmod(col("doc_id") + si, lit(4L)) + 1).cast("int")))
        when(col("doc_id") % 23 === 0 && si % 3 === 0, lit(FwDupLine))
          .otherwise(concat(body, punct))
      })
    val lines = documents(s, dir)
      .select(col("doc_id"), TextFns.wsTokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(lineArr).as("line"))
    val perLine = lines.groupBy(col("doc_id"), col("line"))
      .agg(count(lit(1)).as("copies"))
      .withColumn("len", length(col("line")).cast("long"))
    val perDoc = perLine.groupBy(col("doc_id")).agg(
      sum(col("copies")).as("n_lines"),
      sum(col("copies") * col("len")).as("n_chars"),
      sum(when(col("line").rlike("[.!?\"]$"), col("copies")).otherwise(0L))
        .as("n_punct"),
      sum(when(col("copies") >= 2, col("copies") * col("len")).otherwise(0L))
        .as("dup_chars"),
      sum(when(col("len") < FwShortChars, col("copies")).otherwise(0L))
        .as("n_short"))
    perDoc
      .withColumn("verdict",
        when(col("n_punct") * 1000 <= lit(FwPunctPm) * col("n_lines"),
          "punct_ratio")
          .when(col("dup_chars") * 1000 >= lit(FwDupPm) * col("n_chars"),
            "dup_line_chars")
          .when(col("n_short") * 1000 >= lit(FwShortPm) * col("n_lines"),
            "short_lines")
          .otherwise("kept"))
      .groupBy(col("verdict"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_lines")).as("n_lines"),
        sum(col("n_chars")).as("n_chars"))
  }

  val finewebFiltersSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks,
       |    greatest(CAST(ceil(len(list_filter(string_split(text, ' '), x -> x <> ''))::DOUBLE
       |      / $C4LineTokens) AS BIGINT), 1) AS n_lines
       |  FROM documents),
       |lines_ AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 23 = 0 AND si % 3 = 0 THEN '$FwDupLine'
       |         ELSE array_to_string(toks[(si * $C4LineTokens + 1):(si * $C4LineTokens
       |                + CASE WHEN doc_id % 29 = 0 THEN 2 ELSE $C4LineTokens END)], ' ')
       |           || CASE WHEN doc_id % 19 = 0 THEN ''
       |              ELSE ['', '.', '!', '?'][CAST((doc_id + si) % 4 AS INT) + 1] END
       |    END AS line
       |  FROM (SELECT doc_id, toks, unnest(range(0, n_lines)) AS si FROM t)),
       |pl AS (
       |  SELECT doc_id, line, count(*)::BIGINT AS copies, length(line)::BIGINT AS len
       |  FROM lines_ GROUP BY doc_id, line),
       |pd AS (
       |  SELECT doc_id,
       |    sum(copies)::BIGINT AS n_lines,
       |    sum(copies * len)::BIGINT AS n_chars,
       |    sum(CASE WHEN regexp_matches(line, '[.!?"]$$') THEN copies ELSE 0 END)::BIGINT AS n_punct,
       |    sum(CASE WHEN copies >= 2 THEN copies * len ELSE 0 END)::BIGINT AS dup_chars,
       |    sum(CASE WHEN len < $FwShortChars THEN copies ELSE 0 END)::BIGINT AS n_short
       |  FROM pl GROUP BY doc_id),
       |v AS (
       |  SELECT n_lines, n_chars,
       |    CASE WHEN n_punct * 1000 <= $FwPunctPm * n_lines THEN 'punct_ratio'
       |         WHEN dup_chars * 1000 >= $FwDupPm * n_chars THEN 'dup_line_chars'
       |         WHEN n_short * 1000 >= $FwShortPm * n_lines THEN 'short_lines'
       |         ELSE 'kept' END AS verdict
       |  FROM pd)
       |SELECT verdict, count(*)::BIGINT AS n_docs, sum(n_lines)::BIGINT AS n_lines,
       |  sum(n_chars)::BIGINT AS n_chars
       |FROM v GROUP BY 1""".stripMargin

  /** [[kneserNey]] absolute discount D = [[KnDiscNum]]/[[KnDiscDen]]
    * — the standard 0.75 as the exact rational ¾, so the whole score
    * lives on an integer lattice. */
  val KnDiscNum = 3L
  val KnDiscDen = 4L

  /** K172: KNESER–NEY SMOOTHED BIGRAM SCORE — the interpolated
    * absolute-discount LM of Kneser & Ney (ICASSP 1995), confirmed
    * the best n-gram smoothing by Chen & Goodman (1999) and what
    * KenLM — the LM behind the CCNet filter this repo's fluency line
    * models — actually ships. J5 `lm_score` is the MLE bigram
    * average; KN changes it twice: (a) every bigram count is
    * discounted by D = ¾ and the freed mass is interpolated with (b)
    * the CONTINUATION probability p_cont(w') = N1+(·w')/N1+(··) —
    * how many distinct contexts w' follows, not how often ("San
    * Francisco" makes "Francisco" frequent but nearly useless as a
    * continuation; MLE overrates it, KN does not). Full per-bigram
    * score as ONE exact integer division on the common lattice:
    * p = (max(4c−3, 0)·NT + 3·N1(w·)·N1(·w'))·[[LmScale]]
    *     div (4·ctx(w)·NT)
    * where ctx(w) = Σ c(w,·), NT = N1+(··). LATTICE BOUND (exact,
    * not the loose vocab² hand-wave): the dominant numerator term is
    * 4·c·NT·[[LmScale]] ≤ 4·corpus_bigrams·bigram_types·10⁶, so
    * BIGINT (9.2×10¹⁸) holds iff corpus_bigrams × bigram_types ≲
    * 2.3×10¹² — e.g. a 10⁸-bigram corpus with ≤2×10⁴ distinct
    * bigram types, or 10⁶ bigrams with 2×10⁶ types. Beyond that the
    * engines DIVERGE rather than both failing: Spark (non-ANSI)
    * wraps silently while DuckDB raises out-of-range — so a corpus
    * near the bound must either drop [[LmScale]] a decade or split
    * the score into its discounted and continuation divisions
    * (different rounding; oracle must move in lockstep). All tested
    * SFs sit ≥6 orders below the bound. Per-doc report in the J5
    * shape (n_bigrams, sum_q, kn_score, fluent at the same LmMin
    * floor), so the two scores read side by side; the spec pins the
    * defining inequality (KN < MLE on every in-corpus bigram — the
    * discount is real) and replays doc scores from first principles.
    *
    * Shape: the J5 bigram build (doc-windowed lead, shuffle ∝
    * tokens) + four combining aggregates (bigram-, context-,
    * continuation-, and type-keyed) joined back bigram-keyed — no
    * new shuffle class; the continuation/type frames are
    * vocab-bounded broadcasts. */
  def kneserNey(s: SparkSession, dir: String): DataFrame = {
    val toks = documents(s, dir).select(col("doc_id"),
      posexplode(TextFns.wsTokens(lower(col("text")))).as(Seq("pos", "w")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val bg = toks
      .withColumn("w1", lead(col("w"), 1).over(w))
      .filter(col("w1").isNotNull)
      .select(col("doc_id"), col("w"), col("w1"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cBg = bg.groupBy(col("w"), col("w1")).agg(count(lit(1)).as("cbg"))
      .localCheckpoint() // bigram types; reused by ctx/n1w/n1w1/NT
    val ctx = cBg.groupBy(col("w")).agg(sum(col("cbg")).as("ctx"),
      count(lit(1)).as("n1w")) // contexts + distinct continuations of w
    val n1w1 = cBg.groupBy(col("w1")).agg(count(lit(1)).as("n1w1"))
    val nt = cBg.agg(count(lit(1)).as("nt"))
    val res = bg
      .join(cBg, Seq("w", "w1"))
      .join(broadcast(ctx), Seq("w"))
      .join(broadcast(n1w1), Seq("w1"))
      .crossJoin(broadcast(nt)) // 1-row scalar frame
      .select(col("doc_id"), expr(
        s"((greatest($KnDiscDen * cbg - $KnDiscNum, 0) * nt" +
          s" + $KnDiscNum * n1w * n1w1) * ${LmScale}L)" +
          s" div ($KnDiscDen * ctx * nt)").as("q"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("q")).as("sum_q"))
      .localCheckpoint() // doc-count-sized; release the bigrams
    bg.unpersist()
    res.select(col("doc_id"), col("n_bigrams"), col("sum_q"),
      pround(col("sum_q").cast("double") / (col("n_bigrams") * LmScale), 4)
        .as("kn_score"),
      (col("sum_q").cast("double") / (col("n_bigrams") * LmScale) >= LmMin)
        .as("fluent"))
  }

  val kneserNeySql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS w,
       |    generate_subscripts(list_filter(string_split(lower(text), ' '), x -> x <> ''), 1) AS pos
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, w, w1 FROM (
       |    SELECT doc_id, w, lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
       |    FROM toks)
       |  WHERE w1 IS NOT NULL),
       |cbg AS (SELECT w, w1, count(*)::BIGINT AS cbg FROM bg GROUP BY 1, 2),
       |ctx AS (SELECT w, sum(cbg)::BIGINT AS ctx, count(*)::BIGINT AS n1w
       |        FROM cbg GROUP BY 1),
       |n1w1 AS (SELECT w1, count(*)::BIGINT AS n1w1 FROM cbg GROUP BY 1),
       |nt AS (SELECT count(*)::BIGINT AS nt FROM cbg),
       |q AS (
       |  SELECT b.doc_id,
       |    ((greatest($KnDiscDen * c.cbg - $KnDiscNum, 0) * nt.nt
       |      + $KnDiscNum * x.n1w * n.n1w1) * $LmScale)
       |      // ($KnDiscDen * x.ctx * nt.nt) AS q
       |  FROM bg b
       |  JOIN cbg c USING (w, w1)
       |  JOIN ctx x USING (w)
       |  JOIN n1w1 n USING (w1)
       |  CROSS JOIN nt),
       |agg AS (
       |  SELECT doc_id, count(*)::BIGINT AS n_bigrams, sum(q)::BIGINT AS sum_q
       |  FROM q GROUP BY 1)
       |SELECT doc_id, n_bigrams, sum_q,
       |  floor((sum_q::DOUBLE / (n_bigrams * $LmScale)) * 10000.0 + 0.5) / 10000.0
       |    AS kn_score,
       |  (sum_q::DOUBLE / (n_bigrams * $LmScale)) >= $LmMin AS fluent
       |FROM agg""".stripMargin

  /** K170: BFF BLOOM-FILTER PARAGRAPH DEDUP — the Dolma toolkit's
    * `bff` deduper (Soldaini et al., ACL 2024: "Dolma: an Open Corpus
    * of Three Trillion Tokens…"), the production answer to the
    * question I1 `line_dedup` leaves open at 100 TB: cross-shard
    * paragraph dedup where the PRIOR shards' exact paragraph set is
    * too big to join — ship a Bloom filter of the prior paragraphs
    * instead (m bits, not terabytes of text) and drop any incoming
    * paragraph whose k probe bits are all set, paying a measured
    * false-positive rate (good paragraphs dropped as collateral) for
    * the bounded-size membership artifact. This operator runs the
    * deployed shape on the novelty split (prior = doc_id%10 < 8,
    * incoming = rest; paragraphs = the [[SegTokens]]-token segment
    * convention) and reports the price per source: paragraphs in,
    * Bloom-dropped, truly duplicated (the exact join the Bloom
    * replaces — computable at verify scale), false positives, and
    * the filter fill — at production n the report is the m-sizing
    * read (fill → 1 means the filter is undersized, the documented
    * BFF tuning knob). Machinery is K30 `bloom_calibrate`'s portable
    * relational bit array verbatim (squared affine probes mod
    * [[Sketches.BloomM]], DISTINCT set-bit rows broadcast — never a
    * native bloom blob the oracle can't replay) over the portable
    * [[graft.functions.HashFns.strHash]] paragraph key; every count
    * exact, two ‰ integer divisions.
    *
    * Shape: prior segs → distinct keys → ≤m-row set-bit frame
    * (broadcast); incoming segs probe map-side + one exact left-semi
    * join for the truth column (dropped at production scale, kept
    * here because the gate needs the FP accounting); per-source
    * aggregate. Shuffle ∝ segments. */
  def bffDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches.{BloomM, BloomProbes, M}
    val probesOf = (key: Column) => array(
      BloomProbes.map { case (a, b) =>
        val g = pmod(key * a + b, lit(M))
        pmod(pmod(g * g, lit(M)), lit(BloomM)) }: _*)
    val src = documents(s, dir).select(col("doc_id"), col("source"))
    val segs = segments(s, dir)
      .withColumn("key", graft.functions.HashFns.strHash(col("seg")))
      .localCheckpoint() // segment frame; prior + incoming legs
    val prior = segs.filter(col("doc_id") % 10 < 8)
    val priorSegs = prior.select(col("seg")).distinct()
    val bits = prior.select(col("key")).distinct()
      .select(explode(probesOf(col("key"))).as("bit")).distinct()
      .localCheckpoint() // <= BloomM rows: THE shipped artifact
    val incoming = segs.filter(col("doc_id") % 10 >= 8)
    val probed = incoming
      .select(col("doc_id"), col("si"), col("seg"),
        explode(probesOf(col("key"))).as("bit"))
      .join(broadcast(bits.withColumn("set", lit(1))), Seq("bit"), "left_outer")
      .na.fill(0, Seq("set"))
      .groupBy(col("doc_id"), col("si"), col("seg"))
      .agg(sum(col("set")).as("hits"))
      .withColumn("bloom_pos",
        when(col("hits") === BloomProbes.size, 1L).otherwise(0L))
    val truth = probed
      .join(priorSegs.withColumn("true_dup", lit(1L)), Seq("seg"), "left_outer")
      .na.fill(0L, Seq("true_dup"))
      .join(broadcast(src), "doc_id")
    truth.groupBy(col("source"))
      .agg(count(lit(1)).as("n_para_in"),
        sum(col("bloom_pos")).as("n_dropped"),
        sum(col("true_dup")).as("n_true_dup"),
        sum(when(col("bloom_pos") === 1L && col("true_dup") === 0L, 1L)
          .otherwise(0L)).as("n_false_pos"))
      .crossJoin(broadcast(bits.agg(count(lit(1)).as("set_bits")))) // 1-row
      .select(col("source"), col("n_para_in"), col("n_dropped"),
        col("n_true_dup"), col("n_false_pos"),
        lit(BloomM.toLong).as("m_bits"), col("set_bits"),
        expr("(n_dropped * 1000) div n_para_in").as("drop_pm"),
        expr(s"(n_false_pos * 1000) div greatest(n_para_in - n_true_dup, 1)")
          .as("fp_pm"))
  }

  val bffDedupSql: String = {
    import graft.operators.Sketches.{BloomM, BloomProbes, M}
    val values = BloomProbes.map { case (a, b) => s"($a, $b)" }.mkString(", ")
    segsCte + s""",
      |keyed AS (
      |  SELECT doc_id, si, seg,
      |    list_reduce(list_prepend(0::BIGINT,
      |        [ascii(c)::BIGINT for c in string_split(seg, '')]),
      |      (a, x) -> (a * 31 + x) % $M) AS key
      |  FROM segs),
      |p(a, b) AS (VALUES $values),
      |prior_segs AS (SELECT DISTINCT seg FROM keyed WHERE doc_id % 10 < 8),
      |bits AS (
      |  SELECT DISTINCT
      |    (((key * a + b) % $M) * ((key * a + b) % $M) % $M) % $BloomM AS bit
      |  FROM (SELECT DISTINCT key FROM keyed WHERE doc_id % 10 < 8)
      |  CROSS JOIN p),
      |probed AS (
      |  SELECT k.doc_id, k.si, k.seg,
      |    CASE WHEN sum(CASE WHEN t.bit IS NULL THEN 0 ELSE 1 END)
      |           = ${BloomProbes.size} THEN 1 ELSE 0 END AS bloom_pos
      |  FROM (SELECT doc_id, si, seg,
      |          (((key * a + b) % $M) * ((key * a + b) % $M) % $M) % $BloomM AS pb
      |        FROM keyed CROSS JOIN p
      |        WHERE doc_id % 10 >= 8) k
      |  LEFT JOIN bits t ON k.pb = t.bit
      |  GROUP BY 1, 2, 3),
      |truth AS (
      |  SELECT d.source, pr.bloom_pos,
      |    CASE WHEN ps.seg IS NULL THEN 0 ELSE 1 END AS true_dup
      |  FROM probed pr
      |  LEFT JOIN prior_segs ps ON pr.seg = ps.seg
      |  JOIN documents d ON pr.doc_id = d.doc_id)
      |SELECT source, count(*)::BIGINT AS n_para_in,
      |  sum(bloom_pos)::BIGINT AS n_dropped,
      |  sum(true_dup)::BIGINT AS n_true_dup,
      |  sum(CASE WHEN bloom_pos = 1 AND true_dup = 0 THEN 1 ELSE 0 END)::BIGINT
      |    AS n_false_pos,
      |  $BloomM::BIGINT AS m_bits,
      |  (SELECT count(*) FROM bits)::BIGINT AS set_bits,
      |  (sum(bloom_pos) * 1000 // count(*))::BIGINT AS drop_pm,
      |  (sum(CASE WHEN bloom_pos = 1 AND true_dup = 0 THEN 1 ELSE 0 END) * 1000
      |     // greatest(count(*) - sum(true_dup), 1))::BIGINT AS fp_pm
      |FROM truth GROUP BY source""".stripMargin
  }
}
