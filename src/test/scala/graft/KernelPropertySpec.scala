package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.forAll
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{KmvAgg, MinhashAgg, StrPolyHash}

/** Property tests for the custom Catalyst kernels that back ORACLED
  * queries — their invariants must hold for all inputs, not just the
  * corpus: StrPolyHash must equal the reference fold it replaced
  * (and the DuckDB list_reduce twin), and KmvAgg's sketch must be
  * invariant under any partitioning/merge order (that is exactly what
  * partial aggregation assumes). */
class KernelPropertySpec extends AnyFunSuite {

  /** Run a ScalaCheck property under the raw runner (the repo only
    * depends on scalacheck itself) and surface failures to scalatest. */
  private def check(prop: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  private val asciiString: Gen[String] =
    Gen.listOf(Gen.choose(32.toChar, 126.toChar)).map(_.mkString)

  /** The definitional fold, code point by code point — what both the
    * old HOF form and the DuckDB list_reduce twin compute. */
  private def refFold(s: String, mult: Long): Long =
    s.codePoints().toArray.foldLeft(0L)((acc, c) => (acc * mult + c) % StrPolyHash.P)

  test("StrPolyHash.hash equals the definitional fold on ASCII strings") {
    check(forAll(asciiString) { s =>
      StrPolyHash.hash(s, 31L) == refFold(s, 31L)
    })
  }

  test("StrPolyHash.hash handles BMP unicode by code point") {
    val bmp: Gen[String] =
      Gen.listOf(Gen.frequency(
        5 -> Gen.choose(32.toChar, 126.toChar),
        1 -> Gen.choose(0x00A1.toChar, 0x2FFF.toChar))).map(_.mkString)
    check(forAll(bmp) { s => StrPolyHash.hash(s, 31L) == refFold(s, 31L) })
  }

  /** Strings over the FULL code-point range, astral plane included —
    * surrogate pairs must step by Character.charCount, and the UTF-8
    * (UTF8String) and UTF-16 (java String) views of the same text
    * must hash identically. Surrogate range excluded: lone surrogates
    * are not valid scalar values and UTF8String transcoding replaces
    * them (DuckDB would reject such input outright). */
  private val anyPlane: Gen[String] =
    Gen.listOf(Gen.frequency(
      4 -> Gen.choose(32, 126),
      1 -> Gen.choose(0x00A1, 0xD7FF),
      2 -> Gen.choose(0x10000, 0x10FFFF)))
      .map(_.flatMap(Character.toChars(_).toSeq).mkString)

  test("StrPolyHash.hash handles astral code points (4-byte UTF-8) by code point") {
    check(forAll(anyPlane) { s => StrPolyHash.hash(s, 31L) == refFold(s, 31L) })
  }

  test("StrPolyHash expression eval (UTF8String round-trip) matches the fold on astral input") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    check(forAll(anyPlane) { s =>
      // the interpreted Expression path decodes from UTF-8 bytes — the
      // exact representation executor rows carry
      val e = StrPolyHash(
        Literal(UTF8String.fromString(s), org.apache.spark.sql.types.StringType),
        Literal(31L))
      e.eval(null).asInstanceOf[Long] == refFold(s, 31L)
    })
  }

  test("StrPolyHash stays within [0, P) and empty hashes to 0") {
    assert(StrPolyHash.hash("", 31L) == 0L)
    check(forAll(asciiString) { s =>
      val h = StrPolyHash.hash(s, 31L)
      h >= 0L && h < StrPolyHash.P
    })
  }

  /** Reference sketch: the K smallest distinct values. */
  private def refSketch(vs: Seq[Long], k: Int): Seq[Long] =
    vs.distinct.sorted.take(k)

  private def sketchOf(agg: KmvAgg, vs: Seq[Long]): java.util.TreeSet[java.lang.Long] = {
    val buf = agg.createAggregationBuffer()
    // drive through serialize/deserialize like a real exchange would
    val bytes = agg.serialize(vs.foldLeft(buf) { (b, v) =>
      val row = org.apache.spark.sql.catalyst.InternalRow(v); agg.update(b, row)
    })
    agg.deserialize(bytes)
  }

  test("KmvAgg: update-then-merge equals the K smallest distinct, any split") {
    val agg = KmvAgg(
      org.apache.spark.sql.catalyst.expressions.BoundReference(
        0, org.apache.spark.sql.types.LongType, nullable = false), 8)
    val gen = for {
      vs <- Gen.listOf(Gen.choose(0L, 1000L))
      cut <- Gen.choose(0, math.max(vs.length, 1))
    } yield (vs, math.min(cut, vs.length))
    check(forAll(gen) { case (vs, cut) =>
      val (a, b) = vs.splitAt(cut)
      val merged = agg.merge(sketchOf(agg, a), sketchOf(agg, b))
      val got = agg.eval(merged)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toLongArray().toSeq
      got == refSketch(vs, 8)
    })
  }

  /** Reference signature: per-lane min of the universal hashes. */
  private def refSig(vs: Seq[Long], k: Int): Seq[Long] =
    (0 until k).map { i =>
      val lane = vs.map(h => (MinhashAgg.A(i) * h + MinhashAgg.B(i)) % MinhashAgg.P)
      if (lane.isEmpty) MinhashAgg.P else lane.min
    }

  private def sigOf(agg: MinhashAgg, vs: Seq[Long]): Array[Long] = {
    val buf = vs.foldLeft(agg.createAggregationBuffer()) { (b, v) =>
      agg.update(b, org.apache.spark.sql.catalyst.InternalRow(v))
    }
    // drive through serialize/deserialize like a real exchange would
    agg.deserialize(agg.serialize(buf))
  }

  private val minhashAgg = MinhashAgg(
    org.apache.spark.sql.catalyst.expressions.BoundReference(
      0, org.apache.spark.sql.types.LongType, nullable = false), 8)

  test("MinhashAgg: update-then-merge equals the per-lane min, any split") {
    val gen = for {
      vs <- Gen.listOf(Gen.choose(0L, MinhashAgg.P - 1))
      cut <- Gen.choose(0, math.max(vs.length, 1))
    } yield (vs, math.min(cut, vs.length))
    check(forAll(gen) { case (vs, cut) =>
      val (a, b) = vs.splitAt(cut)
      val merged = minhashAgg.merge(sigOf(minhashAgg, a), sigOf(minhashAgg, b))
      val got = minhashAgg.eval(merged)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toLongArray().toSeq
      got == refSig(vs, 8)
    })
  }

  test("MinhashAgg: merge is commutative and eval does not alias the buffer") {
    val gen = Gen.zip(Gen.listOf(Gen.choose(0L, 100000L)), Gen.listOf(Gen.choose(0L, 100000L)))
    check(forAll(gen) { case (a, b) =>
      val bufA = sigOf(minhashAgg, a)
      val ab = minhashAgg.eval(minhashAgg.merge(bufA.clone(), sigOf(minhashAgg, b)))
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toSeq
      val ba = minhashAgg.eval(minhashAgg.merge(sigOf(minhashAgg, b), bufA))
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toSeq
      ab == ba && ab == refSig(a ++ b, 8)
    })
  }

  test("KmvAgg: merge is commutative") {
    val agg = KmvAgg(
      org.apache.spark.sql.catalyst.expressions.BoundReference(
        0, org.apache.spark.sql.types.LongType, nullable = false), 5)
    val gen = Gen.zip(Gen.listOf(Gen.choose(0L, 100L)), Gen.listOf(Gen.choose(0L, 100L)))
    check(forAll(gen) { case (a, b) =>
      val ab = agg.eval(agg.merge(sketchOf(agg, a), sketchOf(agg, b)))
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toSeq
      val ba = agg.eval(agg.merge(sketchOf(agg, b), sketchOf(agg, a)))
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toSeq
      ab == ba && ab == refSketch(a ++ b, 5)
    })
  }

  /** The definitional gram-hash chain TokenGramHashes replaces:
    * ws-tokenize, join each n-gram with single spaces, char-fold. */
  private def refGrams(s: String, n: Int): Seq[Long] = {
    val toks = s.split(" ").filter(_.nonEmpty)
    if (toks.isEmpty) Seq.empty
    else if (toks.length < n) Seq(refFold(toks.mkString(" "), 31L))
    else toks.sliding(n).map(g => refFold(g.mkString(" "), 31L)).toSeq
  }

  private def kernelGrams(s: String, n: Int): Seq[Long] =
    graft.plans.TokenGramHashes.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString(s), n)
      .toLongArray().toSeq

  test("TokenGramHashes equals the gram-string fold chain (spaces, " +
    "short docs, empties included)") {
    // free spaces: leading/trailing/consecutive separators must
    // tokenize exactly like filter(split(s, \" \"), _ != \"\")
    val spacey: Gen[String] = Gen.listOf(Gen.frequency(
      3 -> Gen.choose(33.toChar, 126.toChar),
      1 -> Gen.const(' '))).map(_.mkString)
    check(forAll(Gen.zip(spacey, Gen.choose(1, 6))) { case (s, n) =>
      kernelGrams(s, n) == refGrams(s, n)
    })
  }

  test("TokenGramHashes handles astral code points like the chain") {
    val scalar: Gen[Int] = Gen.frequency(
      6 -> Gen.choose(33, 126),
      1 -> Gen.const(32),
      1 -> Gen.choose(0x10000, 0x14000))
    val astral: Gen[String] =
      Gen.listOf(scalar).map(_.flatMap(Character.toChars(_)).mkString)
    check(forAll(Gen.zip(astral, Gen.choose(2, 4))) { case (s, n) =>
      kernelGrams(s, n) == refGrams(s, n)
    })
  }

  test("MaxSimScore.compute equals the definitional double-loop on random arrays") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    val arrGen = for {
      d <- Gen.choose(1, 6)
      ta <- Gen.choose(0, 8)
      tb <- Gen.choose(0, 8)
      a <- Gen.listOfN(ta * d, Gen.choose(-10000L, 10000L))
      b <- Gen.listOfN(tb * d, Gen.choose(-10000L, 10000L))
    } yield (d, a.toArray, b.toArray)
    def ref(a: Array[Long], b: Array[Long], d: Int): Long = {
      val ta = a.length / d; val tb = b.length / d
      if (tb == 0) 0L
      else (0 until ta).map { i =>
        (0 until tb).map { j =>
          (0 until d).map(t => a(i * d + t) * b(j * d + t)).sum
        }.max
      }.sum
    }
    check(forAll(arrGen) { case (d, a, b) =>
      graft.plans.MaxSimScore.compute(
        ArrayData.toArrayData(a), ArrayData.toArrayData(b), d) == ref(a, b, d)
    })
  }

  test("CdcBoundaries equals the per-position substring-hash filter (ASCII + astral)") {
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.catalyst.util.ArrayData
    val gen = for {
      s <- Gen.frequency(
        4 -> asciiString,
        1 -> Gen.listOf(Gen.oneOf(Gen.choose(32.toChar, 126.toChar),
          Gen.const('\u00e9'), Gen.const('\ud83d'))).map(_.filter(
          c => !Character.isSurrogate(c)).mkString + "\ud83d\ude00"),
      )
      w <- Gen.choose(1, 6)
      mask <- Gen.oneOf(2L, 8L, 32L)
    } yield (s, w, mask)
    def ref(s: String, w: Int, mask: Long): Seq[Long] = {
      val cps = s.codePoints().toArray
      if (cps.length <= w) Seq.empty
      else (w to cps.length - 1).filter { i =>
        val h = cps.slice(i - w, i).foldLeft(0L)((a, c) => (a * 31 + c) % 1000000007L)
        h % mask == 0
      }.map(_.toLong)
    }
    check(forAll(gen) { case (s, w, mask) =>
      val got = graft.plans.CdcBoundaries
        .compute(UTF8String.fromString(s), w, mask).toLongArray().toSeq
      got == ref(s, w, mask)
    })
  }

  test("BandEnergies.compute equals the per-band positional fold " +
    "(ASCII, spaces, astral code points)") {
    val scalar: Gen[Int] = Gen.frequency(
      6 -> Gen.choose(33, 126),
      1 -> Gen.const(32),
      1 -> Gen.choose(0x10000, 0x14000))
    val gen = for {
      s <- Gen.listOf(scalar).map(_.flatMap(Character.toChars(_)).mkString)
      bands <- Gen.choose(1, 6)
    } yield (s, bands)
    // the definitional form the HOF computed: per band b, sum of
    // (cp − 32)² over 1-based code-point positions p ≡ b+1 (mod bands)
    def ref(s: String, bands: Int): Seq[Long] = {
      val cps = s.codePoints().toArray
      (0 until bands).map { b =>
        (b until cps.length by bands)
          .map(p => { val d = cps(p).toLong - 32L; d * d }).sum
      }
    }
    check(forAll(gen) { case (s, bands) =>
      graft.plans.BandEnergies.compute(s, bands).toSeq == ref(s, bands)
    })
  }

  private val mediaPayload: Gen[String] = {
    val scalar: Gen[Int] = Gen.frequency(
      6 -> Gen.choose(33, 126),
      1 -> Gen.const(32),
      1 -> Gen.choose(0x10000, 0x14000))
    Gen.listOf(scalar).map(_.flatMap(Character.toChars(_)).mkString)
  }

  test("CpSum.compute equals the per-code-point ascii fold " +
    "(ASCII, spaces, astral code points)") {
    check(forAll(mediaPayload) { s =>
      graft.plans.CpSum.compute(s) ==
        s.codePoints().toArray.map(_.toLong).sum
    })
  }

  test("LapEnergy.compute equals the interior second-difference fold " +
    "(ASCII, spaces, astral code points; < 3 code points gives 0)") {
    // the definitional form the HOF computed: for 1-based positions
    // i = 2 .. n-1 over the code-point array, Σ (c[i−1] − 2c[i] + c[i+1])²
    def ref(s: String): Long = {
      val cps = s.codePoints().toArray.map(_.toLong)
      if (cps.length < 3) 0L
      else (1 to cps.length - 2).map { i =>
        val d = cps(i - 1) - 2L * cps(i) + cps(i + 1); d * d
      }.sum
    }
    check(forAll(mediaPayload) { s =>
      graft.plans.LapEnergy.compute(s) == ref(s)
    })
    assert(graft.plans.LapEnergy.compute("") == 0L)
    assert(graft.plans.LapEnergy.compute("ab") == 0L)
  }

  test("TokenGrams equals the split/slice/concat_ws/array_distinct chain " +
    "(spaces, short docs, empties, astral code points)") {
    // the definitional split/slice/concat_ws chain (on pre-lowercased
    // text): ws-tokenize, n-gram join by single spaces, keep-first
    // distinct; < n tokens collapse to one whole-doc shingle ("" for
    // an empty doc)
    def ref(s: String, n: Int): Seq[String] = {
      val toks = s.split(" ").filter(_.nonEmpty).toSeq
      if (toks.length < n) Seq(toks.mkString(" "))
      else toks.sliding(n).map(_.mkString(" ")).toSeq.distinct
    }
    val scalar: Gen[Int] = Gen.frequency(
      5 -> Gen.choose(33, 126),
      2 -> Gen.const(32),
      1 -> Gen.choose(0x10000, 0x14000))
    val gen = for {
      s <- Gen.listOf(scalar).map(_.flatMap(Character.toChars(_)).mkString)
      n <- Gen.choose(1, 5)
    } yield (s, n)
    check(forAll(gen) { case (s, n) =>
      val got = graft.plans.TokenGrams
        .compute(org.apache.spark.unsafe.types.UTF8String.fromString(s), n)
        .toArray[org.apache.spark.unsafe.types.UTF8String](
          org.apache.spark.sql.types.StringType).map(_.toString).toSeq
      got == ref(s, n)
    })
  }

  test("PhashSketch.compute equals the explode/aggregate/HOF band chain " +
    "on ASCII payloads; malformed bytes throw like strict decode") {
    // the definitional chain: one row per byte i with
    // slice = floor((i·bits)::double / len), v = ascii(decode(byte)),
    // grouped to (slice, sv, nv) cells, st = Σsv, then per present
    // band (ascending; keep-first of the slice-sorted distinct) the
    // fold Σ [sv·len > st·nv] << (bandBits−1 − slice % bandBits)
    def ref(bytes: Array[Byte], bits: Int, bandBits: Int): (Seq[Long], Seq[Long]) = {
      val n = bytes.length
      val cells = bytes.indices
        .map(i => (math.floor((i * bits).toDouble / n).toLong, bytes(i).toLong))
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (sl, vs) => (sl, vs.map(_._2).sum, vs.length.toLong) }
      val st = cells.map(_._2).sum
      val byBand = cells.groupBy(_._1 / bandBits).toSeq.sortBy(_._1)
      (byBand.map(_._1),
        byBand.map { case (_, cs) =>
          cs.map { case (sl, sv, nv) =>
            if (sv * n > st * nv) 1L << (bandBits - 1 - (sl % bandBits).toInt) else 0L
          }.sum
        })
    }
    val gen = for {
      bytes <- Gen.nonEmptyListOf(Gen.choose(0, 127)).map(_.map(_.toByte).toArray)
      bandBits <- Gen.choose(1, 8)
      nBands <- Gen.choose(1, 8)
    } yield (bytes, nBands * bandBits, bandBits)
    check(forAll(gen) { case (bytes, bits, bandBits) =>
      val row = graft.plans.PhashSketch.compute(bytes, bits, bandBits)
      val got = (row.getArray(0).toLongArray().toSeq, row.getArray(1).toLongArray().toSeq)
      got == ref(bytes, bits, bandBits)
    })
    // a lone byte ≥ 0x80 is malformed single-byte UTF-8: the chain's
    // strict decode throws, so the kernel must too, not silently score
    intercept[IllegalArgumentException] {
      graft.plans.PhashSketch.compute(Array[Byte](65, -17, 66), 64, 8)
    }
  }

  test("TrSurvPairs equals the posexplode + rlike/stopword filter + " +
    "banded-lead chain (survivors, pair band, order, multiplicity)") {
    val stops = Set("the", "and", "for")
    val hs = new java.util.HashSet[String]()
    stops.foreach(hs.add)
    def ref(s: String, minLen: Int, window: Int)
        : (Seq[String], Seq[(String, String)]) = {
      val surv = s.split(" ").filter(_.nonEmpty).zipWithIndex
        .filter { case (t, _) =>
          t.length >= minLen && t.forall(c => c >= 'a' && c <= 'z') &&
            !stops.contains(t)
        }
      val toks = surv.map(_._1).toSeq
      val pairs = for {
        a <- surv.indices
        b <- (a + 1) until surv.length
        if surv(b)._2 - surv(a)._2 <= window && surv(a)._1 != surv(b)._1
      } yield (surv(a)._1, surv(b)._1)
      (toks, pairs)
    }
    val word: Gen[String] = Gen.frequency(
      4 -> Gen.choose(1, 5).flatMap(n =>
        Gen.listOfN(n, Gen.choose('a', 'e')).map(_.mkString)),
      1 -> Gen.const("the"), 1 -> Gen.const("and"),
      1 -> Gen.const("x1"), 1 -> Gen.const(""))
    val gen = for {
      ws <- Gen.listOf(word)
      minLen <- Gen.choose(1, 4)
      window <- Gen.choose(1, 4)
    } yield (ws.mkString(" "), minLen, window)
    check(forAll(gen) { case (s, minLen, window) =>
      val row = graft.plans.TrSurvPairs.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(s),
        minLen, window, hs)
      val toks = {
        val a = row.getArray(0)
        (0 until a.numElements()).map(a.getUTF8String(_).toString)
      }
      val pairs = {
        val a = row.getArray(1)
        (0 until a.numElements()).map { i =>
          val p = a.getStruct(i, 2)
          (p.getUTF8String(0).toString, p.getUTF8String(1).toString)
        }
      }
      (toks, pairs) == ref(s, minLen, window)
    })
  }

  test("TrRank equals a direct replay of the relational rank algebra " +
    "(multi-edges, ties, isolated nodes, empty docs)") {
    import org.apache.spark.unsafe.types.UTF8String
    def ref(toks: Seq[String], pairs: Seq[(String, String)], rounds: Int,
            topK: Int, scale: Long, base: Long): Seq[(String, Int, Long)] = {
      val sym = (pairs ++ pairs.map(p => (p._2, p._1)))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val wdeg = sym.toSeq.groupBy(_._1._1).view
        .mapValues(_.map(_._2).sum).toMap
      val nodes = toks.distinct
      var r: Map[String, Long] =
        nodes.map(n => n -> (if (wdeg.contains(n)) scale else base)).toMap
      for (_ <- 1 to rounds) {
        val m = sym.toSeq.groupBy(_._1._2).view.mapValues(_.map {
          case ((src, _), w) => w * (r(src) / wdeg(src))
        }.sum).toMap
        r = r.map { case (n, v) =>
          n -> (if (wdeg.contains(n)) base + (85L * m.getOrElse(n, 0L)) / 100L
                else v)
        }
      }
      nodes.sortBy(n => (-r(n), n)).take(topK)
        .zipWithIndex.map { case (n, i) => (n, i + 1, r(n)) }
    }
    val word: Gen[String] = Gen.oneOf("aa", "bb", "cc", "dd", "ee")
    val gen = for {
      toks <- Gen.listOf(word)
      // pairs drawn from the token list so the TrSurvPairs invariant
      // (pair endpoints are survivors, src != dst) holds
      pairs <- Gen.listOf(Gen.zip(Gen.oneOf(word, word), word))
        .map(_.filter { case (a, b) => a != b }
          .filter { case (a, b) => toks.contains(a) && toks.contains(b) })
      rounds <- Gen.choose(1, 3)
      topK <- Gen.choose(1, 5)
    } yield (toks, pairs, rounds, topK)
    check(forAll(gen) { case (toks, pairs, rounds, topK) =>
      val sp = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](
          new org.apache.spark.sql.catalyst.util.GenericArrayData(
            toks.map(UTF8String.fromString).toArray[AnyRef]),
          new org.apache.spark.sql.catalyst.util.GenericArrayData(
            pairs.map(p =>
              new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
                Array[Any](UTF8String.fromString(p._1),
                  UTF8String.fromString(p._2)))).toArray[AnyRef])))
      val arr = graft.plans.TrRank.compute(sp, rounds, topK, 1000000L, 150000L)
      val got = (0 until arr.numElements()).map { i =>
        val s = arr.getStruct(i, 3)
        (s.getUTF8String(0).toString, s.getInt(1), s.getLong(2))
      }
      got == ref(toks, pairs, rounds, topK, 1000000L, 150000L)
    })
  }

  test("TokPairs equals sliding adjacent pairs; BpeMerge equals the " +
    "sequential greedy scanner (runs, overlaps, empties)") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def toArr(ts: Seq[String]): ArrayData =
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        ts.map(UTF8String.fromString).toArray[AnyRef])
    def pairsOf(a: ArrayData): Seq[(String, String)] =
      (0 until a.numElements()).map { i =>
        val r = a.getStruct(i, 2)
        (r.getUTF8String(0).toString, r.getUTF8String(1).toString)
      }
    def strsOf(a: ArrayData): Seq[String] =
      (0 until a.numElements()).map(a.getUTF8String(_).toString)
    // run-heavy 2-letter alphabet: the worst case for greedy overlap
    val tokGen = Gen.listOf(Gen.frequency(2 -> Gen.const("a"),
      1 -> Gen.const("b"), 1 -> Gen.const("a_b")))
    def sequential(d: List[String], l: String, r: String): List[String] = {
      val out = List.newBuilder[String]
      var i = 0
      while (i < d.length) {
        if (i + 1 < d.length && d(i) == l && d(i + 1) == r) {
          out += s"${l}_$r"; i += 2
        } else { out += d(i); i += 1 }
      }
      out.result()
    }
    check(forAll(tokGen) { ts =>
      pairsOf(graft.plans.TokPairs.compute(toArr(ts))) ==
        (if (ts.length < 2) Seq.empty else ts.sliding(2).map(p => (p(0), p(1))).toSeq)
    })
    val mergeGen = Gen.zip(tokGen,
      Gen.oneOf(("a", "a"), ("a", "b"), ("b", "a"), ("a_b", "a")))
    check(forAll(mergeGen) { case (ts, (l, r)) =>
      strsOf(graft.plans.BpeMerge.compute(toArr(ts),
        UTF8String.fromString(l), UTF8String.fromString(r))) ==
        sequential(ts, l, r)
    })
  }

  test("TokenGramsAll equals the zip_with instance chain (multiplicity " +
    "kept, order kept, < n tokens -> empty, astral code points)") {
    // the definitional chain: ws-tokenize, sliding n-grams joined by
    // single spaces, ALL instances in document order; the size guard
    // leaves docs under n tokens gram-less
    def ref(s: String, n: Int): Seq[String] = {
      val toks = s.split(" ").filter(_.nonEmpty).toSeq
      if (toks.length < n) Seq.empty
      else toks.sliding(n).map(_.mkString(" ")).toSeq
    }
    val scalar: Gen[Int] = Gen.frequency(
      5 -> Gen.choose(33, 126),
      2 -> Gen.const(32),
      1 -> Gen.choose(0x10000, 0x14000))
    val gen = for {
      s <- Gen.listOf(scalar).map(_.flatMap(Character.toChars(_)).mkString)
      n <- Gen.choose(1, 5)
    } yield (s, n)
    check(forAll(gen) { case (s, n) =>
      val got = graft.plans.TokenGramsAll
        .compute(org.apache.spark.unsafe.types.UTF8String.fromString(s), n)
        .toArray[org.apache.spark.unsafe.types.UTF8String](
          org.apache.spark.sql.types.StringType).map(_.toString).toSeq
      got == ref(s, n)
    })
  }

  test("PatchSums.compute equals the explode/aggregate patch chain on " +
    "ASCII payloads; malformed bytes throw like strict decode") {
    def ref(bytes: Array[Byte], n: Int): Seq[(Long, Long, Long)] = {
      val len = bytes.length
      bytes.indices
        .map(i => (math.floor((i * n).toDouble / len).toLong, bytes(i).toLong))
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (k, vs) => (k, vs.map(_._2).sum, vs.length.toLong) }
    }
    val gen = for {
      bytes <- Gen.nonEmptyListOf(Gen.choose(0, 127)).map(_.map(_.toByte).toArray)
      n <- Gen.choose(1, 24)
    } yield (bytes, n)
    check(forAll(gen) { case (bytes, n) =>
      val arr = graft.plans.PatchSums.compute(bytes, n)
      val got = (0 until arr.numElements()).map { i =>
        val r = arr.getStruct(i, 3)
        (r.getLong(0), r.getLong(1), r.getLong(2))
      }
      got == ref(bytes, n)
    })
    intercept[IllegalArgumentException] {
      graft.plans.PatchSums.compute(Array[Byte](65, -17, 66), 16)
    }
  }

  test("cp_sum / lap_energy expression eval (UTF8String round-trip) " +
    "matches compute on astral input") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    check(forAll(mediaPayload) { s =>
      val lit = Literal(UTF8String.fromString(s),
        org.apache.spark.sql.types.StringType)
      graft.plans.CpSum(lit).eval(null).asInstanceOf[Long] ==
        graft.plans.CpSum.compute(s) &&
      graft.plans.LapEnergy(lit).eval(null).asInstanceOf[Long] ==
        graft.plans.LapEnergy.compute(s)
    })
  }
}
