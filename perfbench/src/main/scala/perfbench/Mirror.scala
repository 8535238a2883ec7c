package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable

/** Seeded generator of a local mirror of the daily DSA dumps
  * (`sor-discord-netherlands-bv-YYYY-MM-DD-full.zip`), written only
  * under the benchmark's own work directory.
  *
  * Every CSV row is generated together with the typed value the
  * program's parser should produce for it, so the expected final
  * table is computed here in plain code and never through the
  * program's own last-write-wins. Each version of a key carries a
  * distinct `created_at`, which makes "latest `created_at` wins" the
  * whole ordering rule.
  */
object Mirror {

  /** Generator knobs. `faultShare` of the URLs fail transiently
    * `transientFailures` times before succeeding; `missingDays` are
    * listed in the manifest but never published. */
  final case class Config(
      days: Int,
      rowsPerDay: Int,
      dupShare: Double = 0.10,
      textLen: Int = 60,
      malformedShare: Double = 0.15,
      missingUuidShare: Double = 0.01,
      faultShare: Double = 0.0,
      transientFailures: Int = 0,
      missingDays: Int = 0)

  /** CSV header (the reference's 36 keys) and its parser kind. */
  val Fields: Seq[(String, Char)] = Seq(
    "uuid" -> 'U', "decision_visibility" -> 'A', "decision_visibility_other" -> 'S',
    "end_date_visibility_restriction" -> 'T', "decision_monetary" -> 'A',
    "decision_monetary_other" -> 'S', "end_date_monetary_restriction" -> 'T',
    "decision_provision" -> 'A', "end_date_service_restriction" -> 'T',
    "decision_account" -> 'A', "end_date_account_restriction" -> 'T',
    "account_type" -> 'S', "decision_ground" -> 'S', "decision_ground_reference_url" -> 'S',
    "illegal_content_legal_ground" -> 'S', "illegal_content_explanation" -> 'X',
    "incompatible_content_ground" -> 'S', "incompatible_content_explanation" -> 'X',
    "category" -> 'S', "category_addition" -> 'S', "category_specification" -> 'A',
    "category_specification_other" -> 'S', "content_type" -> 'A', "content_type_other" -> 'S',
    "content_language" -> 'S', "content_date" -> 'T', "territorial_scope" -> 'A',
    "application_date" -> 'T', "decision_facts" -> 'X', "source_type" -> 'S',
    "source_identity" -> 'S', "automated_detection" -> 'B', "automated_decision" -> 'S',
    "platform_name" -> 'S', "platform_uid" -> 'P', "created_at" -> 'C')

  val Header: Seq[String] = Fields.map(_._1)

  /** The parsed table's columns: the 36 fields with platform_uid
    * followed by its three derived columns, then the never-parsed
    * `incompatible_content_illegal`. */
  val OutCols: Seq[String] = Fields.flatMap {
    case (n, 'P') => Seq(n, "snowflake_ms", "entity_id", "entity_type")
    case (n, _) => Seq(n)
  } :+ "incompatible_content_illegal"

  /** SQL type of each output column. */
  val OutTypes: Seq[String] = OutCols.map {
    case "uuid" => "VARCHAR(64)"
    case "automated_detection" | "incompatible_content_illegal" => "BOOLEAN"
    case "snowflake_ms" => "BIGINT"
    case _ => "VARCHAR(2048)"
  }

  val DiscordEpochMs = 1420070400000L
  private val TsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val Words = Vector("account", "spam", "notice", "removed", "user", "server",
    "policy", "content", "illegal", "hate", "scam", "report", "message", "channel",
    "violation", "terms", "minor", "safety", "review", "appeal", "graphic", "fraud")

  /** One generated CSV row: its raw fields, the parsed row the program
    * should derive from it, and its key and version time. */
  final case class Rec(raw: Array[String], parsed: Array[Any], key: String, createdSec: Long)

  /** One published (or withheld) daily archive. */
  final case class Day(date: LocalDate, recs: Vector[Rec], nested: Boolean, reversed: Boolean) {
    def file: String = Mirror.fileName(date)
  }

  def fileName(d: LocalDate): String = s"sor-discord-netherlands-bv-$d-full.zip"

  /** Generates day archives. `pool` holds keys already published
    * (by an earlier delivery) that rows may revisit with
    * probability `revisit`; `used` records every (key, created_at)
    * second across deliveries so versions of a key never tie. */
  final class Gen(seed: Long, cfg: Config) {
    private val rnd = new SplittableRandom(seed)
    private val used = mutable.HashMap.empty[String, mutable.Set[Long]]
    private val keys = mutable.ArrayBuffer.empty[String]
    private var nextKey = 0L

    private def newKey(): String = {
      nextKey += 1
      val k = new java.util.UUID(seed * 0x9E3779B97F4A7C15L + nextKey, nextKey * 0xBF58476D1CE4E5B9L).toString
      keys += k
      k
    }

    private def word(): String = Words(rnd.nextInt(Words.size))
    private def pick(p: Double): Boolean = rnd.nextDouble() < p
    private def fmt(sec: Long): String = LocalDateTime.ofEpochSecond(sec, 0, ZoneOffset.UTC).format(TsFmt)

    private def text(len: Int): String = {
      val sb = new StringBuilder
      while (sb.length < len) {
        if (sb.nonEmpty) sb.append(if (rnd.nextInt(9) == 0) ", " else " ")
        sb.append(word())
      }
      if (rnd.nextInt(12) == 0) sb.append(" \"quoted\"\nsecond line")
      sb.toString
    }

    /** (raw, parsed values) for one field of kind `k`. */
    private def field(k: Char, daySec: Long): (String, Seq[Any]) = {
      val bad = pick(cfg.malformedShare)
      k match {
        case 'S' => val w = word() + "_" + rnd.nextInt(50); (w, Seq(w))
        case 'X' => val t = text(cfg.textLen); (t, Seq(t))
        case 'A' => rnd.nextInt(5) match {
          case _ if bad => ("[bad", Seq("[bad"))
          case 0 => val (a, b) = (word(), word()); (s"""["$a","$b"]""", Seq(s"$a|$b"))
          case 1 => val a = word(); (s"""["$a"]""", Seq(a))
          case 2 => val a = word(); (a, Seq(a))
          case 3 => ("", Seq(null))
          case _ => ("[]", Seq(""))
        }
        case 'T' =>
          if (bad) (if (rnd.nextBoolean()) "bogus" else "31/12/2024", Seq(null))
          else if (pick(0.1)) ("", Seq(null))
          else { val t = fmt(daySec + rnd.nextInt(90 * 86400)); (t, Seq(t)) }
        case 'B' => rnd.nextInt(5) match {
          case 0 => ("Yes", Seq(true))
          case 1 => ("no", Seq(false))
          case 2 => ("YES", Seq(true))
          case 3 => ("dunno", Seq(null))
          case _ => ("", Seq(null))
        }
        case 'P' =>
          if (bad) ("oneword", Seq("oneword", null, null, null))
          else {
            val sf = (rnd.nextLong() >>> 2) & 0x3FFFFFFFFFFFFFFFL
            val id = rnd.nextInt(1000000).toString
            val raw = s"$sf-$id-user"
            (raw, Seq(raw, (sf >> 22) + DiscordEpochMs, id, "user"))
          }
      }
    }

    /** A fresh row for `key` (or a missing-uuid row when `key` is
      * empty) dated within `date`. */
    private def rec(key: String, date: LocalDate): Rec = {
      val daySec = date.toEpochDay * 86400L
      var created = daySec + rnd.nextInt(86400)
      if (key.nonEmpty) {
        val s = used.getOrElseUpdate(key, mutable.Set.empty[Long])
        while (s.contains(created)) created += 1
        s += created
      }
      val raw = new Array[String](Fields.size)
      val parsed = mutable.ArrayBuffer.empty[Any]
      Fields.zipWithIndex.foreach { case ((_, k), i) =>
        val (r, p) = k match {
          case 'U' => (key, Seq(key))
          case 'C' => val t = fmt(created); (t, Seq(t))
          case _ => field(k, daySec)
        }
        raw(i) = r
        parsed ++= p
      }
      parsed += null // incompatible_content_illegal
      Rec(raw, parsed.toArray, key, created)
    }

    /** One day's rows: `revisit` of them reuse a key from `pool`,
      * `cfg.dupShare` reuse a key seen earlier in this delivery,
      * the rest are new keys. */
    def day(date: LocalDate, pool: IndexedSeq[String], revisit: Double, index: Int): Day = {
      val start = keys.size
      val recs = Vector.fill(cfg.rowsPerDay) {
        val key =
          if (pick(cfg.missingUuidShare)) ""
          else if (pool.nonEmpty && pick(revisit)) pool(rnd.nextInt(pool.size))
          else if (keys.size > start && pick(cfg.dupShare)) keys(start + rnd.nextInt(keys.size - start))
          else if (keys.nonEmpty && pick(cfg.dupShare)) keys(rnd.nextInt(keys.size))
          else newKey()
        rec(key, date)
      }
      Day(date, recs, nested = index % 3 == 1, reversed = index % 4 == 2)
    }

    def daysFrom(first: LocalDate, n: Int, pool: IndexedSeq[String], revisit: Double): Vector[Day] =
      Vector.tabulate(n)(i => day(first.plusDays(i.toLong), pool, revisit, i))

    def allKeys: IndexedSeq[String] = keys.toIndexedSeq
  }

  /** A generated delivery: the days in the manifest, the subset
    * withheld (never published), and the per-URL transient-failure
    * plan (file name → failures before success). */
  final case class Delivery(days: Vector[Day], withheld: Set[String], faults: Map[String, Int]) {
    def first: LocalDate = days.head.date
    def last: LocalDate = days.last.date
    def published: Vector[Day] = days.filterNot(d => withheld(d.file))
    def inputRows: Long = published.map(_.recs.size.toLong).sum
  }

  val FirstDay: LocalDate = LocalDate.parse("2024-09-01")

  /** Picks withheld days and faulty URLs for a delivery, seeded. */
  def plan(seed: Long, days: Vector[Day], cfg: Config): Delivery = {
    val rnd = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val withheld = days.takeRight(cfg.missingDays).map(_.file).toSet
    val faults = days.map(_.file).filter(_ => rnd.nextDouble() < cfg.faultShare)
      .map(_ -> cfg.transientFailures).toMap
    Delivery(days, withheld, faults)
  }

  /** A fresh load: `cfg.days` new days. */
  def fresh(seed: Long, cfg: Config): Delivery = {
    val g = new Gen(seed, cfg)
    plan(seed, g.daysFrom(FirstDay, cfg.days, IndexedSeq.empty, 0.0), cfg)
  }

  /** A load (`base`, already in the table) and its redelivery: the
    * same days again plus `cfg.days / 2` new ones, where half of the
    * rows revisit keys of the first load, newer or older. */
  def redelivery(seed: Long, cfg: Config): (Delivery, Delivery) = {
    val g = new Gen(seed, cfg)
    val base = g.daysFrom(FirstDay, cfg.days, IndexedSeq.empty, 0.0)
    val pool = g.allKeys
    val again = g.daysFrom(FirstDay, cfg.days + cfg.days / 2, pool, 0.5)
    (Delivery(base, Set.empty, Map.empty), plan(seed, again, cfg))
  }

  /** The expected table after loading `deliveries` in order: per
    * non-empty key, the version with the latest `created_at`. */
  def expected(deliveries: Seq[Delivery]): Vector[Array[Any]] = {
    val best = mutable.HashMap.empty[String, Rec]
    for (d <- deliveries; day <- d.published; r <- day.recs if r.key.nonEmpty) {
      best.get(r.key) match {
        case Some(cur) if cur.createdSec >= r.createdSec =>
        case _ => best(r.key) = r
      }
    }
    best.valuesIterator.map(_.parsed).toVector
  }

  private def quote(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  private def csv(day: Day): Array[Byte] = {
    val order = if (day.reversed) Fields.indices.reverse else Fields.indices
    val sb = new StringBuilder
    sb.append(order.map(Header).mkString(",")).append('\n')
    day.recs.foreach { r => sb.append(order.map(i => quote(r.raw(i))).mkString(",")).append('\n') }
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  private val EntryTime = LocalDateTime.of(2024, 1, 1, 0, 0)

  private def zip(name: String, bytes: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val z = new ZipOutputStream(out)
    val e = new ZipEntry(name)
    e.setTimeLocal(EntryTime)
    z.putNextEntry(e)
    z.write(bytes)
    z.closeEntry()
    z.close()
    out.toByteArray
  }

  /** Writes the published days of `d` into `dir` (created), nested
    * archives holding an inner zip. Returns the bytes written. */
  def write(d: Delivery, dir: Path): Long = {
    Files.createDirectories(dir)
    d.published.map { day =>
      val stem = day.file.stripSuffix(".zip")
      val inner = zip(s"$stem.csv", csv(day))
      val bytes = if (day.nested) zip(s"$stem-inner.zip", inner) else inner
      Files.write(dir.resolve(day.file), bytes)
      bytes.length.toLong
    }.sum
  }
}
