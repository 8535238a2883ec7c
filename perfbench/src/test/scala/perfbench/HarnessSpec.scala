package perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  private val small = Mirror.Config(days = 4, rowsPerDay = 200, faultShare = 0.5,
    transientFailures = 2, missingDays = 1)

  private def digestTree(dir: Path): Seq[(String, String)] = {
    val s = Files.list(dir)
    try s.sorted().toArray.toSeq.map(_.asInstanceOf[Path]).map { p =>
      p.getFileName.toString ->
        MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
    } finally s.close()
  }

  test("the same seed writes byte-identical mirrors; another seed does not") {
    val tmp = Files.createTempDirectory("perfbench-mirror")
    Mirror.write(Mirror.fresh(7, small), tmp.resolve("a"))
    Mirror.write(Mirror.fresh(7, small), tmp.resolve("b"))
    Mirror.write(Mirror.fresh(8, small), tmp.resolve("c"))
    val a = digestTree(tmp.resolve("a"))
    assert(a.size == small.days - small.missingDays)
    assert(a == digestTree(tmp.resolve("b")))
    assert(a != digestTree(tmp.resolve("c")))
  }

  test("a delivery withholds its last days and plans faults from the seed") {
    val d = Mirror.fresh(7, small)
    assert(d.withheld == Set(d.days.last.file))
    assert(d.faults.values.forall(_ == 2))
    assert(d.inputRows == (small.days - 1) * small.rowsPerDay)
    assert(Mirror.fresh(7, small).faults == d.faults)
  }

  test("expected table: latest created_at per key, missing keys and withheld days dropped") {
    val (base, again) = Mirror.redelivery(3, small.copy(dupShare = 0.3))
    val exp = Mirror.expected(Seq(base, again))
    val uuid = Mirror.OutCols.indexOf("uuid")
    val created = Mirror.OutCols.indexOf("created_at")
    val all = (base.published ++ again.published).flatMap(_.recs).filter(_.key.nonEmpty)
    assert(exp.map(_(uuid)).distinct.size == exp.size)
    assert(exp.size == all.map(_.key).distinct.size)
    val latest = all.groupBy(_.key).map { case (k, rs) => k -> rs.maxBy(_.createdSec) }
    exp.foreach { row =>
      val r = latest(row(uuid).asInstanceOf[String])
      assert(row(created) == r.parsed(created))
    }
    // the redelivery revisits keys of the first load, newer and older
    val baseKeys = base.days.flatMap(_.recs).map(_.key).toSet
    val revisits = again.published.flatMap(_.recs).filter(r => baseKeys(r.key))
    assert(revisits.nonEmpty)
    assert(exp.size < all.size)
    val withheldKeys = again.days.filter(d => again.withheld(d.file)).flatMap(_.recs).map(_.key).toSet --
      all.map(_.key).toSet
    assert(withheldKeys.forall(k => !exp.exists(_(uuid) == k)))
  }

  test("versions of one key never share a created_at") {
    val (base, again) = Mirror.redelivery(5, small.copy(dupShare = 0.5))
    val recs = (base.days ++ again.days).flatMap(_.recs).filter(_.key.nonEmpty)
    recs.groupBy(_.key).values.foreach(rs => assert(rs.map(_.createdSec).distinct.size == rs.size))
  }

  test("the rows digest ignores row order and sees a changed value") {
    val rows = Mirror.expected(Seq(Mirror.fresh(9, small)))
    val d = IngestBench.rowsDigest(rows.iterator.map(_.toSeq))
    assert(d._1 == rows.size)
    // Spark rows read back carry the same values in a different Seq type
    val asRows = rows.reverse.map(r => org.apache.spark.sql.Row.fromSeq(r.toSeq))
    assert(IngestBench.rowsDigest(asRows.iterator.map(_.toSeq)) == d)
    val changed = rows.updated(0, rows(0).updated(Mirror.OutCols.indexOf("category"), "other"))
    assert(IngestBench.rowsDigest(changed.iterator.map(_.toSeq)) != d)
  }

  test("median, nearest-rank percentile, samples beyond it, ratio") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 0.9) == 90.0)
    assert(Stats.percentile(xs, 0.5) == 50.0)
    assert(Stats.percentile(Seq(5.0), 0.9) == 5.0)
    assert(Stats.beyond(xs, 0.9) == 10)
    assert(Stats.beyond((1 to 20).map(_.toDouble), 0.9) == 2)
    assert(Stats.ratio(1, 4) == 0.25)
    assert(Stats.ratio(1, 0) == 0.0)
    intercept[IllegalArgumentException](Stats.median(Nil))
  }

  test("span self time subtracts the union of its children") {
    val p = Span(1, "p", 0L, 10000000000L, 0, "r")
    val kids = Seq(
      Span(2, "a", 1000000000L, 4000000000L, 1, "r"),
      Span(3, "b", 3000000000L, 5000000000L, 1, "r"), // overlaps a
      Span(4, "c", 9000000000L, 12000000000L, 1, "r")) // runs past the parent
    assert(math.abs(Span.selfSeconds(p, kids) - 5.0) < 1e-9)
    assert(Span.selfSeconds(p, Nil) == 10.0)
  }

  test("the tracer nests spans under the span that caused them") {
    val t = new Tracer(enabled = true, "run")
    t.span("outer") { Thread.sleep(30); t.span("inner")(Thread.sleep(40)) }
    val outer = t.all.find(_.name == "outer").get
    val inner = t.all.find(_.name == "inner").get
    assert(inner.parent == outer.id && outer.parent == 0 && inner.run == "run")
    assert(inner.startNs >= outer.startNs && inner.endNs <= outer.endNs)
    assert(math.abs(Span.selfSeconds(outer, Seq(inner)) - (outer.seconds - inner.seconds)) < 1e-9)
    val off = new Tracer(enabled = false, "run")
    assert(off.span("x")(42) == 42 && off.all.isEmpty)
  }
}
