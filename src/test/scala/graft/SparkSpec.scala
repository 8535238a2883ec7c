package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared one-session-per-JVM base for all specs (forked sbt test JVM). */
object SharedSpark {
  lazy val spark: SparkSession = GraftSession.local(4)
  val sf: String = "/root/testdata/sf0.001"

  /** Run `f` once with whole-stage codegen (the shipped path) and once
    * fully interpreted (no whole-stage, no expression codegen — the
    * path a higher-order-function lambda body takes), restoring the
    * session's settings after each. */
  def inBothPaths[T](f: Boolean => T): Seq[T] = {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    Seq(true, false).map { codegen =>
      val saved = keys.map(k => k -> spark.conf.getOption(k))
      spark.conf.set(keys(0), codegen.toString)
      spark.conf.set(keys(1), if (codegen) "FALLBACK" else "NO_CODEGEN")
      try f(codegen)
      finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
  def sf: String = SharedSpark.sf

  /** How many Spark jobs `body` starts on this thread, counted under a
    * fresh job group (jobs other specs run concurrently don't count). */
  def jobsRunBy(body: => Unit): Int = {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"jobs_run_by_${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger()
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet()
          case g if g == s"$group.marker" => marker.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted body")
      body
      // listener events arrive in order: once the marker job is seen,
      // every job the body started has been counted
      sc.setJobGroup(s"$group.marker", "marker")
      spark.range(1).count()
      assert(marker.await(60, TimeUnit.SECONDS), "marker job never seen")
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
