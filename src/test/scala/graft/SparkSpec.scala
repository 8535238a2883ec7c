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

  /** `body`'s result and the progress of every streaming query it
    * starts. Waits for each such query's termination event, which the
    * listener bus delivers after that query's progress events. */
  def streamProgressOf[A](body: => A)
      : (A, Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) = {
    import java.util.UUID
    import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
    import StreamingQueryListener._
    val started, ended = ConcurrentHashMap.newKeySet[UUID]()
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      // the start event reaches listeners synchronously, before any
      // progress of that query
      override def onQueryStarted(e: QueryStartedEvent): Unit = started.add(e.runId)
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (started.contains(e.progress.runId)) progress.add(e.progress)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ended.add(e.runId)
    }
    spark.streams.addListener(listener)
    try {
      val out = body
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!ended.containsAll(started) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(ended.containsAll(started), "a started query never reported its termination")
      (out, progress.asScala.toSeq)
    } finally spark.streams.removeListener(listener)
  }

  /** Run `body` — a streaming run — and check it left nothing behind:
    * no new temp view in the catalog, no active query, and an empty
    * run parent ([[graft.streaming.Staging.RunParent]]). */
  def leavesNothing[A](body: => A): A = {
    import java.nio.file.Files
    def views = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    val before = views
    val out = body
    assert((views -- before).isEmpty, s"the run left views ${views -- before}")
    assert(spark.streams.active.isEmpty,
      s"the run left active queries ${spark.streams.active.map(_.name).toSeq}")
    val parent = graft.streaming.Staging.RunParent
    if (Files.exists(parent)) {
      val left = Files.list(parent)
      try assert(left.count() == 0, s"the run left files under $parent")
      finally left.close()
    }
    out
  }
}
