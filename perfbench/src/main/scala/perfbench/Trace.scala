package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Spans of one benchmark run share
  * `run`; `parent` is the id of the span that caused this one. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int, run: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

object Span {
  /** Seconds of `s` not covered by any of `children` (overlapping
    * children count once). */
  def selfSeconds(s: Span, children: Seq[Span]): Double = {
    val iv = children.map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    (s.endNs - s.startNs - covered) / 1e9
  }
}

/** In-memory span recorder, written out once at the end of a run.
  * When disabled, `span` only runs its body. */
final class Tracer(val enabled: Boolean, run: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, t0, System.nanoTime(), parent, run)
        stack = stack.tail
      }
    }

  def all: Seq[Span] = spans.toSeq

  def write(path: Path): Unit = {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""parent":${s.parent},"run":"${s.run}"}"""
    }
    Files.createDirectories(path.getParent)
    Files.write(path, lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Spark runtime, planner and stream counters, accumulated into
  * whichever key `current` names when the event is processed. The
  * harness runs one operation at a time and calls [[drain]] before
  * switching keys, so every event lands on the operation that caused
  * it. */
final class RuntimeProbe(spark: SparkSession) {
  @volatile var current: String = "idle"
  private val sums = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val jobIntervals = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Long, Long)]]

  private def add(metric: String, v: Double): Unit = sums.synchronized {
    sums(s"$current|$metric") += v
  }

  def get(key: String, metric: String): Double = sums.synchronized(sums(s"$key|$metric"))

  /** Milliseconds of [t0, t1] covered by jobs run under `key`. */
  def jobCoveredMs(key: String, t0: Long, t1: Long): Long = sums.synchronized {
    val iv = jobIntervals.getOrElse(key, mutable.ArrayBuffer.empty).toSeq
    val s = Span(0, key, t0 * 1000000, t1 * 1000000, -1, "")
    val kids = iv.map { case (a, b) => Span(0, "job", a * 1000000, b * 1000000, 0, "") }
    t1 - t0 - math.round(Span.selfSeconds(s, kids) * 1000)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = sums.synchronized {
      jobStart(e.jobId) = e.time
      add("jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = sums.synchronized {
      jobStart.remove(e.jobId).foreach { t =>
        jobIntervals.getOrElseUpdate(current, mutable.ArrayBuffer.empty) += ((t, e.time))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val i = e.taskInfo
        add("task_s", m.executorRunTime / 1e3)
        add("cpu_s", m.executorCpuTime / 1e9)
        add("gc_s", m.jvmGCTime / 1e3)
        add("sched_delay_s", math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime) / 1e3)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      add("plan_s", qe.tracker.phases.values.map(_.durationMs).sum / 1e3)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def ms(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
      add("stream_triggers", 1)
      add("stream_add_batch_s", ms("addBatch"))
      add("stream_planning_s", ms("queryPlanning"))
      add("stream_wal_commit_s", ms("walCommit"))
      add("stream_state_rows", p.stateOperators.map(_.numRowsTotal.toDouble).sum)
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until every posted listener event has been processed. */
  def drain(): Unit = org.apache.spark.BenchAccess.drain(spark.sparkContext)
}
