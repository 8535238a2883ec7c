package perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, DriverManager, SQLException}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import graft.ingest.Fetch

/** Process-wide counters. In `local[n]` the executors are threads of
  * the driver JVM, so functions shipped into tasks update these same
  * objects. */
final class Counter {
  private val v = new AtomicLong()
  def inc(n: Long = 1): Unit = v.addAndGet(n)
  def get: Long = v.get
  def reset(): Unit = v.set(0)
}

object FetchProbe {
  val attempts = new Counter
  /** file name → attempts seen so far, for the fault plan. */
  val seen = new ConcurrentHashMap[String, Integer]()
  def reset(): Unit = { attempts.reset(); seen.clear() }
}

/** The fetcher passed to `Fetch.fetchArchives(fetcher = …)`: counts
  * attempts and fails a URL transiently `faults(file)` times before
  * delegating to the program's own `file://` fetcher. */
final case class FaultyFetcher(faults: Map[String, Int]) extends (String => Fetch.Result) {
  def apply(url: String): Fetch.Result = {
    FetchProbe.attempts.inc()
    val file = url.substring(url.lastIndexOf('/') + 1)
    val n = FetchProbe.seen.merge(file, 1, (a, b) => a + b)
    if (n <= faults.getOrElse(file, 0)) {
      Fetch.Transient(s"injected transient failure $n of ${faults(file)}")
    } else Fetch.fileFetcher(url)
  }
}

object SinkProbe {
  val connections, batches, commits, rollbacks, dupKeys, txnFailed = new Counter
  def reset(): Unit = Seq(connections, batches, commits, rollbacks, dupKeys, txnFailed).foreach(_.reset())

  @annotation.tailrec
  def isDupKey(e: Throwable): Boolean = e match {
    case null => false
    case s: SQLException if s.getSQLState == "23505" => true
    case _ if e.getCause eq e => false
    case _ => isDupKey(e.getCause)
  }
}

/** The `connect` function passed to `JdbcUpsertSink.writeOptimistic`:
  * a driver-manager connection wrapped in a proxy that counts
  * `executeBatch`, `commit`, `rollback` and 23505 events, and a
  * transaction that ends without a successful commit. */
final case class CountingConnect() extends (String => Connection) {
  def apply(url: String): Connection = {
    SinkProbe.connections.inc()
    CountingConnect.wrap(DriverManager.getConnection(url))
  }
}

object CountingConnect {
  private def call(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  def wrap(conn: Connection): Connection = {
    // work done since the last successful commit
    var pending = false
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[Connection]),
      new InvocationHandler {
        def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
          case "prepareStatement" => statement(call(conn, m, args), () => pending = true)
          case "commit" =>
            val r = call(conn, m, args); SinkProbe.commits.inc(); pending = false; r
          case "rollback" =>
            SinkProbe.rollbacks.inc(); call(conn, m, args)
          case "close" =>
            if (pending) SinkProbe.txnFailed.inc()
            pending = false
            call(conn, m, args)
          case _ => call(conn, m, args)
        }
      }).asInstanceOf[Connection]
  }

  private def statement(st: AnyRef, onWork: () => Unit): AnyRef =
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[java.sql.PreparedStatement]),
      new InvocationHandler {
        def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
          case "executeBatch" =>
            SinkProbe.batches.inc(); onWork()
            try call(st, m, args)
            catch { case e: Throwable =>
              if (SinkProbe.isDupKey(e)) SinkProbe.dupKeys.inc()
              throw e
            }
          case _ => call(st, m, args)
        }
      })
}
