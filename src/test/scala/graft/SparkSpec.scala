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
}
