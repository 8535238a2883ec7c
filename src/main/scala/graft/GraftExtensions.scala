package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Standard deployment entry point: install the graft function
  * surface into ANY SparkSession via configuration —
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions …
  * }}}
  *
  * — so a cluster user gets every function of the
  * [[GraftFunctions]] table (the scalar kernels, the sketch
  * aggregates, the bloom filter pair), with its argument contracts,
  * in SQL without calling [[GraftSession]] (which remains the
  * programmatic path; both install the same table, so the two ways
  * in can't drift). This is the library-packaging shape Spark
  * prescribes for session extensions (functions today; the same hook
  * carries optimizer rules/strategies if an operator ever needs
  * one — so far every graft operator is expressible in vanilla
  * Catalyst, which is the point). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.GraftExtensions", name), builder))
    }
}
