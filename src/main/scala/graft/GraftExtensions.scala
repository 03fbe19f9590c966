package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session-extension entry point: wire the engine's custom expressions
  * into any SparkSession at startup —
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   // or
  *   SparkSession.builder().withExtensions(new GraftExtensions) ...
  * }}}
  *
  * Cluster-wide registration is what makes the SQL surface usable from
  * pure-SQL clients (Thrift server, notebooks) without touching Scala.
  * The function table lives in [[graft.functions.GraftFunctions]] — one
  * list backs both entry points.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.GraftFunctions.builders.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), builder))
    }
    // Aggregate pushdown: hourly→daily rollups over the openmeteo source
    // are rewritten to the source's pre-aggregated daily scan (SURVEY §4).
    ext.injectOptimizerRule(_ => graft.plans.DailyRollupPushdown)
    // Range-predicate joins: pure interval-overlap inner joins rewrite
    // to a binned equi join when spark.graft.overlapJoin.binWidth is set.
    ext.injectOptimizerRule(_ => graft.plans.OverlapJoinRewrite)
    // Kernel fan-out: each FanOut marker becomes a sized Repartition or nothing.
    ext.injectOptimizerRule(graft.plans.FanOutWidth(_))
  }
}
