package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Plan barriers the operators share. */
private[operators] object Barriers {

  /** Evaluate `derived` exactly ONCE per row behind a Generate barrier.
    *
    * Why this exists: a plain `withColumn` makes the derivation an
    * alias in a Project, and the optimizer's substitution rules inline
    * aliases into their consumers — PushDownPredicates rewrites a
    * pushed filter by substituting the full defining expression into
    * the predicate, and CollapseProject merges it into downstream
    * projections. For an O(d) vector subexpression consumed by k-way
    * argmin trees that inlining is catastrophic: the s20 probe's
    * normalization re-evaluated at ~150 sites per row (measured 10.1 s
    * → 1.4 s once materialized). `explode` of a one-element array adds
    * a Generate node — whose output is an opaque attribute no rule
    * substitutes through — at zero row-count cost; filters on
    * pass-through columns still push below it.
    */
  def oncePerRow(df: DataFrame,
      derived: (String, Column)*): DataFrame = {
    val s = struct(derived.map { case (n, c) => c.as(n) }: _*)
    val g = df.withColumn("__once", explode(array(s)))
    derived.foldLeft(g) { case (d, (n, _)) =>
      d.withColumn(n, col(s"__once.$n"))
    }.drop("__once")
  }
}
