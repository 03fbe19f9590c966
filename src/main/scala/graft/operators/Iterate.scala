package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, Row}
import org.apache.spark.sql.execution.LogicalRDD

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.Await
import scala.concurrent.duration._

/** The checkpoint lifecycle of the iterative operators, written once.
  * Iterative plans re-root every round at `localCheckpoint`ed partitions
  * (a cached chain keeps an O(3^rounds) logical plan that OOMs the
  * driver). Those blocks live below the CacheManager, so
  * `Dataset.unpersist` cannot free them: a [[scope]] releases every
  * checkpoint it took when it exits, normally or by a throw, except the
  * ones backing the DataFrame it returns.
  */
object Iterate {

  /** Run `body` with a fresh [[Scope]]. On exit its checkpoints are
    * released unless they back the returned value (when that is a
    * DataFrame). */
  def scope[T](body: Scope => T): T = {
    val s = new Scope
    var keep = Set.empty[Int]
    try {
      val out = body(s)
      out match {
        case ds: Dataset[_] => keep = backing(ds).map(_.id).toSet
        case _ =>
      }
      out
    } finally s.close(keep)
  }

  /** Free the checkpoints backing an operator result that its scope
    * kept. `ds` is unusable afterwards: a local checkpoint has no
    * lineage to recompute from. */
  def release(ds: Dataset[_]): Unit =
    backing(ds).foreach(_.unpersist(blocking = false))

  private def backing(ds: Dataset[_]): Seq[RDD[_]] =
    ds.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }

  /** Checkpoints registered for one [[scope]]. */
  final class Scope private[Iterate] {
    private val held = ArrayBuffer[RDD[_]]()

    /** `df.localCheckpoint()`, released at scope exit. */
    def checkpoint(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint()
      held ++= backing(c)
      c
    }

    /** Up to `maxRounds` rounds of `next = checkpoint(step(cur, r))` from
      * the checkpoint `init`, stopping after the first round where
      * `until(observed)` holds; round r's jobs are described "`op`:
      * round r". `observed` is the row of the `observe` aggregates over
      * the step's output (empty without any): an `Observation` that the
      * round's own checkpoint job fills, so convergence costs no probe
      * job. After each round the previous round's checkpoints — its
      * state and any the step took — are released, unless `retain` keeps
      * them to scope exit for a caller holding a lazy union of the round
      * states. Returns the last state and whether `until` stopped the
      * loop.
      */
    def rounds(op: String, init: DataFrame, maxRounds: Int,
        observe: Seq[Column] = Nil, until: Row => Boolean = _ => false,
        retain: Boolean = false)(
        step: (DataFrame, Int) => DataFrame): (DataFrame, Boolean) = {
      val ctx = init.sparkSession.sparkContext
      val desc = ctx.getLocalProperty("spark.job.description")
      var cur = init
      var previous = backing(init)
      var r = 0
      var stop = false
      try {
        while (!stop && r < maxRounds) {
          ctx.setJobDescription(s"$op: round $r")
          val mark = held.length
          val out = step(cur, r)
          val obs = Observation()
          val next = checkpoint(
            if (observe.isEmpty) out
            else out.observe(obs, observe.head, observe.tail: _*))
          // the listener bus hands the metrics over after the job ends;
          // the wait is bounded, so a lost event fails instead of hanging
          stop = until(
            if (observe.isEmpty) Row.empty
            else Await.result(obs.future, 10.minutes))
          // this round's checkpoints, taken before `free` shortens `held`
          val fresh = held.drop(mark).toSeq
          if (!retain) free(previous)
          previous = fresh
          cur = next
          r += 1
        }
      } finally ctx.setJobDescription(desc)
      (cur, stop)
    }

    private def free(rdds: Seq[RDD[_]]): Unit = {
      rdds.foreach(_.unpersist(blocking = false))
      held --= rdds
    }

    private[Iterate] def close(keep: Set[Int]): Unit =
      free(held.filterNot(r => keep(r.id)).toSeq)
  }
}
