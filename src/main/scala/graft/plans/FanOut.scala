package graft.plans

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{REPARTITION_OPERATION, TreePattern}

/** Marks `child` for a round-robin fan-out in front of a CPU-heavy per-row
  * kernel (MinHash, shingle hashes, cosine verify). Marking plans nothing:
  * [[FanOutWidth]] picks the width when the real query is optimized.
  * Mark the raw input BELOW the kernel projection, so the kernel runs on
  * the post-exchange side.
  */
case class FanOut(sizing: FanOut.Sizing, child: LogicalPlan) extends UnaryNode {
  // an existing pattern, so FanOutWidth skips plans without a marker
  final override val nodePatterns: Seq[TreePattern] = Seq(REPARTITION_OPERATION)
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(c: LogicalPlan): FanOut = copy(child = c)
}

object FanOut {
  sealed trait Sizing

  /** A small-file scan: one file is one scan task, so every narrow kernel
    * above it runs on ONE core (guide §2.5 "input skew"). Width
    * `bytes / 128 KB` capped at the default parallelism — from the input,
    * not the core count (a `defaultParallelism` target made every tiny
    * kernel stage 32 tasks on local[32], slower than local[8]); none when
    * the input plans an exchange itself or its scan is already that
    * wide, as at 100 TB. The bytes are those of `marked`, the input as
    * marked: column pruning later narrows the child. The width is decided
    * once per marker, however many queries optimize it. */
  final class Scan(val marked: LogicalPlan) extends Sizing {
    @volatile private[plans] var width: Option[Option[Int]] = None
    override def toString = "Scan"
  }

  /** Narrow candidate id pairs before a per-pair kernel: AQE coalesces
    * 16 B/row pairs into ONE partition and serializes the verify (d9:
    * two ~0.45 s single-task jobs). Width: the session shuffle width,
    * which production sets to the cluster's reduce width. */
  case object Pairs extends Sizing

  val BytesPerTask: Long = 128L * 1024

  def scan(df: DataFrame): DataFrame = GraftBridge.wrapPlan(df)(p => FanOut(new Scan(p), p))

  def pairs(df: DataFrame): DataFrame = GraftBridge.wrapPlan(df)(FanOut(Pairs, _))

  def sessionWidth(spark: SparkSession): Int = spark.sessionState.conf.numShufflePartitions
}

/** Replaces each [[FanOut]] by the round-robin `Repartition` of the width
  * its sizing decides, or by its child. It runs in the optimizer's first
  * operator-optimization pass, so the later passes see what a hand-placed
  * `repartition(n)` (or nothing) shows them: filters push through, and
  * projections on both sides of a marker that gets no exchange collapse.
  * Sizing a scan optimizes and plans the marked input to read its leaf
  * scans' partition counts; no job runs. */
case class FanOutWidth(session: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformWithPruning(_.containsPattern(REPARTITION_OPERATION)) {
      case FanOut(sizing, child) => width(sizing).fold(child)(Repartition(_, shuffle = true, child))
    }

  private def width(sizing: FanOut.Sizing): Option[Int] = sizing match {
    case FanOut.Pairs => Some(FanOut.sessionWidth(session))
    case s: FanOut.Scan => s.width.getOrElse { s.width = Some(scanWidth(s.marked)); s.width.get }
  }

  private def scanWidth(marked: LogicalPlan): Option[Int] = {
    val qe = session.sessionState.executePlan(marked)
    val input = qe.optimizedPlan
    val exchanges = input.exists {
      case _: Aggregate | _: Join | _: Window | _: Sort | _: Distinct |
           _: RepartitionOperation | _: GlobalLimit => true
      case other => other.expressions.exists(SubqueryExpression.hasSubquery)
    }
    if (exchanges) None
    else {
      val target = (input.stats.sizeInBytes / FanOut.BytesPerTask)
        .min(session.sparkContext.defaultParallelism).max(1).toInt
      val parts = qe.sparkPlan.collectLeaves().map(_.execute().getNumPartitions).sum
      Option.when(parts < target)(target)
    }
  }
}
