package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.graftbench.Internals
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Records, in memory, what Spark reports about each traced operation:
  * jobs (with the stage ids `SparkListenerJobStart` lists), completed
  * stages and their task metrics, the planning phases and graft-rule time
  * of every executed QueryExecution, and each streaming micro-batch. The
  * records are raw; `stats.py` attributes stages to jobs and jobs to
  * operations and sums them. Jobs carry the operation id as a local
  * property; everything else is credited to the operation running when
  * the event arrives, which is exact because the harness drains the
  * listener bus before it closes an operation.
  */
final class Tracer(spark: SparkSession) {
  val OpKey = "graftbench.op"
  @volatile var currentOp: Int = -1

  val jobs = ArrayBuffer.empty[Json.Obj]
  val stages = ArrayBuffer.empty[Json.Obj]
  val plans = ArrayBuffer.empty[Json.Obj]
  val batches = ArrayBuffer.empty[Json.Obj]
  val streams = ArrayBuffer.empty[Json.Obj]
  private val seenQe = new java.util.IdentityHashMap[AnyRef, Unit]()

  private def add(buf: ArrayBuffer[Json.Obj], o: Json.Obj): Unit =
    buf.synchronized(buf += o)

  private val GraftRules = Seq("DailyRollupPushdown", "OverlapJoinRewrite")

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey)))
        .map(_.toInt).getOrElse(currentOp)
      add(jobs, Json.obj("job" -> e.jobId, "op" -> op, "start_ms" -> e.time,
        "stage_ids" -> e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      add(jobs, Json.obj("job" -> e.jobId, "end_ms" -> e.time))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      add(stages, Json.obj(
        "stage" -> s.stageId, "attempt" -> s.attemptNumber(), "tasks" -> s.numTasks,
        "submit_ms" -> s.submissionTime.getOrElse(0L),
        "complete_ms" -> s.completionTime.getOrElse(0L),
        "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
        "input_bytes" -> m.inputMetrics.bytesRead,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled)))
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        Internals.queryExecution(end).foreach { qe =>
          val fresh = seenQe.synchronized {
            val f = !seenQe.containsKey(qe); seenQe.put(qe, ()); f
          }
          if (fresh) {
            val t = qe.tracker
            def phase(n: String) = t.phases.get(n).map(_.durationMs).getOrElse(0L)
            val rules = t.rules.filter { case (n, _) => GraftRules.exists(n.contains) }
            add(plans, Json.obj("op" -> currentOp,
              "analysis_ms" -> phase("analysis"),
              "optimization_ms" -> phase("optimization"),
              "planning_ms" -> phase("planning"),
              "graft_rules_ns" -> rules.values.map(_.totalTimeNs).sum,
              "pushdown_fired" -> rules.collect {
                case (n, r) if n.contains("DailyRollupPushdown") =>
                  r.numEffectiveInvocations }.sum))
          }
        }
      case _ =>
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      add(streams, Json.obj("op" -> currentOp, "id" -> e.runId.toString,
        "start_ms" -> System.currentTimeMillis()))
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val st = p.stateOperators.toSeq
      add(batches, Json.obj("op" -> currentOp, "id" -> p.runId.toString,
        "batch" -> p.batchId,
        "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "state_rows" -> st.map(_.numRowsTotal).sum,
        "state_commit_ms" -> st.map(_.commitTimeMs).sum,
        "input_rows" -> p.numInputRows))
    }
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      add(streams, Json.obj("op" -> currentOp, "id" -> e.runId.toString,
        "end_ms" -> System.currentTimeMillis()))
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  def drain(): Unit = Internals.drainListenerBus(spark.sparkContext)

  /** Run `body` as traced operation `op`: tag its jobs, then wait until
    * all its events are in before the next operation starts.
    */
  def within[T](op: Int)(body: => T): T = {
    val sc = spark.sparkContext
    currentOp = op
    sc.setLocalProperty(OpKey, op.toString)
    try body
    finally {
      sc.setLocalProperty(OpKey, null)
      drain()
      currentOp = -1
    }
  }

  def toJson: Json.Obj = Json.obj("jobs" -> jobs.toSeq, "stages" -> stages.toSeq,
    "plans" -> plans.toSeq, "batches" -> batches.toSeq, "streams" -> streams.toSeq)
}
