package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Optimization-round measurement harness (guide §1): runs ONE query with
  * the exact Bench session config and prints a per-Spark-job breakdown
  * (duration, stage/task counts, description) plus the wall-clock gap not
  * covered by any job (driver-side planning / collect / checkpoint admin).
  * Not part of the driver contract; diagnostic only.
  *
  * Usage: sbt "runMain graft.Profile <queryName> [sfDir] [timedRuns]"
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 1
    val spark = Sessions.local()

    final case class JobRec(id: Int, start: Long, var end: Long = -1L,
        var stages: Int = 0, var tasks: Int = 0, desc: String)
    val jobs = new ConcurrentLinkedQueue[JobRec]()
    val byId = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val d = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        val r = JobRec(j.jobId, j.time, desc = d)
        jobs.add(r); byId.put(j.jobId, r): Unit
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val r = byId.get(j.jobId)
        if (r != null) r.end = j.time
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val sid = s.stageInfo.stageId
        // attribute to the job that owns this stage (best-effort: last job)
        val it = jobs.iterator()
        var owner: JobRec = null
        while (it.hasNext) { val r = it.next(); if (r.end < 0 || owner == null) owner = r }
        if (owner != null) { owner.stages += 1; owner.tasks += s.stageInfo.numTasks }
      }
    })

    val fn = SparkEntry.queries(name)
    def once(label: String): Double = {
      jobs.clear(); byId.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(200) // let listener drain
      val recs = jobs.toArray(Array.empty[JobRec]).sortBy(_.start)
      val jobSum = recs.map(r => math.max(0L, r.end - r.start)).sum / 1e3
      println(f"== $label: wall=$wall%.3f s, jobs=${recs.length}, jobTime=$jobSum%.3f s, gap=${wall - jobSum}%.3f s")
      recs.foreach { r =>
        val dur = if (r.end >= 0) (r.end - r.start) / 1e3 else -1.0
        println(f"  job ${r.id}%4d ${dur}%8.3f s  stages=${r.stages}%3d tasks=${r.tasks}%5d  ${r.desc.take(80)}")
      }
      wall
    }
    once(s"$name COLD")
    (1 to runs).foreach(i => once(s"$name RUN$i"))
    try spark.stop() catch { case scala.util.control.NonFatal(_) => }
  }
}
