package graft

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** One shared session for all suites (SURVEY.md §5: local, UTC, small
  * shuffle fan-out) — the mains' [[Sessions.local]] recipe with
  * graft's extensions (production wiring under test), pinned to 4 cores.
  */
object TestSpark {
  lazy val spark: SparkSession =
    Sessions.local(cpus = 4, logLevel = "WARN")

  val sfDir = "/root/testdata/sf0.001"
  val fixtures = "/root/repo/fixtures/weather"

  /** Temp dir deleted at JVM exit — test suites must not regrow /tmp
    * garbage on every run (same hygiene contract as the streaming
    * probes' replay dirs).
    */
  def tempDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    Scratch.deleteOnExit(dir)
    dir
  }

  /** `body` with `n` shuffle partitions that AQE does not coalesce: a
    * small aggregate then spans `n` partitions instead of one. The
    * session's settings are restored afterwards. */
  def withPartitions[T](n: Int)(body: => T): T =
    Sessions.withConfs(spark, "spark.sql.shuffle.partitions" -> n.toString,
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")(body)

  /** The SQL execution of every job `run` starts in a round of `op`,
    * by round: jobs are described "`op`: round r". A convergence probe
    * is a query of its own, so it shows as a second execution. */
  def roundJobs(op: String)(run: => Unit): Map[String, Seq[String]] = {
    val ctx = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(j.properties).flatMap(p =>
          Option(p.getProperty(k))).getOrElse("")
        jobs.add((prop("spark.job.description"), prop("spark.sql.execution.id")))
        ()
      }
    }
    ctx.addSparkListener(listener)
    try { run; TestListenerBus.drain(ctx) }
    finally ctx.removeSparkListener(listener)
    jobs.asScala.toSeq.filter(_._1.startsWith(s"$op: round "))
      .groupMap(_._1)(_._2)
  }
}
