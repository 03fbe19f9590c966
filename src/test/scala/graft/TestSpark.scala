package graft

import org.apache.spark.sql.SparkSession

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
}
