package graft

import java.nio.file.{Files, Paths}

/** Dumps the FINAL adaptive `explain("formatted")` plan of named queries to
  * plans/<tag>/<query>_<suffix>.txt (optimization-round evidence). The query
  * is collect()ed first so the SAME QueryExecution carries the final AQE
  * plan (the CLAUDE.md lesson: a noop write plans a separate execution).
  *
  * Usage: sbt "runMain graft.PlanDump <tag> <suffix> <q1,q2,...> [sfDir]"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val tag = args(0)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = Sessions.local()
    val dir = Paths.get(s"plans/$tag")
    Files.createDirectories(dir)
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect() // force execution: final adaptive plan on THIS QueryExecution
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(dir.resolve(s"${name}_$suffix.txt"), txt)
      println(s"[plandump] wrote plans/$tag/${name}_$suffix.txt")
    }
    try spark.stop() catch { case scala.util.control.NonFatal(_) => }
  }
}
