package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Iterate
import graft.weather._

/** The launch options (`build.sbt` `javaOptions`) size Spark's compiled-class
  * cache to graft's repeated work. At Spark's default of 100 entries a mix
  * that needs more cycles the LRU and every class is recompiled on every
  * repetition. They also turn off per-session artifact isolation, under
  * which every streaming query's cloned session ran its tasks in a fresh
  * executor classloader and missed the loader-keyed cache.
  */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val engine = new WeatherEngine(spark, TestSpark.fixtures)
  private def place(p: String) = Location(Some(p), None, None)

  private def served(r: Either[String, DataFrame]): DataFrame = r.fold(e => fail(e), identity)

  /** The served weather requests of the tool catalog plus the near-duplicate
    * cluster probe (a fixpoint loop): a repeated mix of many small plans.
    */
  private def runMix(): Unit = {
    Seq(
      engine.forecast(ForecastRequest(place("Prague"))),
      engine.forecast(ForecastRequest(place("Prague"), granularity = 1440,
        forecastDays = Some(7), pastDays = Some(2))),
      engine.forecast(ForecastRequest(place("Prague"), granularity = 15,
        forecastDays = Some(1), pastDays = Some(2))),
      engine.forecast(ForecastRequest(place("Brno"), forecastDays = Some(3),
        pastDays = Some(1), variables = Some(Seq("temperature_2m", "precipitation",
          "wind_speed_10m")))),
      engine.forecast(ForecastRequest(Location(None, Some(49.82), Some(18.26)),
        forecastDays = Some(5))),
      engine.forecast(ForecastRequest(place("Liberec"), granularity = 1440,
        pastDays = Some(3), forecastDays = Some(4),
        dailyVariables = Some(Seq("temperature_2m_max", "precipitation_sum")))),
      engine.history(HistoryRequest(place("Prague"), "2024-05-05", "2024-05-20",
        granularity = 1440)),
      engine.history(HistoryRequest(place("Brno"), "2024-07-02", "2024-07-04")),
      engine.history(HistoryRequest(Location(None, Some(50.0), Some(14.0)),
        "2024-05-01", "2024-05-31", granularity = 1440,
        variables = Some(Seq("temperature_2m_max", "temperature_2m_min",
          "precipitation_sum")))),
      engine.hourlyWithDaily(ForecastRequest(place("Prague"), forecastDays = Some(7),
        pastDays = Some(2))),
      engine.hourlyWithDaily(ForecastRequest(place("Plzen"), forecastDays = Some(2),
        pastDays = Some(2), variables = Some(Seq("temperature_2m",
          "relative_humidity_2m"))))
    ).foreach(r => served(r).collect())
    val clusters = SparkEntry.queries("d7_neardup_clusters")(spark, TestSpark.sfDir)
    clusters.collect()
    Iterate.release(clusters)
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Spark's cache is private; emptying it makes the first run compile the
    * mix's whole working set whatever the suites before this one compiled.
    * CodeGenerator reads its capacity from the active session when it first
    * initialises, so the session must exist before the cache is touched.
    */
  private def clearCodegenCache(): Unit = {
    SparkSession.setActiveSession(spark)
    val accessor = CodeGenerator.getClass.getDeclaredMethod("cache")
    accessor.setAccessible(true)
    val cache = accessor.invoke(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache): Unit
  }

  test("the session's codegen cache holds 1000 entries") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "1000")
  }

  test("the session runs without per-session artifact isolation") {
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") === "false")
  }

  test("a repeated streaming replay compiles nothing") {
    val st6 = SparkEntry.queries("st6_stream_windowed_agg")
    val first = st6(spark, TestSpark.sfDir).collect().toSeq
    val before = compiles
    val second = st6(spark, TestSpark.sfDir).collect().toSeq
    assert(compiles - before === 0L)
    assert(second === first)
  }

  test("a mix larger than Spark's default cache compiles nothing on its second run") {
    clearCodegenCache()
    val before = compiles
    runMix()
    val entries = compiles - before
    info(s"mix working set: $entries compiled classes")
    assert(entries > 100, "the mix must not fit Spark's default cache of 100 entries")
    val second = compiles
    runMix()
    assert(compiles - second === 0L)
  }
}
