package graft.weather

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.LocalDateTime

import graft.TestSpark
import graft.sources.openmeteo.OpenMeteoTable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, Window => WindowNode}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The daily rollup's A7 rule on hand-built days, the single-scan shape of
  * every served weather plan, `hourlyWithDaily` ≡ `dailyRollup`, and a
  * deterministic nearest block under equidistant ties.
  */
class WeatherPlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  private lazy val engine = new WeatherEngine(spark, TestSpark.fixtures)
  private def place(p: String) = Location(Some(p), None, None)

  private val pragueReq = ForecastRequest(place("Prague"), forecastDays = Some(7),
    pastDays = Some(2))
  private val plzenReq = ForecastRequest(place("Plzen"), forecastDays = Some(2),
    pastDays = Some(2), variables = Some(Seq("temperature_2m", "relative_humidity_2m")))

  private def served(r: Either[String, DataFrame]): DataFrame = r.fold(e => fail(e), identity)

  /** One wide row per (day, code); every measurement is a constant, so
    * only weather_code varies.
    */
  private def wideWithCodes(days: Seq[(String, Seq[Option[Int]])]): DataFrame = {
    val measured = Seq("temperature_2m", "apparent_temperature", "precipitation",
      "rain", "snowfall", "shortwave_radiation", "uv_index")
    val schema = StructType(Seq(StructField("latitude", DoubleType),
      StructField("longitude", DoubleType), StructField("ts_local", TimestampNTZType)) ++
      measured.map(StructField(_, DoubleType)) :+ StructField("weather_code", IntegerType))
    val rows = for {
      (day, codes) <- days
      (code, h) <- codes.zipWithIndex
    } yield Row.fromSeq(Seq(50.0, 14.0, LocalDateTime.parse(f"${day}T$h%02d:00")) ++
      measured.map(_ => 1.0) :+ code.map(Int.box).orNull)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  test("A7: dominant code is the smallest on ties, null without codes, nulls ignored") {
    val wide = wideWithCodes(Seq(
      "2024-07-01" -> Seq(Some(3), Some(3), Some(1), Some(1)),
      "2024-07-02" -> Seq(None, None, None),
      "2024-07-03" -> Seq(None, None, None, Some(5), Some(5), Some(2))))
    val rolled = WeatherOps.dailyRollup(wide)
    assert(rolled.schema("weather_code").dataType === IntegerType)
    val byDay = rolled.select(col("date").cast("string"), col("weather_code"))
      .collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(byDay === Map("2024-07-01" -> Some(1), "2024-07-02" -> None,
      "2024-07-03" -> Some(5)))
  }

  /** Runs the query, then checks the nodes of its final adaptive plan. */
  private def assertOneScanNoJoin(name: String, df: DataFrame): Unit = {
    df.collect()
    val plan = df.queryExecution.executedPlan
    val nodes = collectWithSubqueries(plan) { case p => p }
    assert(nodes.count(_.isInstanceOf[FileSourceScanExec]) === 1,
      s"$name: expected one FileScan\n$plan")
    assert(!nodes.exists(_.isInstanceOf[BaseJoinExec]), s"$name: join in plan\n$plan")
  }

  test("served daily and hourly+daily calls scan the fixture once, with no join") {
    assertOneScanNoJoin("fc1440 Prague",
      served(engine.forecast(pragueReq.copy(granularity = 1440))))
    assertOneScanNoJoin("fc1440 Liberec", served(engine.forecast(ForecastRequest(
      place("Liberec"), granularity = 1440, pastDays = Some(3), forecastDays = Some(4),
      dailyVariables = Some(Seq("temperature_2m_max", "precipitation_sum"))))))
    assertOneScanNoJoin("hwd Prague", served(engine.hourlyWithDaily(pragueReq)))
    assertOneScanNoJoin("hwd Plzen", served(engine.hourlyWithDaily(plzenReq)))
  }

  test("dailyRollup optimizes to one Aggregate, no Window or Join") {
    val wide = WeatherOps.toWide(
      WeatherOps.readBlocks(spark, s"${TestSpark.fixtures}/hourly_7d.json"))
    val plan = WeatherOps.dailyRollup(wide).queryExecution.optimizedPlan
    assert(plan.collect { case a: Aggregate => a }.size === 1, plan.toString)
    assert(plan.collect { case w: WindowNode => w }.isEmpty, plan.toString)
    assert(plan.collect { case j: Join => j }.isEmpty, plan.toString)
  }

  test("dailyRollup over the openmeteo hourly connector stays native on the hourly scan") {
    val hourly = spark.read.format("openmeteo")
      .option("path", s"${TestSpark.fixtures}/hourly_7d.json").load()
    val plan = WeatherOps.dailyRollup(hourly).queryExecution.optimizedPlan
    val grans = plan.collect {
      case r: DataSourceV2ScanRelation => r.relation.table
    }.collect { case t: OpenMeteoTable => t.opts.granKey }
    assert(grans === Seq(WeatherSchemas.GranHourly), plan.toString)
  }

  test("hourlyWithDaily's daily columns equal dailyRollup of the same forecast") {
    val dailyCols = Seq("temperature_2m_max", "temperature_2m_min", "precipitation_sum")
    val key = Seq("latitude", "longitude", "date")
    def values(df: DataFrame): Seq[(Seq[Any], Seq[Any])] =
      df.select((key ++ dailyCols).map(col): _*).collect().toSeq
        .map(r => (r.toSeq.take(3), r.toSeq.drop(3)))
    for ((name, req) <- Seq("Prague" -> pragueReq, "Plzen" -> plzenReq)) {
      val hwd = values(served(engine.hourlyWithDaily(req)))
      val rollup = values(WeatherOps.dailyRollup(served(engine.forecast(
        req.copy(granularity = 60, variables = None))))).toMap
      assert(hwd.nonEmpty && rollup.nonEmpty, name)
      assert(hwd.map(_._1).toSet === rollup.keySet, s"$name: days differ")
      hwd.foreach { case (k, v) =>
        assert(v === rollup(k), s"$name: daily values differ at $k")
      }
    }
  }

  test("equidistant blocks resolve to the same nearest block in either line order") {
    val lines = Files.readAllLines(Paths.get(s"${TestSpark.fixtures}/hourly_7d.json"))
    def at(line: String, lat: String, lon: String): String =
      line.replaceFirst("""^\{"latitude": [-0-9.]+, "longitude": [-0-9.]+""",
        s"""{"latitude": $lat, "longitude": $lon""")
    val west = at(lines.get(0), "50.0", "14.0")
    val east = at(lines.get(1), "50.0", "16.0")
    assert(west != lines.get(0) && east != lines.get(1), "fixture header changed")
    def nearest(order: Seq[String]): Seq[(Double, Double, Any)] = {
      val dir = TestSpark.tempDir("nearest-block")
      Files.write(Paths.get(s"$dir/hourly_7d.json"),
        order.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      served(new WeatherEngine(spark, dir).forecast(ForecastRequest(
        Location(None, Some(50.0), Some(15.0)), pastDays = Some(2))))
        .orderBy("ts_local")
        .select("latitude", "longitude", "temperature_2m").collect().toSeq
        .map(r => (r.getDouble(0), r.getDouble(1), r.get(2)))
    }
    val westFirst = nearest(Seq(west, east))
    assert(westFirst.nonEmpty)
    assert(westFirst.map(r => (r._1, r._2)).distinct === Seq((50.0, 14.0)))
    assert(nearest(Seq(east, west)) === westFirst)
  }
}
