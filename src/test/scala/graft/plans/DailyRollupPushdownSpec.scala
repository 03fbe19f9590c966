package graft.plans

import graft.TestSpark
import graft.sources.openmeteo.OpenMeteoTable
import graft.weather.{WeatherOps, WeatherSchemas}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The §4 aggregate-pushdown rule: a recognizable hourly→daily rollup over
  * the openmeteo connector is rewritten to the source's pre-aggregated
  * daily scan; anything outside the recognized catalog is left untouched.
  * The rule is active through the production wiring (GraftExtensions on
  * the shared test session).
  */
class DailyRollupPushdownSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val fixture = s"${TestSpark.fixtures}/hourly_7d.json"

  private def hourly() = spark.read.format("openmeteo")
    .option("path", fixture).load()

  private def scanTables(df: DataFrame): Seq[OpenMeteoTable] =
    df.queryExecution.optimizedPlan.collect {
      case s: DataSourceV2ScanRelation => s.relation.table
      case r: DataSourceV2Relation => r.table
    }.collect { case t: OpenMeteoTable => t }

  private def scanGrans(df: DataFrame): Seq[String] =
    scanTables(df).map(_.opts.granKey)

  private def rollupQuery(df: DataFrame) = df
    .groupBy(col("latitude"), col("longitude"),
      to_date(col("ts_local")).as("date"))
    .agg(max("temperature_2m").as("temperature_2m_max"),
      min("temperature_2m").as("temperature_2m_min"),
      round(sum("precipitation"), 2).as("precipitation_sum"))

  test("recognized rollup is rewritten to a daily-granularity scan") {
    val df = rollupQuery(hourly())
    assert(scanGrans(df) === Seq(WeatherSchemas.GranDaily),
      s"expected daily scan, plan:\n${df.queryExecution.optimizedPlan}")
    // pruned to exactly the needed daily variables
    assert(scanTables(df).flatMap(_.opts.variables).toSet ===
      Set("temperature_2m_max", "temperature_2m_min", "precipitation_sum"))
  }

  test("rewritten result equals the native hourly aggregation") {
    // native path: JSON reader (no V2 relation, rule can't fire)
    val native = rollupQuery(
      WeatherOps.toWide(WeatherOps.readBlocks(spark, fixture)))
      .orderBy("latitude", "date").collect()
    val pushed = rollupQuery(hourly()).orderBy("latitude", "date").collect()
    assert(pushed.length === 14)
    assert(pushed.map(_.toString).toSeq === native.map(_.toString).toSeq)
  }

  test("sum-of-case shapes (precipitation_hours, sunshine_duration) push down too") {
    val slotHours = lit(1.0)
    val df = hourly()
      .groupBy(col("latitude"), col("longitude"),
        to_date(col("ts_local")).as("date"))
      .agg(
        (sum(when(col("precipitation") > 0, 1).otherwise(0)) * slotHours)
          .cast("double").as("precipitation_hours"),
        round(sum(when(col("shortwave_radiation") > 120, lit(3600.0))
          .otherwise(0.0)), 1).as("sunshine_duration"),
        max("uv_index").as("uv_index_max"))
    assert(scanGrans(df) === Seq(WeatherSchemas.GranDaily),
      s"sum-of-case not recognized, plan:\n${df.queryExecution.optimizedPlan}")
    // equals the native JSON-path aggregation
    val native = WeatherOps.toWide(WeatherOps.readBlocks(spark, fixture))
      .groupBy(col("latitude"), col("longitude"), to_date(col("ts_local")).as("date"))
      .agg((sum(when(col("precipitation") > 0, 1).otherwise(0)) * slotHours)
          .cast("double").as("precipitation_hours"),
        round(sum(when(col("shortwave_radiation") > 120, lit(3600.0))
          .otherwise(0.0)), 1).as("sunshine_duration"),
        max("uv_index").as("uv_index_max"))
      .orderBy("latitude", "date").collect()
    val pushed = df.orderBy("latitude", "date").collect()
    assert(pushed.map(_.toString).toSeq === native.map(_.toString).toSeq)
  }

  test("A7 dominant weather_code (mode within group, ASC) pushes down to the daily block") {
    // the ASC within-group form is deterministic (smallest code on
    // ties) — exactly the native count-then-rank rule — so pushed ≡
    // native must hold value-for-value
    def shaped(df: DataFrame) = df
      .groupBy(col("latitude"), col("longitude"),
        to_date(col("ts_local")).as("date"))
      .agg(expr("mode() within group (order by weather_code)").as("weather_code"),
        max("temperature_2m").as("temperature_2m_max"))
    val pushed = shaped(hourly())
    assert(scanGrans(pushed) === Seq(WeatherSchemas.GranDaily),
      s"mode within group not recognized:\n${pushed.queryExecution.optimizedPlan}")
    assert(scanTables(pushed).flatMap(_.opts.variables).toSet ===
      Set("weather_code", "temperature_2m_max"))
    val native = shaped(
      WeatherOps.toWide(WeatherOps.readBlocks(spark, fixture)))
      .orderBy("latitude", "date").collect()
    val got = pushed.orderBy("latitude", "date").collect()
    assert(got.length === 14)
    assert(got.map(_.toString).toSeq === native.map(_.toString).toSeq)
    // and both match the count-then-rank rule dailyRollup implements
    val rollup = WeatherOps.dailyRollup(
      WeatherOps.toWide(WeatherOps.readBlocks(spark, fixture)))
      .select("latitude", "longitude", "date", "weather_code")
      .orderBy("latitude", "date").collect().map(_.toString).toSeq
    assert(got.map(r => s"[${r.getDouble(0)},${r.getDouble(1)},${r.getDate(2)},${r.getInt(3)}]")
      .toSeq === rollup)
  }

  test("plain mode(weather_code) — nondeterministic ties — bails out") {
    val df = hourly()
      .groupBy(col("latitude"), col("longitude"),
        to_date(col("ts_local")).as("date"))
      .agg(expr("mode(weather_code)").as("weather_code"))
    assert(scanGrans(df) === Seq(WeatherSchemas.GranHourly))
  }

  test("mode within group DESC (largest-on-ties) bails out") {
    val df = hourly()
      .groupBy(col("latitude"), col("longitude"),
        to_date(col("ts_local")).as("date"))
      .agg(expr("mode() within group (order by weather_code desc)")
        .as("weather_code"))
    assert(scanGrans(df) === Seq(WeatherSchemas.GranHourly))
  }

  test("15-minute slot multiplier is NOT recognized (daily block is hourly-derived)") {
    val df = hourly()
      .groupBy(col("latitude"), col("longitude"),
        to_date(col("ts_local")).as("date"))
      .agg((sum(when(col("precipitation") > 0, 1).otherwise(0)) * lit(0.25))
        .cast("double").as("precipitation_hours"))
    assert(scanGrans(df) === Seq(WeatherSchemas.GranHourly))
  }

  test("unrecognized aggregate (avg) bails out and keeps the hourly scan") {
    val df = hourly()
      .groupBy(col("latitude"), col("longitude"),
        to_date(col("ts_local")).as("date"))
      .agg(avg("temperature_2m").as("t_avg"))
    assert(scanGrans(df) === Seq(WeatherSchemas.GranHourly))
  }

  test("intermediate filter bails out (mid-day ts bound does not map to a date range)") {
    val df = hourly()
      .filter(col("ts_local") >=
        lit("2024-07-02 06:00:00").cast("timestamp_ntz"))
      .groupBy(col("latitude"), col("longitude"),
        to_date(col("ts_local")).as("date"))
      .agg(max("temperature_2m").as("temperature_2m_max"))
    assert(scanGrans(df) === Seq(WeatherSchemas.GranHourly))
  }

  test("day-aligned to_date filter pushes down with the rollup (bail-in)") {
    def shaped(df: DataFrame) = df
      .filter(to_date(col("ts_local")) >= lit(java.sql.Date.valueOf("2024-07-02")) &&
        to_date(col("ts_local")) <= lit(java.sql.Date.valueOf("2024-07-04")))
      .groupBy(col("latitude"), col("longitude"),
        to_date(col("ts_local")).as("date"))
      .agg(max("temperature_2m").as("temperature_2m_max"),
        round(sum("precipitation"), 2).as("precipitation_sum"))
    val pushed = shaped(hourly())
    assert(scanGrans(pushed) === Seq(WeatherSchemas.GranDaily),
      s"day-aligned filter did not rewrite:\n${pushed.queryExecution.optimizedPlan}")
    val native = shaped(
      WeatherOps.toWide(WeatherOps.readBlocks(spark, fixture)))
      .orderBy("latitude", "date").collect()
    val got = pushed.orderBy("latitude", "date").collect()
    assert(got.length === 6) // 2 locations × 3 whole days
    assert(got.map(_.toString).toSeq === native.map(_.toString).toSeq)
  }

  test("midnight ts_local range filter pushes down with the rollup (bail-in)") {
    def shaped(df: DataFrame) = df
      .filter(col("ts_local") >= lit("2024-07-03 00:00:00").cast("timestamp_ntz") &&
        col("ts_local") < lit("2024-07-05 00:00:00").cast("timestamp_ntz"))
      .groupBy(col("latitude"), col("longitude"),
        to_date(col("ts_local")).as("date"))
      .agg(min("temperature_2m").as("temperature_2m_min"))
    val pushed = shaped(hourly())
    assert(scanGrans(pushed) === Seq(WeatherSchemas.GranDaily),
      s"midnight range did not rewrite:\n${pushed.queryExecution.optimizedPlan}")
    val native = shaped(
      WeatherOps.toWide(WeatherOps.readBlocks(spark, fixture)))
      .orderBy("latitude", "date").collect()
    val got = pushed.orderBy("latitude", "date").collect()
    assert(got.length === 4) // 2 locations × 2 whole days
    assert(got.map(_.toString).toSeq === native.map(_.toString).toSeq)
  }

  test("non-day grouping bails out") {
    // neither (lat, lon, day) nor a subset of the location: an hour of
    // day is not a union of whole days
    val df = hourly()
      .groupBy(col("latitude"), hour(col("ts_local")).as("h"))
      .agg(max("temperature_2m").as("temperature_2m_max"))
    assert(scanGrans(df) === Seq(WeatherSchemas.GranHourly))
  }

  // ---- across days: global and (lat, lon)-grouped aggregates ----

  private def native() = WeatherOps.toWide(WeatherOps.readBlocks(spark, fixture))

  test("global MIN/MAX push to the daily block; pushed ≡ native (golden)") {
    def shaped(df: DataFrame) = df.agg(
      max("temperature_2m").as("tmax"), min("temperature_2m").as("tmin"),
      max("uv_index").as("uvmax"))
    val agg = shaped(hourly())
    assert(scanGrans(agg) === Seq(WeatherSchemas.GranDaily),
      s"aggregates not pushed:\n${agg.queryExecution.optimizedPlan}")
    assert(scanTables(agg).flatMap(_.opts.variables).toSet ===
      Set("temperature_2m_max", "temperature_2m_min", "uv_index_max"))
    // golden equivalence: the pushed (daily-block) answer must equal the
    // native hourly-row aggregation — SURVEY §4's pushed ≡ native test
    val row = agg.collect()(0)
    val nat = shaped(native()).collect()(0)
    assert(row.getDouble(0) === nat.getDouble(0))
    assert(row.getDouble(1) === nat.getDouble(1))
    assert(row.getDouble(2) === nat.getDouble(2))
  }

  test("SUM-of-case pushes to the exact daily counterparts; pushed ≡ native (golden)") {
    def shaped(df: DataFrame) = df.agg(
      sum(when(col("precipitation") > 0, 1.0).otherwise(0.0)).as("ph"),
      sum(when(col("shortwave_radiation") > 120, 3600.0).otherwise(0.0)).as("ss"))
    val agg = shaped(hourly())
    assert(scanGrans(agg) === Seq(WeatherSchemas.GranDaily),
      s"sum-of-case not pushed:\n${agg.queryExecution.optimizedPlan}")
    assert(scanTables(agg).flatMap(_.opts.variables).toSet ===
      Set("precipitation_hours", "sunshine_duration"))
    val row = agg.collect()(0)
    val nat = shaped(native()).collect()(0)
    assert(row.getDouble(0) === nat.getDouble(0))
    assert(row.getDouble(1) === nat.getDouble(1))

    // a ROUNDED daily sum has no exact counterpart: must bail to native
    val rounded = hourly().agg(sum("precipitation").as("psum"))
    assert(scanGrans(rounded) === Seq(WeatherSchemas.GranHourly),
      "plain sum over a rounded daily counterpart must not push")
    // an unrecognized case shape (different threshold) must bail too
    val other = hourly().agg(
      sum(when(col("precipitation") > 1.5, 1.0).otherwise(0.0)).as("x"))
    assert(scanGrans(other) === Seq(WeatherSchemas.GranHourly))
  }

  test("agg pushdown respects day-aligned pushed bounds and bails otherwise") {
    // day-aligned range: pushed, and only the in-range days aggregate
    def alignedRange(df: DataFrame) = df
      .filter(col("ts_local") >= lit("2024-07-02 00:00:00").cast("timestamp_ntz") &&
        col("ts_local") < lit("2024-07-04 00:00:00").cast("timestamp_ntz"))
      .agg(max("temperature_2m").as("tmax"))
    val aligned = alignedRange(hourly())
    assert(scanGrans(aligned) === Seq(WeatherSchemas.GranDaily),
      "day-aligned range should push the aggregate")
    // the translated date range is consumed by the daily scan
    assert(!aligned.queryExecution.optimizedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Filter]),
      s"date window left as a post-scan filter:\n${aligned.queryExecution.optimizedPlan}")
    assert(aligned.collect()(0).getDouble(0) ===
      alignedRange(native()).collect()(0).getDouble(0))

    // mid-day bound: NOT pushed (daily pre-aggregates can't answer it),
    // result comes from the native hourly path
    val unaligned = hourly()
      .filter(col("ts_local") >= lit("2024-07-02 06:00:00").cast("timestamp_ntz"))
      .agg(max("temperature_2m").as("tmax"))
    assert(scanGrans(unaligned) === Seq(WeatherSchemas.GranHourly),
      "mid-day bound must fall back to the native aggregation")
    // grouping the source can't answer (a non-coordinate column): no push
    val byTs = hourly().groupBy("ts_local").agg(max("temperature_2m"))
    assert(scanGrans(byTs) === Seq(WeatherSchemas.GranHourly))
  }

  test("GROUPED agg pushdown: per-location MIN/MAX from the daily block, pushed ≡ native") {
    def shaped(df: DataFrame) = df.groupBy("latitude", "longitude")
      .agg(max("temperature_2m").as("tmax"), min("temperature_2m").as("tmin"))
    val grouped = shaped(hourly())
    assert(scanGrans(grouped) === Seq(WeatherSchemas.GranDaily),
      s"grouped aggregates not pushed:\n${grouped.queryExecution.optimizedPlan}")
    // the Aggregate stays on top and re-combines the per-day rows
    assert(grouped.queryExecution.optimizedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Aggregate]))

    def byLocation(df: DataFrame) = df.collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> (r.getDouble(2), r.getDouble(3)))
      .toMap
    val pushedRows = byLocation(grouped)
    assert(pushedRows === byLocation(shaped(native())),
      "grouped pushed ≡ native equivalence broken")
    assert(pushedRows.size === 2, "expected one row per fixture location")

    // grouping order follows the query, not the schema
    val flipped = hourly().groupBy("longitude", "latitude")
      .agg(max("temperature_2m").as("tmax"))
    assert(scanGrans(flipped) === Seq(WeatherSchemas.GranDaily))
    assert(flipped.columns.toSeq === Seq("longitude", "latitude", "tmax"))
    assert(flipped.collect().length === 2)
  }

  test("global mode within group bails out (the daily mode does not re-combine)") {
    val df = hourly()
      .agg(expr("mode() within group (order by weather_code)").as("weather_code"))
    assert(scanGrans(df) === Seq(WeatherSchemas.GranHourly))
  }

  test("a slot count over a cast column bails out (it counts other hours)") {
    // cast(precipitation as int) > 0 skips the hours with 0 < p < 1
    // that precipitation_hours counts
    val slots = sum(when(col("precipitation").cast("int") > 0, 1.0).otherwise(0.0))
    val perDay = hourly()
      .groupBy(col("latitude"), col("longitude"), to_date(col("ts_local")).as("date"))
      .agg(slots.as("precipitation_hours"))
    assert(scanGrans(perDay) === Seq(WeatherSchemas.GranHourly))
    assert(scanGrans(hourly().agg(slots.as("ph"))) === Seq(WeatherSchemas.GranHourly))
  }

  test("global rounded sum bails out (rounded daily sums do not add up exactly)") {
    val df = hourly().agg(round(sum("precipitation"), 2).as("precipitation_sum"))
    assert(scanGrans(df) === Seq(WeatherSchemas.GranHourly))
  }
}
