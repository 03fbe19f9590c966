package graft.weather

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import WeatherSchemas._

/** Core weather transforms (SURVEY.md §1.3, §2.4): block ⇄ wide ⇄ long
  * layout conversion, the hourly→daily rollup (the decisive [SEM]
  * obligation A1–A7), and granularity resampling (A9).
  *
  * Layouts:
  *  - block: one row per (location × request), parallel arrays inside —
  *    faithful to the source payload (`server.py:74`).
  *  - wide: one row per (location, ts), one column per variable —
  *    canonical for resampling and rollups.
  *  - long: one row per (location, ts, variable) — the "tidy" ML form
  *    (`README.md:18`).
  *
  * Scale: explode is a Generate (no shuffle); rollup/resample shuffle once
  * on (location, window). At 100 TB the wide table partitions by
  * location×date via the source layout, so daily rollups are map-side-
  * partial then a narrow final agg.
  */
object WeatherOps {

  /** Read block-form payloads (JSON lines, one block per location×request)
    * with an explicit catalog-derived schema — never inference.
    */
  def readBlocks(spark: SparkSession, path: String, granKey: String = GranHourly,
      vars: Seq[String] = defaultHourlyNames, withDaily: Boolean = true): DataFrame =
    spark.read.schema(blockSchema(granKey, vars, withDaily)).json(path)

  /** Block → wide: posexplode the time array, then index each variable
    * array at the same position. Adds `ts_local` (wall-clock,
    * TimestampNTZ semantics) and `ts_utc` (normalized via
    * `utc_offset_seconds`, SC10 / `server.py:31`).
    */
  def toWide(block: DataFrame, granKey: String = GranHourly,
      vars: Seq[String] = defaultHourlyNames): DataFrame = {
    val exploded = block.select(
      col("latitude"), col("longitude"), col("utc_offset_seconds"),
      col(granKey).as("g"),
      posexplode(col(s"$granKey.time")).as(Seq("pos", "time_str")))
      .withColumn("ts_local",
        to_timestamp_ntz(col("time_str"), lit("yyyy-MM-dd'T'HH:mm")))
    val varCols = vars.map(v => element_at(col(s"g.$v"), col("pos") + 1).as(v))
    // ts_utc must NOT depend on spark.sql.session.timeZone: re-anchor the
    // wall-clock fields in an explicit UTC zone (make_timestamp with a
    // timezone argument), then subtract the payload's utc_offset_seconds —
    // the same arithmetic the connector reader does on raw micros.
    val tsUtc = expr(
      "make_timestamp(year(ts_local), month(ts_local), day(ts_local), " +
        "hour(ts_local), minute(ts_local), second(ts_local), 'UTC') " +
        "- make_interval(0, 0, 0, 0, 0, 0, utc_offset_seconds)")
    exploded.select(
      Seq(col("latitude"), col("longitude"), col("ts_local"),
        tsUtc.as("ts_utc")) ++ varCols: _*)
  }

  /** Daily block → wide daily rows (for history at granularity ≥ 1440 and
    * the A1–A7 golden comparison). Dates parse as DateType; sunrise and
    * sunset stay local-wall-clock strings cast to TimestampNTZ.
    */
  def dailyToWide(block: DataFrame, vars: Seq[String] = defaultDailyNames): DataFrame = {
    val exploded = block.select(
      col("latitude"), col("longitude"), col("utc_offset_seconds"),
      col(GranDaily).as("g"),
      posexplode(col(s"$GranDaily.time")).as(Seq("pos", "date_str")))
    val varCols = vars.map {
      case v @ ("sunrise" | "sunset") =>
        to_timestamp_ntz(element_at(col(s"g.$v"), col("pos") + 1),
          lit("yyyy-MM-dd'T'HH:mm")).as(v)
      case v => element_at(col(s"g.$v"), col("pos") + 1).as(v)
    }
    exploded.select(
      Seq(col("latitude"), col("longitude"),
        to_date(col("date_str"), "yyyy-MM-dd").as("date")) ++ varCols: _*)
  }

  /** Wide → long (tidy): one row per (location, ts, variable, value).
    * Values unify to double (weather_code included). Built on `stack` —
    * a single Generate, no shuffle.
    */
  def toLong(wide: DataFrame, vars: Seq[String] = defaultHourlyNames): DataFrame = {
    val stackArgs = vars.map(v => s"'$v', cast(`$v` as double)").mkString(", ")
    wide.select(col("latitude"), col("longitude"), col("ts_local"), col("ts_utc"),
      expr(s"stack(${vars.size}, $stackArgs) as (variable, value)"))
  }

  /** The [SEM] hourly→daily rollup, one output row per (location, local
    * day) with the reference's daily variable names (A1–A7,
    * `server.py:131-136`). Definitions:
    *  - max/min for temperature, apparent temperature; max for uv (A1/A2/A5)
    *  - sums for precipitation/rain/snowfall, rounded 2 d.p. (A3)
    *  - precipitation_hours: slot-hours with precipitation > 0 (A4)
    *  - sunshine_duration: seconds of slots with shortwave_radiation >
    *    120 W/m² (WMO-style threshold) (A6)
    *  - weather_code: the most frequent non-null code, ties to the
    *    smallest, null on a day with no codes (A7) — the ordered
    *    `mode() WITHIN GROUP (ORDER BY weather_code)`; plain `mode()`
    *    breaks ties nondeterministically
    * `slotSeconds` is the series cadence (3600 for hourly — the default —
    * 900 for 15-minute data); precipitation_hours and sunshine_duration
    * scale by it, so callers rolling up 15-minute data must pass 900.
    */
  def dailyRollup(wide: DataFrame, slotSeconds: Int = 3600): DataFrame = {
    // A projected `date`, not a to_date grouping expression: the latter
    // lets DailyRollupPushdown take over an `openmeteo` hourly scan (wx11).
    val keyed = wide.withColumn("date", to_date(col("ts_local")))
    val slotHours = lit(slotSeconds / 3600.0)
    keyed.groupBy("latitude", "longitude", "date").agg(
      max("temperature_2m").as("temperature_2m_max"),
      min("temperature_2m").as("temperature_2m_min"),
      max("apparent_temperature").as("apparent_temperature_max"),
      min("apparent_temperature").as("apparent_temperature_min"),
      round(sum("precipitation"), 2).as("precipitation_sum"),
      round(sum("rain"), 2).as("rain_sum"),
      round(sum("snowfall"), 2).as("snowfall_sum"),
      (sum(when(col("precipitation") > 0, 1).otherwise(0)) * slotHours)
        .cast("double").as("precipitation_hours"),
      round(sum(when(col("shortwave_radiation") > 120, lit(slotSeconds.toDouble))
        .otherwise(0.0)), 1).as("sunshine_duration"),
      max("uv_index").as("uv_index_max"),
      expr("mode() within group (order by weather_code)").as("weather_code"))
  }

  /** Gap filling for ML feature prep (`README.md:18`): linearly
    * interpolate null measurement values between their nearest non-null
    * neighbors within the same location series, but only across gaps of
    * at most `maxGapSeconds`, measured on the ts_utc axis. Caveat: the
    * payload carries ONE `utc_offset_seconds` per block (§1.2), so
    * ts_utc is wall-clock shifted by a constant — a DST transition
    * inside the series still distorts gap lengths by the DST hour
    * (exact per-sample offsets would need a zone-rules lookup the
    * payload doesn't provide). Values outside the budget — and
    * leading/trailing nulls with only one neighbor — stay null:
    * inventing data across long outages is worse than a gap.
    *
    * Interpolate INTENSIVE variables only (temperature, humidity, …);
    * extensive ones (precipitation sums) are zero-filled by nature, not
    * interpolated — the default var list filters by catalog kind.
    *
    * Mechanics: per variable, last-non-null before / first-non-null
    * after via frame-bounded window functions — all vars share one
    * (location, ts) sort, so the whole fill is a single exchange.
    */
  def interpolateGaps(wide: DataFrame,
      vars: Seq[String] = defaultHourlyNames.filter(v =>
        hourlyByName.get(v).exists(_.kind == Intensive)),
      maxGapSeconds: Long = 6 * 3600L): DataFrame = {
    val w = Window.partitionBy("latitude", "longitude").orderBy("ts_local")
    val before = w.rowsBetween(Window.unboundedPreceding, -1)
    val after = w.rowsBetween(1, Window.unboundedFollowing)
    val t = (unix_micros(col("ts_utc")) / 1e6)
    vars.foldLeft(wide) { (df, v) =>
      val pv = last(col(v), ignoreNulls = true).over(before)
      val pt = last(when(col(v).isNotNull, t), ignoreNulls = true).over(before)
      val nv = first(col(v), ignoreNulls = true).over(after)
      val nt = first(when(col(v).isNotNull, t), ignoreNulls = true).over(after)
      val interp = pv + (nv - pv) * (t - pt) / (nt - pt)
      df.withColumn(v,
        when(col(v).isNotNull, col(v)).otherwise(
          when(pv.isNotNull && nv.isNotNull && (nt - pt) <= maxGapSeconds,
            round(interp, 4))))
    }
  }

  /** A9: resample the wide form to a coarser cadence. Aggregation per
    * variable follows the catalog kind: intensive → mean, extensive →
    * sum, coded → max (severity-biased). `target` is any Spark window
    * duration ("1 hour", "1 day", "15 minutes").
    */
  def resample(wide: DataFrame, target: String,
      vars: Seq[String] = defaultHourlyNames): DataFrame = {
    val aggs = vars.map { v =>
      hourlyByName.get(v).map(_.kind) match {
        case Some(Extensive) => round(sum(col(v)), 2).as(v)
        case Some(Coded)     => max(col(v)).as(v)
        case _               => avg(col(v)).as(v)
      }
    }
    wide.groupBy(col("latitude"), col("longitude"),
        window(col("ts_local"), target).as("win"))
      .agg(aggs.head, aggs.tail: _*)
      .select(Seq(col("latitude"), col("longitude"),
        col("win.start").as("ts_local")) ++ vars.map(col): _*)
  }
}
