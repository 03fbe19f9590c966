package graft.weather

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import WeatherSchemas._

/** The engine-API equivalent of the reference's two MCP tools
  * (`get_forecast` `server.py:142-280`, `get_history` `server.py:284-369`)
  * — parameterized query templates compiled to Spark plans (§2.9, §3.4).
  *
  * Offline mode (this class): blocks come from fixture payload files and
  * the geocode dimension from a places table, so the whole path —
  * validate → geocode (J1) → nearest grid (J4) → project (P1) → time
  * filter (F4) → optional rollup (A1–A9) — runs hermetically. The live
  * path swaps `readBlocks` for the `openmeteo` DataSource V2 connector
  * with the same semantics pushed to the remote source (§4).
  *
  * `now` is injected (defaults to the fixture epoch) so relative-day
  * planning (`past_days`/`forecast_days`, `server.py:235-249`) is
  * deterministic and testable.
  */
class WeatherEngine(
    spark: SparkSession,
    fixtureDir: String = WeatherEngine.defaultFixtureDir,
    now: LocalDate = LocalDate.parse("2024-07-03")) {

  private def hourlyPath = s"$fixtureDir/hourly_7d.json"
  private def minutelyPath = s"$fixtureDir/minutely15_2d.json"
  private def dailyPath = s"$fixtureDir/daily_31d.json"
  private def placesPath = s"$fixtureDir/places.json"

  lazy val places: DataFrame = spark.read
    .schema("place string, latitude double, longitude double")
    .json(placesPath)

  /** Driver-side single-name geocode with `exactly_one=True` semantics
    * (`server.py:96-119`), routed through the connector's [[
    * graft.sources.openmeteo.Geocoder]] seam: the offline transport
    * answers from the places file here; a live deployment swaps in
    * `Geocoder.live(nominatimUrl)` and inherits the same retry/fail-fast/
    * rate-limit policies. Never a per-row UDF — one lookup per request,
    * exactly like the reference.
    */
  private lazy val geocoder =
    graft.sources.openmeteo.Geocoder.offline(placesPath, backoffBaseMs = 1L)

  def geocode(place: String): Either[String, (Double, Double)] =
    geocoder.lookup(place)

  private def resolve(loc: Location): Either[String, (Double, Double)] =
    loc.place match {
      // place, when given, overrides raw coordinates (server.py:188-194)
      case Some(p) => geocode(p)
      case None    => Right((loc.latitude.get, loc.longitude.get))
    }

  /** Nearest fixture block to the requested point (J4 against the set of
    * block locations — the offline stand-in for Open-Meteo's model grid).
    */
  private def nearestBlock(blocks: DataFrame, lat: Double, lon: Double): DataFrame =
    blocks
      .withColumn("__dist",
        Geo.haversineKm(lit(lat), lit(lon), col("latitude"), col("longitude")))
      .orderBy(col("__dist").asc, col("latitude").asc, col("longitude").asc)
      .limit(1)
      .drop("__dist")

  /** `get_forecast` (`server.py:142-280`): hourly/15-min wide series, or
    * the native daily rollup at granularity ≥ 1440.
    */
  def forecast(req: ForecastRequest): Either[String, DataFrame] =
    Requests.validate(req).flatMap { plan =>
      resolve(plan.location).map { case (lat, lon) =>
        val from = now.minusDays(plan.pastDays.toLong)
        val until = now.plusDays(plan.forecastDays.toLong)
        plan.granKey match {
          case GranDaily =>
            val wide = WeatherOps.toWide(
              nearestBlock(WeatherOps.readBlocks(spark, hourlyPath), lat, lon))
            val dailyNames = plan.dailyVars.getOrElse(plan.vars)
              .filter(v => dailyByName.contains(v) && v != "time")
            val rolled = WeatherOps.dailyRollup(wide)
            rolled
              .filter(col("date") >= lit(from.toString).cast("date") &&
                col("date") < lit(until.toString).cast("date"))
              .select(Seq(col("latitude"), col("longitude"), col("date")) ++
                dailyNames.filter(rolled.columns.contains).map(col): _*)
          case key =>
            val path = if (key == GranMinutely15) minutelyPath else hourlyPath
            val vars = plan.vars.filter(hourlyByName.contains)
            val wide = WeatherOps.toWide(
              nearestBlock(WeatherOps.readBlocks(spark, path, key), lat, lon),
              key, vars)
            wide.filter(to_date(col("ts_local")) >= lit(from.toString).cast("date") &&
              to_date(col("ts_local")) < lit(until.toString).cast("date"))
        }
      }
    }

  /** `get_history` (`server.py:284-369`): absolute [start, end] date range;
    * granularity 15 already rejected in validation.
    */
  def history(req: HistoryRequest): Either[String, DataFrame] =
    Requests.validate(req).flatMap { plan =>
      resolve(plan.location).map { case (lat, lon) =>
        val lo = lit(plan.start.toString).cast("date")
        val hi = lit(plan.end.toString).cast("date")
        plan.granKey match {
          case GranDaily =>
            WeatherOps.dailyToWide(
              nearestBlock(WeatherOps.readBlocks(spark, dailyPath, GranDaily,
                plan.vars.filter(dailyByName.contains), withDaily = false), lat, lon),
              plan.vars.filter(dailyByName.contains))
              .filter(col("date").between(lo, hi))
          case _ =>
            val vars = plan.vars.filter(hourlyByName.contains)
            WeatherOps.toWide(
              nearestBlock(WeatherOps.readBlocks(spark, hourlyPath), lat, lon),
              GranHourly, vars)
              .filter(to_date(col("ts_local")).between(lo, hi))
        }
      }
    }

  /** P2/J2: dual projection — hourly series enriched with that day's
    * rollup values (A1 max/min temperature, A3 precipitation sum), taken
    * as aggregates over a (location, date) window on the hourly rows
    * themselves: one scan, no join. They equal `dailyRollup` of the same
    * series. The rollup inputs are read regardless of the caller's
    * projection, so the hourly request is widened and the caller's
    * columns are restored afterwards.
    */
  def hourlyWithDaily(req: ForecastRequest): Either[String, DataFrame] = {
    val fullReq = req.copy(granularity = 60, variables = None)
    forecast(fullReq).map { hourlyAll =>
      val requested = req.variables
        .map(_.filter(WeatherSchemas.hourlyByName.contains))
        .getOrElse(WeatherSchemas.defaultHourlyNames)
      val day = Window.partitionBy("latitude", "longitude", "date")
      val daily = Seq(
        max("temperature_2m").over(day).as("temperature_2m_max"),
        min("temperature_2m").over(day).as("temperature_2m_min"),
        round(sum("precipitation").over(day), 2).as("precipitation_sum"))
      hourlyAll.withColumn("date", to_date(col("ts_local")))
        .select((Seq("latitude", "longitude", "ts_local", "ts_utc", "date") ++
          requested).map(col) ++ daily: _*)
    }
  }
}

object WeatherEngine {
  val defaultFixtureDir: String =
    sys.env.getOrElse("GRAFT_WEATHER_FIXTURES", "/root/repo/fixtures/weather")
}
