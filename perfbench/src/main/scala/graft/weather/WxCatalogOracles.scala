package graft.weather

import WxOracles._

/** DuckDB twins of the valid wx_tool_calls catalog requests
  * (graftbench.Workloads.wxCatalog), built from the same WxOracles
  * fragments the wx* probes use. Each twin geocodes from places.json,
  * picks the nearest fixture block by the engine's haversine, and applies
  * the engine's day window (now = 2024-07-03). The request parameters are
  * restated here on purpose: a twin must not reuse the code it checks.
  */
object WxCatalogOracles {
  private val Now = java.time.LocalDate.parse("2024-07-03")

  private def places = s"${WeatherEngine.defaultFixtureDir}/places.json"

  private def byPlace(p: String) =
    s"""q AS (SELECT latitude AS qlat, longitude AS qlon
       |      FROM read_json('$places', format='newline_delimited',
       |        columns={place:'VARCHAR', latitude:'DOUBLE', longitude:'DOUBLE'})
       |      WHERE place = '$p')""".stripMargin

  private def byCoords(lat: Double, lon: Double) =
    s"q AS (SELECT $lat::DOUBLE AS qlat, $lon::DOUBLE AS qlon)"

  /** `nb`: the block of relation `src` nearest to `q`. */
  private def nearest(src: String) =
    s"""nb AS (SELECT b.latitude, b.longitude
       |       FROM (SELECT DISTINCT latitude, longitude FROM $src) b, q
       |       ORDER BY ${hav("q.qlat", "q.qlon", "b.latitude", "b.longitude")}
       |       LIMIT 1)""".stripMargin

  private def window(past: Int, fcst: Int) =
    (Now.minusDays(past.toLong), Now.plusDays(fcst.toLong))

  private val hourlyNames = WeatherSchemas.defaultHourlyNames

  private def forecastHourly(q: String, file: String, gran: String, vars: Seq[String],
      past: Int, fcst: Int): String = {
    val (from, until) = window(past, fcst)
    s"""WITH ${wideCte(file, "wide", gran)},
       |$q,
       |${nearest("wide")}
       |SELECT w.latitude, w.longitude, w.ts_local, w.ts_utc, ${vars.map("w." + _).mkString(", ")}
       |FROM wide w JOIN nb USING (latitude, longitude)
       |WHERE CAST(w.ts_local AS DATE) >= DATE '$from'
       |  AND CAST(w.ts_local AS DATE) < DATE '$until'""".stripMargin
  }

  /** The daily variables the native rollup produces. */
  private val rolled = Seq("weather_code", "temperature_2m_max", "temperature_2m_min",
    "apparent_temperature_max", "apparent_temperature_min", "precipitation_sum",
    "rain_sum", "snowfall_sum", "precipitation_hours", "sunshine_duration",
    "uv_index_max")

  private def forecastDaily(q: String, names: Seq[String], past: Int, fcst: Int): String = {
    val (from, until) = window(past, fcst)
    val cols = names.filter(rolled.contains).map {
      case "weather_code" => "d.weather_code"
      case v => s"a.$v"
    }
    s"""WITH ${wideCte("hourly_7d.json")},
       |$q,
       |${nearest("wide")},
       |keyed AS (SELECT w.*, CAST(w.ts_local AS DATE) AS date
       |          FROM wide w JOIN nb USING (latitude, longitude)),
       |$rollupCtes
       |SELECT a.latitude, a.longitude, a.date, ${cols.mkString(", ")}
       |FROM agg a LEFT JOIN dom d USING (latitude, longitude, date)
       |WHERE a.date >= DATE '$from' AND a.date < DATE '$until'""".stripMargin
  }

  private def historyDaily(q: String, vars: Seq[String], lo: String, hi: String): String =
    s"""WITH ${dailyWideCte("daily_31d.json", parseSun = true)},
       |$q,
       |${nearest("dwide")}
       |SELECT d.latitude, d.longitude, d.date, ${vars.map("d." + _).mkString(", ")}
       |FROM dwide d JOIN nb USING (latitude, longitude)
       |WHERE d.date BETWEEN DATE '$lo' AND DATE '$hi'""".stripMargin

  private def historyHourly(q: String, lo: String, hi: String): String =
    s"""WITH ${wideCte("hourly_7d.json")},
       |$q,
       |${nearest("wide")}
       |SELECT w.latitude, w.longitude, w.ts_local, w.ts_utc,
       |  ${hourlyNames.map("w." + _).mkString(", ")}
       |FROM wide w JOIN nb USING (latitude, longitude)
       |WHERE CAST(w.ts_local AS DATE) BETWEEN DATE '$lo' AND DATE '$hi'""".stripMargin

  private def hourlyWithDaily(q: String, requested: Seq[String], past: Int, fcst: Int) = {
    val (from, until) = window(past, fcst)
    s"""WITH ${wideCte("hourly_7d.json")},
       |$q,
       |${nearest("wide")},
       |prg AS (SELECT w.*, CAST(w.ts_local AS DATE) AS date
       |        FROM wide w JOIN nb USING (latitude, longitude)
       |        WHERE CAST(w.ts_local AS DATE) >= DATE '$from'
       |          AND CAST(w.ts_local AS DATE) < DATE '$until'),
       |agg AS (SELECT latitude, longitude, date,
       |          max(temperature_2m) AS temperature_2m_max,
       |          min(temperature_2m) AS temperature_2m_min,
       |          round(sum(precipitation), 2) AS precipitation_sum
       |        FROM prg GROUP BY latitude, longitude, date)
       |SELECT p.latitude, p.longitude, p.ts_local, p.ts_utc, p.date,
       |  ${requested.map("p." + _).mkString(", ")},
       |  a.temperature_2m_max, a.temperature_2m_min, a.precipitation_sum
       |FROM prg p LEFT JOIN agg a USING (latitude, longitude, date)""".stripMargin
  }

  /** A per-day aggregate over every hourly connector block. */
  private def connectorDaily(aggs: String, where: String = "TRUE"): String =
    s"""WITH ${wideCte("hourly_7d.json")}
       |SELECT latitude, longitude, CAST(ts_local AS DATE) AS date, $aggs
       |FROM wide WHERE $where
       |GROUP BY latitude, longitude, CAST(ts_local AS DATE)""".stripMargin

  def sql: Map[String, String] = Map(
    "fc60_prague" -> forecastHourly(byPlace("Prague"), "hourly_7d.json", "hourly",
      hourlyNames, 0, 7),
    "fc1440_prague_past2" -> forecastDaily(byPlace("Prague"),
      WeatherSchemas.defaultDailyNames, 2, 7),
    "om_pushdown_maxmin" -> connectorDaily(
      """max(temperature_2m) AS temperature_2m_max,
        |min(temperature_2m) AS temperature_2m_min,
        |round(sum(precipitation), 2) AS precipitation_sum""".stripMargin),
    "hist1440_prague_may" -> historyDaily(byPlace("Prague"),
      WeatherSchemas.defaultDailyNames, "2024-05-05", "2024-05-20"),
    "fc15_prague_today" -> forecastHourly(byPlace("Prague"), "minutely15_2d.json",
      "minutely_15", hourlyNames, 2, 1),
    "hwd_prague" -> hourlyWithDaily(byPlace("Prague"), hourlyNames, 2, 7),
    "fc60_brno_vars" -> forecastHourly(byPlace("Brno"), "hourly_7d.json", "hourly",
      Seq("temperature_2m", "precipitation", "wind_speed_10m")
        .filter(WeatherSchemas.hourlyByName.contains), 1, 3),
    "om_scan_window" ->
      s"""WITH ${wideCte("hourly_7d.json")}
         |SELECT latitude, longitude, ts_local, temperature_2m, precipitation
         |FROM wide WHERE ts_local >= TIMESTAMP '2024-07-02 00:00:00'""".stripMargin,
    "hist60_brno" -> historyHourly(byPlace("Brno"), "2024-07-02", "2024-07-04"),
    "fc60_coords_ostrava" -> forecastHourly(byCoords(49.82, 18.26), "hourly_7d.json",
      "hourly", hourlyNames, 0, 5),
    "om_pushdown_mode" ->
      s"""WITH ${wideCte("hourly_7d.json")},
         |keyed AS (SELECT *, CAST(ts_local AS DATE) AS date FROM wide),
         |a AS (SELECT latitude, longitude, date,
         |        max(temperature_2m) AS temperature_2m_max
         |      FROM keyed GROUP BY 1, 2, 3),
         |dom AS (
         |  SELECT latitude, longitude, date, weather_code FROM (
         |    SELECT latitude, longitude, date, weather_code,
         |      row_number() OVER (PARTITION BY latitude, longitude, date
         |                         ORDER BY count(*) DESC, weather_code) AS rn
         |    FROM keyed WHERE weather_code IS NOT NULL
         |    GROUP BY latitude, longitude, date, weather_code) WHERE rn = 1)
         |SELECT a.latitude, a.longitude, a.date, d.weather_code, a.temperature_2m_max
         |FROM a LEFT JOIN dom d USING (latitude, longitude, date)""".stripMargin,
    "fc1440_liberec_vars" -> forecastDaily(byPlace("Liberec"),
      Seq("temperature_2m_max", "precipitation_sum"), 3, 4),
    "om_bail_avg" -> connectorDaily("round(avg(temperature_2m), 4) AS temperature_2m_mean"),
    "om_pushdown_dayfilter" -> connectorDaily(
      "max(temperature_2m) AS temperature_2m_max, round(sum(rain), 2) AS rain_sum",
      "CAST(ts_local AS DATE) >= DATE '2024-07-03'"),
    "hist1440_coords_month" -> historyDaily(byCoords(50.0, 14.0),
      Seq("temperature_2m_max", "temperature_2m_min", "precipitation_sum"),
      "2024-05-01", "2024-05-31"),
    "om_daily_native" ->
      s"""WITH ${dailyWideCte("hourly_7d.json", parseSun = false)}
         |SELECT latitude, longitude, date, temperature_2m_max, precipitation_sum,
         |  weather_code, sunrise
         |FROM dwide""".stripMargin,
    "hwd_plzen_vars" -> hourlyWithDaily(byPlace("Plzen"),
      Seq("temperature_2m", "relative_humidity_2m"), 2, 2),
    "om_bail_midday" -> connectorDaily("max(temperature_2m) AS temperature_2m_max",
      "ts_local >= TIMESTAMP '2024-07-02 12:00:00'"))
}
