package graft.weather

import graft.{QueryDef, Sessions}
import graft.operators.AsOf
import org.apache.spark.sql.functions._

import WxOracles._

/** Weather-path probe queries (SURVEY.md §2.1–2.4, §3.4) over the payload
  * fixtures. These exercise the [REF]/[SEM] surface — block→wide→long
  * conversion, daily rollup, resampling, geocode/nearest-grid joins, the
  * dual projection, and the as-of alignment join.
  *
  * Every query carries a DuckDB oracle over the SAME fixture JSON
  * (`read_json` + parallel unnest — [[WxOracles]]), so the whole weather
  * surface is hash-checked by the driver's t2 gate, not just rows-counted.
  * The golden equivalences (hourly→daily rollup ≡ the fixture's own daily
  * block) additionally live in ScalaTest.
  *
  * Fixture facts the oracles encode: 'Prague' geocodes to exactly
  * (50.08, 14.43) (places.json), which is also the nearest hourly block;
  * the engine's injected `now` is 2024-07-03, so forecastDays=7 /
  * pastDays=2 spans [2024-07-01, 2024-07-10).
  */
object WeatherQueries {

  private def engine(s: org.apache.spark.sql.SparkSession) = new WeatherEngine(s)

  private val prague = Location(Some("Prague"), None, None)

  def defs: Map[String, QueryDef] = Map(
    // [SEM] A1–A7: native daily rollup from hourly, granularity ≥1440 path
    "wx1_daily_rollup" -> QueryDef.sql(
      s"""WITH ${wideCte("hourly_7d.json")},
         |keyed AS (SELECT *, CAST(ts_local AS DATE) AS date FROM wide
         |          WHERE latitude = 50.08 AND longitude = 14.43),
         |$rollupCtes
         |SELECT a.latitude, a.longitude, a.date, d.weather_code,
         |  a.temperature_2m_max, a.temperature_2m_min, a.apparent_temperature_max,
         |  a.apparent_temperature_min, a.sunshine_duration, a.precipitation_sum,
         |  a.rain_sum, a.snowfall_sum, a.precipitation_hours, a.uv_index_max
         |FROM agg a LEFT JOIN dom d USING (latitude, longitude, date)
         |WHERE a.date >= DATE '2024-07-01' AND a.date < DATE '2024-07-10'
         |ORDER BY a.date""".stripMargin) { (s, _) =>
      engine(s).forecast(ForecastRequest(prague, granularity = 1440,
        forecastDays = Some(7), pastDays = Some(2)))
        .fold(e => sys.error(e), identity)
        .orderBy("date")
    },

    // A9: 15-minute → hourly resample. The probe rounds the averaged
    // (intensive) variables to 4 d.p. — summation order differs across
    // engines (oracle rule, CLAUDE.md).
    "wx2_resample_hourly" -> QueryDef.sql {
      val aggs = WeatherSchemas.hourlyVars.map { v =>
        v.kind match {
          case WeatherSchemas.Extensive => s"round(sum(${v.name}), 2) AS ${v.name}"
          case WeatherSchemas.Coded => s"CAST(max(${v.name}) AS INTEGER) AS ${v.name}"
          case _ => s"round(avg(${v.name}), 4) AS ${v.name}"
        }
      }.mkString(",\n  ")
      s"""WITH ${wideCte("minutely15_2d.json", "wide15", "minutely_15")}
         |SELECT latitude, longitude, date_trunc('hour', ts_local) AS ts_local,
         |  $aggs
         |FROM wide15
         |GROUP BY latitude, longitude, date_trunc('hour', ts_local)
         |ORDER BY ts_local""".stripMargin
    } { (s, _) =>
      val wide = WeatherOps.toWide(
        WeatherOps.readBlocks(s, s"${WeatherEngine.defaultFixtureDir}/minutely15_2d.json",
          WeatherSchemas.GranMinutely15),
        WeatherSchemas.GranMinutely15)
      val res = WeatherOps.resample(wide, "1 hour")
      val rounded = WeatherSchemas.hourlyVars.filter(_.kind == WeatherSchemas.Intensive)
        .map(_.name)
        .foldLeft(res)((df, v) => df.withColumn(v, round(col(v), 4)))
      rounded.orderBy("ts_local")
    },

    // §1.3 long (tidy) form — the downstream-ML layout (README.md:18).
    // ts_utc is emitted as NTZ wall-clock (session TZ is pinned UTC, so
    // the cast is the identity rendering of the UTC instant) — the oracle
    // compares naive timestamps on both sides.
    "wx3_long_form" -> QueryDef.sql {
      val names = WeatherSchemas.defaultHourlyNames
      val cases = names.map { v =>
        val e = if (v == "weather_code") s"CAST($v AS DOUBLE)" else v
        s"      WHEN '$v' THEN $e"
      }.mkString("\n")
      val lits = names.map(n => s"'$n'").mkString(", ")
      s"""WITH ${wideCte("hourly_7d.json")}
         |SELECT latitude, longitude, ts_local, ts_utc, u.variable,
         |    CASE u.variable
         |$cases END AS value
         |FROM wide, (SELECT unnest([$lits]) AS variable) u
         |ORDER BY latitude, ts_local, variable""".stripMargin
    } { (s, _) =>
      val wide = WeatherOps.toWide(
        WeatherOps.readBlocks(s, s"${WeatherEngine.defaultFixtureDir}/hourly_7d.json"))
      WeatherOps.toLong(wide)
        .withColumn("ts_utc", col("ts_utc").cast("timestamp_ntz"))
        .orderBy("latitude", "ts_local", "variable")
    },

    // J1: geocode lookup join incl. missing + ambiguous names
    "wx4_geocode_join" -> QueryDef.sql(
      s"""WITH p AS (SELECT * FROM read_json('${WeatherEngine.defaultFixtureDir}/places.json',
         |             format='newline_delimited',
         |             columns={place:'VARCHAR', latitude:'DOUBLE', longitude:'DOUBLE'})),
         |c AS (SELECT place, count(*) AS n, min(latitude) AS la, min(longitude) AS lo
         |      FROM p GROUP BY place),
         |r AS (SELECT unnest(['Prague','Brno','Atlantis','Springfield']) AS place)
         |SELECT r.place, CAST(coalesce(c.n, 0) AS BIGINT) AS geocode_matches,
         |  CASE WHEN c.n = 1 THEN c.la END AS resolved_latitude,
         |  CASE WHEN c.n = 1 THEN c.lo END AS resolved_longitude
         |FROM r LEFT JOIN c USING (place) ORDER BY place""".stripMargin) { (s, _) =>
      import s.implicits._
      val requests = Seq("Prague", "Brno", "Atlantis", "Springfield")
        .toDF("place")
      Geo.geocodeJoin(requests, engine(s).places).orderBy("place")
    },

    // J4: nearest-grid-point theta join, bounding-box pruned. The oracle
    // skips the bbox (a pure prune — the exact radial bound is part of
    // the Spark join condition too) and ranks by the same
    // (distance, g_lat, g_lon) order.
    "wx5_nearest_grid" -> QueryDef.sql(
      s"""WITH g AS (SELECT place, latitude AS g_lat, longitude AS g_lon
         |           FROM read_json('${WeatherEngine.defaultFixtureDir}/places.json',
         |             format='newline_delimited',
         |             columns={place:'VARCHAR', latitude:'DOUBLE', longitude:'DOUBLE'})),
         |q AS (SELECT unnest([50.0, 49.3, 49.9]) AS latitude,
         |             unnest([14.5, 16.5, 18.0]) AS longitude),
         |j AS (SELECT q.latitude, q.longitude, g.g_lat, g.g_lon, g.place,
         |        ${hav("q.latitude", "q.longitude", "g.g_lat", "g.g_lon")} AS h
         |      FROM q LEFT JOIN g
         |        ON ${hav("q.latitude", "q.longitude", "g.g_lat", "g.g_lon")} <= 100.0),
         |r AS (SELECT *, row_number() OVER (PARTITION BY latitude, longitude
         |        ORDER BY h ASC NULLS LAST, g_lat, g_lon) AS rn FROM j)
         |SELECT latitude, longitude, g_lat, g_lon, place, round(h, 3) AS grid_dist_km
         |FROM r WHERE rn = 1 ORDER BY latitude""".stripMargin) { (s, _) =>
      import s.implicits._
      val queryPoints = Seq((50.0, 14.5), (49.3, 16.5), (49.9, 18.0))
        .toDF("latitude", "longitude")
      Geo.nearestGridPoint(queryPoints,
        engine(s).places.select("place", "latitude", "longitude"))
        .orderBy("latitude")
    },

    // §2.5 flagship: rolling 3-hour mean temperature per location
    "wx6_rolling_3h" -> QueryDef.sql(
      s"""WITH ${wideCte("hourly_7d.json")}
         |SELECT latitude, longitude, ts_local, temperature_2m,
         |  round(avg(temperature_2m) OVER (PARTITION BY latitude, longitude
         |        ORDER BY ts_local ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4)
         |    AS temp_3h_mean
         |FROM wide ORDER BY latitude, ts_local""".stripMargin) { (s, _) =>
      import org.apache.spark.sql.expressions.Window
      val wide = WeatherOps.toWide(
        WeatherOps.readBlocks(s, s"${WeatherEngine.defaultFixtureDir}/hourly_7d.json"))
      val w = Window.partitionBy("latitude", "longitude").orderBy("ts_local")
        .rowsBetween(-2, Window.currentRow)
      wide.select(col("latitude"), col("longitude"), col("ts_local"),
          col("temperature_2m"),
          round(avg("temperature_2m").over(w), 4).as("temp_3h_mean"))
        .orderBy("latitude", "ts_local")
    },

    // get_history daily path over the 31-day archive block
    "wx7_history_daily" -> QueryDef.sql(
      s"""WITH ${dailyWideCte("daily_31d.json", parseSun = true)}
         |SELECT * FROM dwide
         |WHERE latitude = 50.08 AND longitude = 14.43
         |  AND date BETWEEN DATE '2024-05-05' AND DATE '2024-05-20'
         |ORDER BY date""".stripMargin) { (s, _) =>
      engine(s).history(HistoryRequest(prague, "2024-05-05", "2024-05-20",
        granularity = 1440))
        .fold(e => sys.error(e), identity)
        .orderBy("date")
    },

    // P2/J2: hourly series enriched with daily rollup values (ts_utc as
    // NTZ wall-clock — see wx3)
    "wx8_hourly_with_daily" -> QueryDef.sql {
      val hourlyCols = WeatherSchemas.defaultHourlyNames.map {
        case "weather_code" => "  CAST(p.weather_code AS INTEGER) AS weather_code"
        case v              => s"  p.$v"
      }.mkString(",\n")
      s"""WITH ${wideCte("hourly_7d.json")},
         |prg AS (SELECT *, CAST(ts_local AS DATE) AS date FROM wide
         |        WHERE latitude = 50.08 AND longitude = 14.43),
         |agg AS (
         |  SELECT latitude, longitude, date,
         |    max(temperature_2m) AS temperature_2m_max,
         |    min(temperature_2m) AS temperature_2m_min,
         |    round(sum(precipitation), 2) AS precipitation_sum
         |  FROM prg GROUP BY latitude, longitude, date)
         |SELECT p.latitude, p.longitude, p.ts_local, p.ts_utc, p.date,
         |$hourlyCols,
         |  a.temperature_2m_max, a.temperature_2m_min, a.precipitation_sum
         |FROM prg p LEFT JOIN agg a USING (latitude, longitude, date)
         |ORDER BY p.ts_local""".stripMargin
    } { (s, _) =>
      engine(s).hourlyWithDaily(ForecastRequest(prague,
        forecastDays = Some(7), pastDays = Some(2)))
        .fold(e => sys.error(e), identity)
        .withColumn("ts_utc", col("ts_utc").cast("timestamp_ntz"))
        .orderBy("ts_local")
    },

    // S1/S2: DataSource V2 connector path — projection + ts-range pushdown
    // reach the scan (asserted in OpenMeteoSourceSpec via the plan text)
    "wx10_connector_scan" -> QueryDef.sql(
      s"""WITH ${wideCte("hourly_7d.json")}
         |SELECT latitude, longitude, ts_local, temperature_2m, precipitation
         |FROM wide WHERE ts_local >= TIMESTAMP '2024-07-02 00:00:00'
         |ORDER BY latitude, ts_local""".stripMargin) { (s, _) =>
      s.read.format("openmeteo")
        .option("path", s"${WeatherEngine.defaultFixtureDir}/hourly_7d.json")
        .load()
        .filter(col("ts_local") >= lit("2024-07-02 00:00:00").cast("timestamp_ntz"))
        .select("latitude", "longitude", "ts_local", "temperature_2m", "precipitation")
        .orderBy("latitude", "ts_local")
    },

    // Connector daily rollup: pushed scan feeding the native A1-A7 agg
    "wx11_connector_rollup" -> QueryDef.sql(
      s"""WITH ${wideCte("hourly_7d.json")},
         |keyed AS (SELECT *, CAST(ts_local AS DATE) AS date FROM wide),
         |$rollupCtes
         |SELECT a.*, d.weather_code
         |FROM agg a LEFT JOIN dom d USING (latitude, longitude, date)
         |ORDER BY a.latitude, a.date""".stripMargin) { (s, _) =>
      val wide = s.read.format("openmeteo")
        .option("path", s"${WeatherEngine.defaultFixtureDir}/hourly_7d.json")
        .load()
      WeatherOps.dailyRollup(wide).orderBy("latitude", "date")
    },

    // ML feature prep (README.md:18): lags + rolling means + calendar +
    // next-hour target in one shuffle
    "wx13_ml_features" -> QueryDef.sql {
      val blocks = Seq("temperature_2m", "precipitation", "pressure_msl",
        "cloud_cover").map(featBlock).mkString(",\n")
      s"""WITH ${wideCte("hourly_7d.json")}
         |SELECT latitude, longitude, ts_local,
         |  CAST(hour(ts_local) AS INTEGER) AS hour_of_day,
         |  CAST(dayofweek(ts_local) + 1 AS INTEGER) AS day_of_week,
         |  temperature_2m, precipitation, pressure_msl, cloud_cover,
         |$blocks,
         |  lead(temperature_2m, 1) OVER w AS target_next_1h
         |FROM wide
         |WINDOW w AS (PARTITION BY latitude, longitude ORDER BY ts_local)
         |ORDER BY latitude, ts_local""".stripMargin
    } { (s, _) =>
      val wide = WeatherOps.toWide(
        WeatherOps.readBlocks(s, s"${WeatherEngine.defaultFixtureDir}/hourly_7d.json"))
      Features.hourlyFeatures(wide).orderBy("latitude", "ts_local")
    },

    // forecast-vs-actuals accuracy (batch twin of the stream-stream
    // interval join): hourly forecasts ⋈ 15-min observations equi on
    // (location, hour) — per-day MAE/bias of the temperature forecast
    "wx15_forecast_accuracy" -> QueryDef.sql(
      s"""WITH ${wideCte("hourly_7d.json")},
         |${wideCte("minutely15_2d.json", "wide15", "minutely_15")},
         |obs AS (SELECT latitude, longitude, date_trunc('hour', ts_local) AS hour,
         |          temperature_2m AS observed_temp FROM wide15),
         |fc AS (SELECT latitude, longitude, ts_local AS hour,
         |         temperature_2m AS forecast_temp FROM wide)
         |SELECT o.latitude, o.longitude, CAST(o.hour AS DATE) AS date,
         |  round(avg(abs(o.observed_temp - f.forecast_temp)), 4) AS mae,
         |  round(avg(o.observed_temp - f.forecast_temp), 4) AS bias,
         |  count(*) AS n_obs
         |FROM obs o JOIN fc f USING (latitude, longitude, hour)
         |GROUP BY o.latitude, o.longitude, CAST(o.hour AS DATE)
         |ORDER BY o.latitude, date""".stripMargin) { (s, _) =>
      val forecasts = WeatherOps.toWide(WeatherOps.readBlocks(s,
        s"${WeatherEngine.defaultFixtureDir}/hourly_7d.json"))
        .select(col("latitude"), col("longitude"),
          col("ts_local").as("hour"), col("temperature_2m").as("forecast_temp"))
      val observed = WeatherOps.toWide(
        WeatherOps.readBlocks(s,
          s"${WeatherEngine.defaultFixtureDir}/minutely15_2d.json",
          WeatherSchemas.GranMinutely15),
        WeatherSchemas.GranMinutely15)
        .select(col("latitude"), col("longitude"),
          date_trunc("hour", col("ts_local")).cast("timestamp_ntz").as("hour"),
          col("temperature_2m").as("observed_temp"))
      observed.join(forecasts, Seq("latitude", "longitude", "hour"))
        .groupBy(col("latitude"), col("longitude"),
          to_date(col("hour")).as("date"))
        .agg(round(avg(abs(col("observed_temp") - col("forecast_temp"))), 4)
            .as("mae"),
          round(avg(col("observed_temp") - col("forecast_temp")), 4).as("bias"),
          count(lit(1)).as("n_obs"))
        .orderBy("latitude", "date")
    },

    // gap filling: bounded linear interpolation of intensive variables
    "wx14_interpolate" -> QueryDef.sql(
      s"""WITH ${wideCte("edge_dst_nulls.json", "ewide")},
         |t0 AS (SELECT *, epoch(ts_utc) AS t FROM ewide),
         |f AS (
         |  SELECT latitude, longitude, ts_local, t,
         |    temperature_2m, relative_humidity_2m, precipitation,
         |${lastNext("temperature_2m")},
         |${lastNext("relative_humidity_2m")}
         |  FROM t0
         |  WINDOW
         |    wp AS (PARTITION BY latitude, longitude ORDER BY ts_local
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |    wn AS (PARTITION BY latitude, longitude ORDER BY ts_local
         |           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
         |SELECT latitude, longitude, ts_local,
         |${interp("temperature_2m")},
         |${interp("relative_humidity_2m")},
         |  precipitation
         |FROM f ORDER BY latitude, ts_local""".stripMargin) { (s, _) =>
      val wide = WeatherOps.toWide(WeatherOps.readBlocks(s,
        s"${WeatherEngine.defaultFixtureDir}/edge_dst_nulls.json"))
      WeatherOps.interpolateGaps(wide)
        .select("latitude", "longitude", "ts_local", "temperature_2m",
          "relative_humidity_2m", "precipitation")
        .orderBy("latitude", "ts_local")
    },

    // §4 aggregate pushdown path: the source's pre-aggregated daily block
    // (sunrise stays a raw string — the connector's passthrough contract)
    "wx12_connector_daily" -> QueryDef.sql(
      s"""WITH ${dailyWideCte("hourly_7d.json", parseSun = false)}
         |SELECT latitude, longitude, date, temperature_2m_max, precipitation_sum,
         |  weather_code, sunrise
         |FROM dwide ORDER BY latitude, date""".stripMargin) { (s, _) =>
      s.read.format("openmeteo")
        .option("path", s"${WeatherEngine.defaultFixtureDir}/hourly_7d.json")
        .option("granularity", "daily")
        .load()
        .select("latitude", "longitude", "date", "temperature_2m_max",
          "precipitation_sum", "weather_code", "sunrise")
        .orderBy("latitude", "date")
    },

    // §4 A7 mode-pushdown leg: the dominant daily weather_code asked as
    // `mode() WITHIN GROUP (ORDER BY weather_code)` (ASC ⇒ smallest on
    // ties — the native dailyRollup's A7 expression) over the HOURLY
    // connector scan; DailyRollupPushdown rewrites it onto the source's
    // daily weather_code block, so the hourly rows are never fetched. The
    // oracle recomputes the dominant code natively from the hourly
    // arrays — this row IS the pushed ≡ native equivalence for A7,
    // driver-checked (DailyRollupPushdownSpec carries the plan gate).
    "wx20_connector_daily_mode" -> QueryDef.sql(
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
         |SELECT a.latitude, a.longitude, a.date, d.weather_code,
         |  a.temperature_2m_max
         |FROM a LEFT JOIN dom d USING (latitude, longitude, date)
         |ORDER BY a.latitude, a.date""".stripMargin) { (s, _) =>
      s.read.format("openmeteo")
        .option("path", s"${WeatherEngine.defaultFixtureDir}/hourly_7d.json")
        .load()
        .groupBy(col("latitude"), col("longitude"),
          to_date(col("ts_local")).as("date"))
        .agg(expr("mode() within group (order by weather_code)")
            .as("weather_code"),
          max("temperature_2m").as("temperature_2m_max"))
        .select("latitude", "longitude", "date", "weather_code",
          "temperature_2m_max")
        .orderBy("latitude", "date")
    },

    // S2d exercised by an ORACLE row, not only by PartitioningSpec: the
    // connector's reported per-location partitioning
    // (KeyGroupedPartitioning on (latitude, longitude)) lets the
    // grouped fleet aggregate run WITHOUT an exchange, and the
    // aggregated per-location table then serves as the grid side of
    // the J4 nearest-grid enrichment (query points → nearest reporting
    // location + its climate summary). avg is the CLAUDE-safe
    // round(sum,4)/count form (identical dividend/divisor ⇒
    // bit-identical IEEE quotient on both engines). The v2-bucketing
    // conf matters at PLANNING time only: the plan is forced inside
    // the closure (localCheckpoint) and the conf restored in finally —
    // the conf-leak discipline. PartitioningSpec holds the no-exchange
    // plan gate for this exact composition.
    "wx21_connector_grid_enrich" -> QueryDef.sql(
      s"""WITH ${wideCte("hourly_7d.json")},
         |g AS (SELECT latitude AS g_lat, longitude AS g_lon,
         |        round(sum(temperature_2m), 4) / count(*) AS avg_temp,
         |        CAST(count(*) AS BIGINT) AS n_hours
         |      FROM wide GROUP BY latitude, longitude),
         |q AS (SELECT unnest([50.0, 49.3, 49.9]) AS latitude,
         |             unnest([14.5, 16.5, 18.0]) AS longitude),
         |j AS (SELECT q.latitude, q.longitude, g.g_lat, g.g_lon,
         |        g.avg_temp, g.n_hours,
         |        ${hav("q.latitude", "q.longitude", "g.g_lat", "g.g_lon")} AS h
         |      FROM q LEFT JOIN g
         |        ON ${hav("q.latitude", "q.longitude", "g.g_lat", "g.g_lon")} <= 100.0),
         |r AS (SELECT *, row_number() OVER (PARTITION BY latitude, longitude
         |        ORDER BY h ASC NULLS LAST, g_lat, g_lon) AS rn FROM j)
         |SELECT latitude, longitude, g_lat, g_lon, avg_temp, n_hours,
         |  round(h, 3) AS grid_dist_km
         |FROM r WHERE rn = 1 ORDER BY latitude""".stripMargin) { (s, _) =>
      import s.implicits._
      Sessions.withConfs(s, "spark.sql.sources.v2.bucketing.enabled" -> "true") {
        val fleet = s.read.format("openmeteo")
          .option("path", s"${WeatherEngine.defaultFixtureDir}/hourly_7d.json")
          .load()
          .groupBy("latitude", "longitude")
          .agg((round(sum("temperature_2m"), 4) / count(lit(1)))
              .as("avg_temp"),
            count(lit(1)).as("n_hours"))
        val queryPoints = Seq((50.0, 14.5), (49.3, 16.5), (49.9, 18.0))
          .toDF("latitude", "longitude")
        Geo.nearestGridPoint(queryPoints, fleet)
          .select("latitude", "longitude", "g_lat", "g_lon",
            "avg_temp", "n_hours", "grid_dist_km")
          .localCheckpoint()
          .orderBy("latitude")
      }
    },

    // §4 aggregate pushdown: a global MIN/MAX through the connector is
    // answered from the source's DAILY pre-aggregates (DailyRollupPushdown
    // re-aggregates a daily scan, asserted in DailyRollupPushdownSpec);
    // the oracle computes the same values natively from the hourly
    // arrays — so this row IS the pushed ≡ native equivalence,
    // oracle-checked.
    "wx16_connector_agg" -> QueryDef.sql(
      s"""WITH ${wideCte("hourly_7d.json")}
         |SELECT max(temperature_2m) AS t_max, min(temperature_2m) AS t_min,
         |  max(uv_index) AS uv_max
         |FROM wide""".stripMargin) { (s, _) =>
      s.read.format("openmeteo")
        .option("path", s"${WeatherEngine.defaultFixtureDir}/hourly_7d.json")
        .load()
        .agg(max("temperature_2m").as("t_max"), min("temperature_2m").as("t_min"),
          max("uv_index").as("uv_max"))
    },

    // §4 GROUPED aggregate pushdown — the multi-location fleet query:
    // per-(latitude, longitude) MIN/MAX answered from each location's
    // daily pre-aggregates (DailyRollupPushdown: the grouped Aggregate
    // reads a daily scan and takes the max/min over its days).
    // Oracle computes the same per-location values from the hourly arrays:
    // grouped pushed ≡ native, driver-checked over 2 locations.
    "wx17_connector_agg_grouped" -> QueryDef.sql(
      s"""WITH ${wideCte("hourly_7d.json")}
         |SELECT latitude, longitude,
         |  max(temperature_2m) AS t_max, min(temperature_2m) AS t_min
         |FROM wide GROUP BY latitude, longitude
         |ORDER BY latitude, longitude""".stripMargin) { (s, _) =>
      s.read.format("openmeteo")
        .option("path", s"${WeatherEngine.defaultFixtureDir}/hourly_7d.json")
        .load()
        .groupBy("latitude", "longitude")
        .agg(max("temperature_2m").as("t_max"), min("temperature_2m").as("t_min"))
        .orderBy("latitude", "longitude")
    },

    // §4 SUM-of-case aggregate pushdown: the two EXACT daily counterparts
    // — precipitation_hours (integer slot count) and sunshine_duration
    // (multiples of 3600 s) — answered by SUMMING the source's daily
    // block instead of scanning hourly rows (DailyRollupPushdown).
    // The oracle derives the same values from the hourly arrays, so
    // pushed ≡ hourly-derived proves the payload-consistency contract
    // end-to-end. Rounded daily sums (precipitation_sum…) still bail.
    "wx18_connector_agg_sumcase" -> QueryDef.sql(
      s"""WITH ${wideCte("hourly_7d.json")}
         |SELECT
         |  CAST(sum(CASE WHEN precipitation > 0 THEN 1.0 ELSE 0.0 END) AS DOUBLE)
         |    AS precip_hours,
         |  CAST(sum(CASE WHEN shortwave_radiation > 120 THEN 3600.0 ELSE 0.0 END) AS DOUBLE)
         |    AS sunshine_s
         |FROM wide""".stripMargin) { (s, _) =>
      s.read.format("openmeteo")
        .option("path", s"${WeatherEngine.defaultFixtureDir}/hourly_7d.json")
        .load()
        .agg(
          sum(when(col("precipitation") > 0, 1.0).otherwise(0.0))
            .as("precip_hours"),
          sum(when(col("shortwave_radiation") > 120, 3600.0).otherwise(0.0))
            .as("sunshine_s"))
    },

    // J3 generic as-of: probe points 30 min past each hour joined to the
    // latest at-or-earlier weather observation. DuckDB's native ASOF JOIN
    // is the oracle for the union+window single-shuffle plan.
    // V2 TopN pushdown (SupportsPushDownTopN): ORDER BY time LIMIT k
    // reaches the scan — the "latest readings" shape; each partition
    // emits only its time-extreme candidates (tie-inclusive, so the
    // trailing lat/lon tie-breaks stay correct) and Spark's kept
    // TakeOrdered settles the final order. LIMIT 7 lands mid-hour on
    // the 2-location grid, exercising the tie boundary.
    "wx19_connector_topn" -> QueryDef.sql(
      s"""WITH ${wideCte("hourly_7d.json")}
         |SELECT latitude, longitude, ts_local, temperature_2m
         |FROM wide
         |ORDER BY ts_local DESC, latitude, longitude
         |LIMIT 7""".stripMargin) { (s, _) =>
      s.read.format("openmeteo")
        .option("path", s"${WeatherEngine.defaultFixtureDir}/hourly_7d.json")
        .load()
        .select("latitude", "longitude", "ts_local", "temperature_2m")
        .orderBy(col("ts_local").desc, col("latitude"), col("longitude"))
        .limit(7)
    },

    "wx9_asof_weather" -> QueryDef.sql(
      s"""WITH ${wideCte("hourly_7d.json")},
         |probes AS (SELECT latitude, longitude,
         |             ts_local + INTERVAL 30 MINUTE AS ts_local FROM wide)
         |SELECT p.latitude, p.longitude, p.ts_local,
         |  w.temperature_2m AS asof_temperature_2m,
         |  w.precipitation AS asof_precipitation
         |FROM probes p ASOF LEFT JOIN wide w
         |  ON p.latitude = w.latitude AND p.longitude = w.longitude
         | AND p.ts_local >= w.ts_local
         |ORDER BY p.latitude, p.ts_local""".stripMargin) { (s, _) =>
      val wide = WeatherOps.toWide(
        WeatherOps.readBlocks(s, s"${WeatherEngine.defaultFixtureDir}/hourly_7d.json"))
        .select("latitude", "longitude", "ts_local", "temperature_2m", "precipitation")
      val probes = wide.select(col("latitude"), col("longitude"),
        (col("ts_local") + expr("INTERVAL 30 MINUTES")).as("ts_local"))
      AsOf.asofJoin(probes, wide, Seq("latitude", "longitude"), "ts_local",
        Seq("temperature_2m", "precipitation"))
        .orderBy("latitude", "ts_local")
    }
  )
}
