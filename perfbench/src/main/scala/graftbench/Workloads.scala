package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.weather._

/** One operation of a workload: `build` returns the DataFrame (or, for a
  * weather request the engine rejects, the validation message), and the
  * harness then runs the action. `expectError` marks requests that must be
  * rejected with a message containing that fragment.
  */
final case class Op(name: String, build: () => Either[String, DataFrame],
    expectError: Option[String] = None)

object Workloads {

  /** Batch workloads: SparkEntry query names run once per pass, in an
    * order the seed shuffles. `batch_pipeline` is the LLM-data cleaning
    * pass (d3, d7, s12, t10) plus one query for each layer that no other
    * workload reaches: a TPC-H scan/aggregate (a10), OverlapJoinRewrite
    * (j12) and an AvailableNow replay (st6).
    */
  val batch: Map[String, Seq[String]] = Map(
    "batch_pipeline" -> Seq(
      "d3_minhash_neardup", "d7_neardup_clusters", "s12_semantic_dedup",
      "t10_gopher_repetition", "a10_tpch_q1", "j12_overlap_rewrite",
      "st6_stream_windowed_agg"))

  def batchOps(spark: SparkSession, workload: String, dataDir: String): Seq[Op] = {
    val qs = graft.SparkEntry.queries
    batch(workload).map { n =>
      val fn = qs.getOrElse(n, sys.error(s"query $n is not in SparkEntry.queries"))
      Op(n, () => Right(fn(spark, dataDir)))
    }
  }

  // ---- wx_tool_calls: a fixed catalog of distinct tool requests -------

  private def place(p: String) = Location(Some(p), None, None)
  private def at(lat: Double, lon: Double) = Location(None, Some(lat), Some(lon))

  /** The catalog. Nothing records how often real callers make each
    * request, so every request is served equally often (see `blockCounts`).
    * A rejected request expects the engine's validation message.
    */
  def wxCatalog(spark: SparkSession, fixtureDir: String): Seq[Op] = {
    lazy val eng = new WeatherEngine(spark, fixtureDir)
    def hourly = s"$fixtureDir/hourly_7d.json"
    def om(gran: String = "hourly") =
      spark.read.format("openmeteo").option("path", hourly)
        .option("granularity", gran).load()
    def fc(r: ForecastRequest) = () => eng.forecast(r)
    def hist(r: HistoryRequest) = () => eng.history(r)
    def hwd(r: ForecastRequest) = () => eng.hourlyWithDaily(r)
    def conn(df: => DataFrame) = () => Right(df)
    val dayKey = Seq(col("latitude"), col("longitude"), to_date(col("ts_local")).as("date"))
    Seq(
      Op("fc60_prague", fc(ForecastRequest(place("Prague")))),
      Op("fc1440_prague_past2", fc(ForecastRequest(place("Prague"), granularity = 1440,
        forecastDays = Some(7), pastDays = Some(2)))),
      Op("om_pushdown_maxmin", conn(om().groupBy(dayKey: _*).agg(
        max("temperature_2m").as("temperature_2m_max"),
        min("temperature_2m").as("temperature_2m_min"),
        round(sum("precipitation"), 2).as("precipitation_sum")))),
      Op("hist1440_prague_may", hist(HistoryRequest(place("Prague"), "2024-05-05",
        "2024-05-20", granularity = 1440))),
      Op("fc15_prague_today", fc(ForecastRequest(place("Prague"), granularity = 15,
        forecastDays = Some(1), pastDays = Some(2)))),
      Op("hwd_prague", hwd(ForecastRequest(place("Prague"), forecastDays = Some(7),
        pastDays = Some(2)))),
      Op("fc60_brno_vars", fc(ForecastRequest(place("Brno"), forecastDays = Some(3),
        pastDays = Some(1), variables = Some(Seq("temperature_2m", "precipitation",
          "wind_speed_10m"))))),
      Op("om_scan_window", conn(om()
        .filter(col("ts_local") >= lit("2024-07-02 00:00:00").cast("timestamp_ntz"))
        .select("latitude", "longitude", "ts_local", "temperature_2m", "precipitation"))),
      Op("hist60_brno", hist(HistoryRequest(place("Brno"), "2024-07-02", "2024-07-04"))),
      Op("bad_latitude", fc(ForecastRequest(at(95.0, 14.4))),
        Some("Invalid coordinates: latitude 95.0 not in [-90, 90]")),
      Op("fc60_coords_ostrava", fc(ForecastRequest(at(49.82, 18.26),
        forecastDays = Some(5)))),
      Op("om_pushdown_mode", conn(om().groupBy(dayKey: _*).agg(
        expr("mode() within group (order by weather_code)").as("weather_code"),
        max("temperature_2m").as("temperature_2m_max")))),
      Op("fc1440_liberec_vars", fc(ForecastRequest(place("Liberec"), granularity = 1440,
        pastDays = Some(3), forecastDays = Some(4),
        dailyVariables = Some(Seq("temperature_2m_max", "precipitation_sum"))))),
      Op("om_bail_avg", conn(om().groupBy(dayKey: _*).agg(
        round(avg("temperature_2m"), 4).as("temperature_2m_mean")))),
      Op("hist15_rejected", hist(HistoryRequest(place("Prague"), "2024-07-01",
        "2024-07-02", granularity = 15)),
        Some("Granularity 15 not supported for historical data")),
      Op("om_pushdown_dayfilter", conn(om()
        .filter(to_date(col("ts_local")) >= lit("2024-07-03").cast("date"))
        .groupBy(dayKey: _*).agg(max("temperature_2m").as("temperature_2m_max"),
          round(sum("rain"), 2).as("rain_sum")))),
      Op("hist1440_coords_month", hist(HistoryRequest(at(50.0, 14.0), "2024-05-01",
        "2024-05-31", granularity = 1440,
        variables = Some(Seq("temperature_2m_max", "temperature_2m_min",
          "precipitation_sum"))))),
      Op("unknown_place", fc(ForecastRequest(place("Atlantis"))),
        Some("Could not find coordinates for place: 'Atlantis'")),
      Op("om_daily_native", conn(om("daily")
        .select("latitude", "longitude", "date", "temperature_2m_max",
          "precipitation_sum", "weather_code", "sunrise"))),
      Op("hwd_plzen_vars", hwd(ForecastRequest(place("Plzen"), forecastDays = Some(2),
        pastDays = Some(2), variables = Some(Seq("temperature_2m",
          "relative_humidity_2m"))))),
      Op("om_bail_midday", conn(om()
        .filter(col("ts_local") >= lit("2024-07-02 12:00:00").cast("timestamp_ntz"))
        .groupBy(dayKey: _*).agg(max("temperature_2m").as("temperature_2m_max")))),
      Op("ambiguous_springfield", fc(ForecastRequest(place("Springfield"))),
        Some("Ambiguous place 'Springfield'")))
  }

  /** Calls per block of each served request and of each request that
    * must be rejected: 18 served requests twice and 4 rejected ones once
    * make a block of 40 calls, a tenth of them rejected. A block holds
    * every request in its share, in an order the seed shuffles, so runs
    * with different seeds serve the same mix and differ only in order.
    */
  val servedPerBlock = 2
  val rejectedPerBlock = 1

  def blockCounts(catalog: Seq[Op]): IndexedSeq[Int] =
    catalog.map(op => if (op.expectError.isDefined) rejectedPerBlock else servedPerBlock)
      .toIndexedSeq

  def blockCalls(catalog: Seq[Op]): Int = blockCounts(catalog).sum

  /** The seeded call sequence: indices into the catalog. */
  def wxSequence(catalog: Seq[Op], seed: Long, blocks: Int): Array[Int] = {
    val rnd = new scala.util.Random(seed)
    val block = blockCounts(catalog).zipWithIndex.flatMap { case (n, i) => Seq.fill(n)(i) }
    Array.fill(blocks)(rnd.shuffle(block)).flatten
  }
}
