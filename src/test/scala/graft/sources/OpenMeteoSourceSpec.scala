package graft.sources.openmeteo

import graft.TestSpark

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OpenMeteoSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val fixture = s"${TestSpark.fixtures}/hourly_7d.json"

  private def read() = spark.read.format("openmeteo")
    .option("path", fixture).load()

  test("scan reads all blocks as wide rows") {
    val df = read()
    assert(df.count() === 2 * 7 * 24)
    assert(df.schema.fieldNames.take(4) ===
      Array("latitude", "longitude", "ts_local", "ts_utc"))
  }

  test("projection pushdown: required columns become the request variables") {
    val df = read().select("ts_local", "temperature_2m")
    val scanDesc = df.queryExecution.executedPlan.toString()
    assert(scanDesc.contains("RequestedVariables: [temperature_2m]"),
      s"scan not pruned:\n$scanDesc")
    assert(df.count() === 2 * 7 * 24)
  }

  test("filter pushdown: ts_local range is consumed by the scan") {
    val df = read()
      .filter(col("ts_local") >= lit("2024-07-02 00:00:00").cast("timestamp_ntz") &&
        col("ts_local") < lit("2024-07-04 00:00:00").cast("timestamp_ntz"))
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("PushedFilters: [") &&
      plan.contains("ts_local"), s"filters not pushed:\n$plan")
    assert(df.count() === 2 * 2 * 24) // 2 locations × 2 days
    // fully consumed: no lingering post-scan Filter on ts_local
    assert(!plan.contains("Filter (isnotnull(ts_local"), s"post-scan filter remains:\n$plan")
  }

  test("ts_utc equals local minus offset through the connector") {
    val first = read().orderBy("latitude", "ts_local").limit(1)
      .select("ts_local", "ts_utc").collect()(0)
    assert(first.getAs[java.time.LocalDateTime](0).toString.startsWith("2024-07-01T00:00"))
    assert(first.getAs[java.sql.Timestamp](1).toInstant.toString.startsWith("2024-06-30T22:00"))
  }

  test("connector result agrees with the JSON-reader path (pushed ≡ native, §4)") {
    // ts_utc included: both paths must agree on the UTC instant, not just
    // the local wall-clock (ADVICE r1: ts_utc was session-tz dependent)
    val cols = Seq("latitude", "ts_local", "ts_utc", "temperature_2m", "precipitation")
    val viaConnector = read().select(cols.map(col): _*)
    val viaJson = graft.weather.WeatherOps.toWide(
      graft.weather.WeatherOps.readBlocks(spark, fixture))
      .select(cols.map(col): _*)
    assert(viaConnector.exceptAll(viaJson).count() === 0)
    assert(viaJson.exceptAll(viaConnector).count() === 0)
  }

  test("retry decorator sits on the actual scan path (injected transient failures)") {
    val before = CallCounters.get("forecast")
    val df = spark.read.format("openmeteo")
      .option("path", fixture)
      .option("chaosFailFirst", "true") // first fetch of every block fails
      .option("backoffBaseMs", "1")
      .load()
    assert(df.count() === 2 * 7 * 24) // scan survives via RetryingTransport
    // every block cost at least 2 transport calls (1 failure + 1 retry)
    assert(CallCounters.get("forecast") - before >= 4)
  }

  test("retry policy: transient errors retried with backoff, then succeed") {
    var calls = 0
    val flaky = new Transport {
      override def fetch(p: Map[String, String]): String = {
        calls += 1
        if (calls < 3) throw new TransientTransportException("timeout")
        "ok"
      }
    }
    val t = new RetryingTransport(flaky, RetryPolicy(maxRetries = 3, backoffBaseMs = 1L))
    assert(t.fetch(Map.empty) === "ok")
    assert(calls === 3)
  }

  test("retry policy: fatal errors fail fast without retry (server.py:80-82)") {
    var calls = 0
    val fatal = new Transport {
      override def fetch(p: Map[String, String]): String = {
        calls += 1; throw new FatalTransportException("400 bad request")
      }
    }
    val t = new RetryingTransport(fatal, RetryPolicy(maxRetries = 3, backoffBaseMs = 1L))
    intercept[FatalTransportException](t.fetch(Map.empty))
    assert(calls === 1)
  }

  test("retry policy: exhausted retries surface the last transient error") {
    val alwaysDown = new Transport {
      override def fetch(p: Map[String, String]): String =
        throw new TransientTransportException("down")
    }
    val t = new RetryingTransport(alwaysDown, RetryPolicy(maxRetries = 2, backoffBaseMs = 1L))
    intercept[RuntimeException](t.fetch(Map.empty))
    assert(t.attempts === 3) // 2 retries + 1 fallback
  }

  test("rate limiter enforces the minimum call spacing (server.py:108)") {
    val inner = new Transport {
      override def fetch(p: Map[String, String]): String = "ok"
    }
    val t = new RateLimitedTransport(inner, minDelayMs = 50L)
    val t0 = System.currentTimeMillis()
    t.fetch(Map.empty); t.fetch(Map.empty); t.fetch(Map.empty)
    assert(System.currentTimeMillis() - t0 >= 100L)
  }

  test("offline transport resolves the nearest block and counts calls") {
    val t = new OfflineTransport(fixture)
    val before = CallCounters.get("forecast")
    val brno = t.fetch(Map("latitude" -> "49.2", "longitude" -> "16.6"))
    assert(OfflineTransport.extractNumber(brno, "latitude") === 49.19)
    intercept[FatalTransportException](t.fetch(Map.empty))
    intercept[FatalTransportException](
      new OfflineTransport("/nonexistent.json").fetch(
        Map("latitude" -> "0", "longitude" -> "0")))
  }

  test("daily granularity reads the source's pre-aggregated block") {
    val daily = spark.read.format("openmeteo")
      .option("path", fixture).option("granularity", "daily").load()
    assert(daily.count() === 2 * 7)
    assert(daily.schema("date").dataType.typeName === "date")
    assert(daily.schema("sunrise").dataType.typeName === "string")
  }

  test("aggregate pushdown golden: source daily block equals native rollup (§4)") {
    val derivable = Seq("weather_code", "temperature_2m_max", "temperature_2m_min",
      "apparent_temperature_max", "apparent_temperature_min", "precipitation_sum",
      "rain_sum", "snowfall_sum", "precipitation_hours", "sunshine_duration",
      "uv_index_max")
    val pushed = spark.read.format("openmeteo")
      .option("path", fixture).option("granularity", "daily").load()
      .select((Seq("latitude", "longitude", "date") ++ derivable).map(col): _*)
    val native = graft.weather.WeatherOps.dailyRollup(
      spark.read.format("openmeteo").option("path", fixture).load()
        .withColumnRenamed("ts_local", "ts_local"))
      .select((Seq("latitude", "longitude", "date") ++ derivable).map(col): _*)
    assert(pushed.count() === 14 && native.count() === 14)
    val joined = pushed.as("p").join(native.as("n"), Seq("latitude", "longitude", "date"))
    derivable.foreach { v =>
      val bad = joined.filter(abs(col(s"p.$v") - col(s"n.$v")) > 1e-9).count()
      assert(bad === 0, s"pushed daily '$v' != native rollup")
    }
  }

  test("maxPartitions caps parallelism without dropping blocks") {
    val df = spark.read.format("openmeteo")
      .option("path", fixture).option("maxPartitions", "1").load()
    assert(df.rdd.getNumPartitions === 1)
    assert(df.count() === 2 * 7 * 24) // both blocks still fully read
  }

  test("limit pushdown stops block fetches early") {
    val before = CallCounters.get("forecast")
    val df = spark.read.format("openmeteo")
      .option("path", fixture).option("maxPartitions", "1").load()
      .limit(5)
    assert(df.count() === 5)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedLimit: 5"), s"limit not pushed:\n$plan")
    // single partition, 5 rows from the first block: exactly one fetch,
    // the second block is never requested
    assert(CallCounters.get("forecast") - before === 1)
  }

  test("TopN pushdown: ORDER BY ts_local DESC LIMIT k equals the full-sort result") {
    val df = read()
      .select("latitude", "longitude", "ts_local", "temperature_2m")
      .orderBy(col("ts_local").desc, col("latitude"))
      .limit(7)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedTopN: ORDER BY ts_local DESC LIMIT 7"),
      s"TopN not pushed:\n$plan")
    // oracle: same top-7 from the JSON-reader path with a full sort
    val expected = graft.weather.WeatherOps.toWide(
      graft.weather.WeatherOps.readBlocks(spark, fixture))
      .select("latitude", "longitude", "ts_local", "temperature_2m")
      .orderBy(col("ts_local").desc, col("latitude"))
      .limit(7)
    assert(df.collect().map(_.toString).toSeq ===
      expected.collect().map(_.toString).toSeq)
  }

  test("TopN pushdown ASC keeps the earliest rows; non-time leading key is rejected") {
    val asc = read().select("latitude", "ts_local")
      .orderBy(col("ts_local"), col("latitude")).limit(3)
    val ascPlan = asc.queryExecution.executedPlan.toString
    assert(ascPlan.contains("PushedTopN: ORDER BY ts_local ASC LIMIT 3"),
      s"ASC TopN not pushed:\n$ascPlan")
    // 3 earliest: hour 0 at both locations + hour 1 at the smaller lat
    val rows = asc.collect()
    assert(rows.length === 3)
    assert(rows.forall(_.getAs[java.time.LocalDateTime]("ts_local")
      .toString.startsWith("2024-07-01T0")))

    val rejected = read().select("latitude", "ts_local", "temperature_2m")
      .orderBy(col("temperature_2m").desc).limit(3)
    val rejPlan = rejected.queryExecution.executedPlan.toString
    assert(!rejPlan.contains("PushedTopN"),
      s"non-time TopN must not push:\n$rejPlan")
    assert(rejected.count() === 3)
  }

  test("TopN reader emits only tie-inclusive candidates, never full histories") {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, NullOrdering}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    // one partition → both blocks flow through ONE reader's tie-inclusive
    // retention (the per-partition guarantee under test)
    val opts = OpenMeteoOptions(new CaseInsensitiveStringMap(
      java.util.Map.of("path", fixture, "maxPartitions", "1")))
    val builder = new OpenMeteoScanBuilder(opts)
    val order = Expressions.sort(Expressions.column("ts_local"),
      SortDirection.DESCENDING, NullOrdering.NULLS_LAST)
    assert(builder.pushTopN(Array(order), 7))
    val scan = builder.build().asInstanceOf[OpenMeteoScan]
    val parts = scan.toBatch.planInputPartitions()
    val factory = scan.toBatch.createReaderFactory()
    var emitted = 0
    parts.foreach { p =>
      val r = factory.createReader(p)
      while (r.next()) { r.get(); emitted += 1 }
      r.close()
    }
    // 2 blocks share the hourly grid: top-7 by ts spans 4 distinct hours,
    // tie-inclusive retention keeps 4 hours × ≤2 locations = 8 rows —
    // versus 336 for the unpushed scan
    assert(emitted >= 7 && emitted <= 8, s"emitted $emitted candidate rows")
  }

  test("pushed date range splits into date-chunk partitions without dup or loss") {
    val df = spark.read.format("openmeteo")
      .option("path", fixture).option("chunkDays", "2").load()
      .filter(col("ts_local") >= lit("2024-07-01 00:00:00").cast("timestamp_ntz") &&
        col("ts_local") < lit("2024-07-07 00:00:00").cast("timestamp_ntz"))
    // 6-day span / 2-day chunks = 3 chunks × 2 block-groups = 6 partitions
    assert(df.rdd.getNumPartitions === 6)
    assert(df.count() === 2 * 6 * 24)
    assert(df.select("latitude", "ts_local").distinct().count() === 2 * 6 * 24)
  }

  test("combined < and <= upper bounds keep the boundary row") {
    val df = read().filter(
      col("ts_local") <= lit("2024-07-02 05:00:00").cast("timestamp_ntz") &&
        col("ts_local") < lit("2024-07-03 00:00:00").cast("timestamp_ntz"))
    // inclusive bound is the tighter one: hours 00:00..05:00 on 2 days’ worth
    assert(df.count() === 2 * (24 + 6))
  }

  test("daily scan takes a date range as its pushed window") {
    val daily = spark.read.format("openmeteo").option("path", fixture)
      .option("granularity", "daily").load()
    val df = daily.filter(col("date") > lit(java.sql.Date.valueOf("2024-07-01")) &&
      col("date") <= lit(java.sql.Date.valueOf("2024-07-03")))
    // consumed by the scan: no post-scan Filter node
    assert(!df.queryExecution.optimizedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Filter]),
      df.queryExecution.optimizedPlan.toString)
    val days = df.select("date").distinct().orderBy("date").collect().map(_.getDate(0).toString)
    assert(days.toSeq === Seq("2024-07-02", "2024-07-03"))
    assert(df.count() === 2 * 2)
  }

  test("runtime coordinate filtering prunes block partitions before any fetch") {
    import org.apache.spark.sql.sources.{EqualTo, In}
    val opts = OpenMeteoOptions(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("path", fixture)))
    // both fixture coordinates are knowable planner-side
    assert(opts.blockCoordinates ===
      Some(IndexedSeq((50.08, 14.43), (49.19, 16.61))))

    def blockSet(scan: OpenMeteoScan): Set[Int] =
      scan.planInputPartitions().flatMap {
        case p: OpenMeteoPartition => p.blockIndices
        case p: KeyedOpenMeteoPartition => p.blockIndices
      }.toSet

    val schema = OpenMeteoTable.wideSchema(opts)
    val s1 = new OpenMeteoScan(opts, schema, Array.empty, None, None)
    assert(blockSet(s1) === Set(0, 1))
    s1.filter(Array[org.apache.spark.sql.sources.Filter](In("latitude", Array(java.lang.Double.valueOf(50.08)))))
    assert(blockSet(s1) === Set(0), "runtime In must drop the other block")

    val s2 = new OpenMeteoScan(opts, schema, Array.empty, None, None)
    s2.filter(Array[org.apache.spark.sql.sources.Filter](EqualTo("longitude", java.lang.Double.valueOf(16.61))))
    assert(blockSet(s2) === Set(1))

    // no coordinate matches → zero partitions, zero fetches
    val s3 = new OpenMeteoScan(opts, schema, Array.empty, None, None)
    s3.filter(Array[org.apache.spark.sql.sources.Filter](In("latitude", Array(java.lang.Double.valueOf(-1.0)))))
    assert(s3.planInputPartitions().isEmpty)

    // an uninterpretable value set must NOT prune (advisory contract)
    val s4 = new OpenMeteoScan(opts, schema, Array.empty, None, None)
    s4.filter(Array[org.apache.spark.sql.sources.Filter](In("latitude", Array[Any](null))))
    assert(blockSet(s4) === Set(0, 1))
  }

  test("join against a location dim delivers a runtime filter end-to-end") {
    import spark.implicits._
    val dim = Seq((50.08, "prague")).toDF("latitude", "city")
    val joined = read().join(broadcast(dim), Seq("latitude"))
      .select("latitude", "city", "ts_local", "temperature_2m")
    val rows = joined.collect()
    assert(rows.length === 7 * 24, "one fixture location matches the dim")
    assert(rows.forall(_.getDouble(0) == 50.08))
    joined.queryExecution.executedPlan // force final plan under AQE
    val plan = joined.queryExecution.executedPlan.toString
    // the scan must surface latitude/longitude as runtime-filterable;
    // whether Spark injects DPP here depends on its cost heuristics, so
    // the correctness assertion above is the gate and the plan marker is
    // informational
    assert(plan.contains("BatchScan") || plan.contains("openmeteo"), plan)
  }
}
