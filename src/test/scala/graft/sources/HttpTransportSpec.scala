package graft.sources.openmeteo

import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

/** The LIVE transport against a loopback JDK HttpServer (no egress): the
  * full retry/fail-fast/param-encoding behavior of the production HTTP
  * path, exercised over real sockets.
  */
class HttpTransportSpec extends AnyFunSuite {

  private def withServer(handler: HttpExchange => (Int, String))(
      body: String => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/v1/forecast", (ex: HttpExchange) => {
      val (code, resp) = handler(ex)
      val bytes = resp.getBytes("UTF-8")
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}/v1/forecast")
    finally server.stop(0)
  }

  test("query params are encoded and delivered; body returned on 200") {
    withServer(ex => (200, s"echo:${ex.getRequestURI.getQuery}")) { url =>
      val out = new HttpTransport(url).fetch(
        Map("latitude" -> "50.08", "hourly" -> "temperature_2m,rain"))
      // getQuery returns the DECODED form: %2C arrives back as ','
      assert(out === "echo:hourly=temperature_2m,rain&latitude=50.08")
    }
  }

  test("5xx is transient: RetryingTransport retries until the remote recovers") {
    val calls = new AtomicInteger(0)
    withServer { _ =>
      if (calls.incrementAndGet() < 3) (503, "unavailable") else (200, "ok")
    } { url =>
      val t = new RetryingTransport(new HttpTransport(url),
        RetryPolicy(maxRetries = 3, backoffBaseMs = 1L))
      assert(t.fetch(Map.empty) === "ok")
      assert(calls.get() === 3)
    }
  }

  test("4xx fails fast with diagnostics and is never retried (server.py:80-82)") {
    val calls = new AtomicInteger(0)
    withServer { _ => calls.incrementAndGet(); (400, "bad latitude") } { url =>
      val t = new RetryingTransport(new HttpTransport(url),
        RetryPolicy(maxRetries = 3, backoffBaseMs = 1L))
      val e = intercept[FatalTransportException](t.fetch(Map.empty))
      assert(e.getMessage.contains("400") && e.getMessage.contains("bad latitude"))
      assert(calls.get() === 1)
    }
  }

  test("connection failure is transient (network-error classification)") {
    // nothing listens on this port
    val t = new HttpTransport("http://127.0.0.1:1/v1/forecast", timeoutMs = 500L)
    intercept[TransientTransportException](t.fetch(Map.empty))
  }

  test("end-to-end: DSv2 scan over HTTP equals the offline scan") {
    val spark = graft.TestSpark.spark
    val fixture = s"${graft.TestSpark.fixtures}/hourly_7d.json"
    val lines = scala.io.Source.fromFile(fixture, "UTF-8").getLines()
      .filter(_.nonEmpty).toVector
    withServer { ex =>
      // the connector's offline unit is ?block=<i>: serve fixture line i
      val idx = ex.getRequestURI.getQuery.split("&")
        .collectFirst { case s if s.startsWith("block=") => s.drop(6).toInt }
      idx.filter(i => i >= 0 && i < lines.size)
        .map(i => (200, lines(i))).getOrElse((404, "no such block"))
    } { url =>
      val viaHttp = spark.read.format("openmeteo")
        .option("path", fixture) // still used for partition planning
        .option("httpBaseUrl", url)
        .load()
      val offline = spark.read.format("openmeteo").option("path", fixture).load()
      assert(viaHttp.count() === 2 * 7 * 24)
      assert(viaHttp.exceptAll(offline).count() === 0)
      assert(offline.exceptAll(viaHttp).count() === 0)
    }
  }

  test("live-mode planning: locations option plans partitions with ZERO local reads") {
    val spark = graft.TestSpark.spark
    import org.apache.spark.sql.functions.col
    val fixture = s"${graft.TestSpark.fixtures}/hourly_7d.json"
    val lines = scala.io.Source.fromFile(fixture, "UTF-8").getLines()
      .filter(_.nonEmpty).toVector
    val served = new AtomicInteger(0)
    withServer { ex =>
      // live unit: ?latitude=…&longitude=…&hourly=…&start_date=…; serve
      // the block whose latitude matches (the remote IS the manifest)
      val q = ex.getRequestURI.getQuery.split("&")
        .map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
      assert(q.contains("hourly") && q.contains("start_date"),
        s"live params missing: $q")
      served.incrementAndGet()
      lines.find(l => OfflineTransport.extractNumber(l, "latitude").toString ==
          q("latitude"))
        .map((200, _)).getOrElse((404, "no such location"))
    } { url =>
      val live = spark.read.format("openmeteo")
        .option("path", "/nonexistent/never-read.json") // MUST not be touched
        .option("httpBaseUrl", url)
        .option("locations", "50.08,14.43;49.19,16.61")
        .load()
        .filter(col("ts_local") >= org.apache.spark.sql.functions.lit("2024-07-02 00:00:00")
          .cast("timestamp_ntz"))
      val offline = spark.read.format("openmeteo").option("path", fixture).load()
        .filter(col("ts_local") >= org.apache.spark.sql.functions.lit("2024-07-02 00:00:00")
          .cast("timestamp_ntz"))
      assert(live.count() === 2 * 6 * 24)
      assert(live.exceptAll(offline).count() === 0)
      assert(offline.exceptAll(live).count() === 0)
      assert(served.get() >= 2, "each location must be fetched live")
    }
  }

  test("live mode: a day-grouped rollup over a date range sends start_date/end_date") {
    val spark = graft.TestSpark.spark
    import org.apache.spark.sql.functions.{col, lit, max, to_date}
    val fixture = s"${graft.TestSpark.fixtures}/hourly_7d.json"
    val lines = scala.io.Source.fromFile(fixture, "UTF-8").getLines()
      .filter(_.nonEmpty).toVector
    val queries = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, String]]()
    withServer { ex =>
      val q = ex.getRequestURI.getQuery.split("&")
        .map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
      queries.add(q)
      lines.find(l => OfflineTransport.extractNumber(l, "latitude").toString ==
          q("latitude"))
        .map((200, _)).getOrElse((404, "no such location"))
    } { url =>
      def rollup(df: org.apache.spark.sql.DataFrame) = df
        .filter(to_date(col("ts_local")) >= lit(java.sql.Date.valueOf("2024-07-02")) &&
          to_date(col("ts_local")) <= lit(java.sql.Date.valueOf("2024-07-04")))
        .groupBy(col("latitude"), col("longitude"), to_date(col("ts_local")).as("date"))
        .agg(max("temperature_2m").as("temperature_2m_max"))
        .collect().map(_.toString).sorted.toSeq
      val live = rollup(spark.read.format("openmeteo")
        .option("httpBaseUrl", url)
        .option("locations", "50.08,14.43;49.19,16.61")
        .load())
      val offline = rollup(spark.read.format("openmeteo").option("path", fixture).load())
      assert(live.length === 6) // 2 locations × 3 whole days
      assert(live === offline)
      import scala.jdk.CollectionConverters._
      val sent = queries.asScala.toSeq
      assert(sent.map(_("latitude")).toSet === Set("50.08", "49.19"), s"$sent")
      sent.foreach { q =>
        assert(q.get("daily").contains("temperature_2m_max"), s"not a daily fetch: $q")
        assert(q.get("start_date").contains("2024-07-02") &&
          q.get("end_date").contains("2024-07-04"), s"window not sent: $q")
      }
    }
  }

  test("Geocoder: offline exactly-one semantics + live lookup through the seam") {
    val places = s"${graft.TestSpark.fixtures}/places.json"
    val g = Geocoder.offline(places, backoffBaseMs = 1L)
    assert(g.lookup("Prague") === Right((50.08, 14.43)))
    assert(g.lookup("prague") === Right((50.08, 14.43))) // case-insensitive
    assert(g.lookup("Atlantis").left.exists(_.contains("Could not find")))
    assert(g.lookup("Springfield").left.exists(_.contains("Ambiguous")))
    // live path: Nominatim-shaped JSON (lat/lon strings), with one
    // transient failure first — the retry decorator must absorb it
    val calls = new AtomicInteger(0)
    withServer { ex =>
      assert(ex.getRequestURI.getQuery.contains("q=Brno"))
      if (calls.incrementAndGet() == 1) (503, "busy")
      else (200, """[{"lat":"49.19","lon":"16.61"}]""")
    } { url =>
      val live = Geocoder.live(url, backoffBaseMs = 1L, rateLimitMs = 0L)
      assert(live.lookup("Brno") === Right((49.19, 16.61)))
      assert(calls.get() === 2)
    }
  }
}
