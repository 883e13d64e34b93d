package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.HttpServer
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{FixtureWaqiTransport, HttpWaqiTransport, WaqiFixtures, WaqiSource}

/** S1's two scan paths (DataSource V2 table and Dataset
  * `fetchPayloads`) and the transport seam behind both: the fixture
  * transport must reproduce the canned-payload rows exactly, and the
  * REAL `HttpWaqiTransport` is exercised against a loopback HTTP
  * server — the same GET -> body -> PERMISSIVE-parse code that would
  * hit api.waqi.info, minus the egress this sandbox doesn't have. */
class WaqiDsv2Spec extends AnyFunSuite {
  lazy val spark = SharedSession.spark

  test("DSv2 source plans one partition per city and matches the Dataset path") {
    val dsv2 = spark.read.format("graft.sources.WaqiTableProvider").load()
    assert(dsv2.rdd.getNumPartitions ==
      graft.sources.WaqiFixtures.all.size)
    val viaDsv2 = SparkEntry.queries("q63_waqi_dsv2_source")(spark, "")
      .collect().map(_.toSeq).toSeq
    val viaDataset = SparkEntry.queries("q60_waqi_flatten_long")(spark, "")
      .collect().map(_.toSeq).toSeq
    assert(viaDsv2 == viaDataset)
  }

  test("DSv2 scan with explicitly injected transport ≡ Dataset fixture path") {
    // the verdict-#4 contract: the transport option drives the scan,
    // and an injected FixtureWaqiTransport reproduces the fixture
    // Dataset path row-for-row (cities option also honored)
    val cities = WaqiFixtures.all.map(_._1)
    val viaOption = spark.read.format("graft.sources.WaqiTableProvider")
      .option("transport", classOf[FixtureWaqiTransport].getName)
      .option("cities", cities.mkString(","))
      .load().collect().map(_.toSeq).sortBy(_.head.toString).toSeq
    import spark.implicits._
    val viaDataset = WaqiSource
      .fetchPayloads(spark, cities, new FixtureWaqiTransport)
      .toDF("city", "raw").collect().map(_.toSeq)
      .sortBy(_.head.toString).toSeq
    assert(viaOption == viaDataset)
    val canned: Seq[Seq[Any]] = WaqiFixtures.all
      .map { case (c, r) => Seq[Any](c, r) }.sortBy(_.head.toString)
    assert(viaOption == canned)
  }

  test("HttpWaqiTransport: real GET against a loopback server, error dispatch") {
    val byCity = WaqiFixtures.all.toMap
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    try {
      server.createContext("/feed", { exchange =>
        // path /feed/{city}/ — 404 with an HTML-ish body for unknowns
        val city = exchange.getRequestURI.getPath
          .stripPrefix("/feed/").stripSuffix("/")
        val (code, body) = byCity.get(city)
          .map(p => 200 -> p).getOrElse(404 -> "Error 404: unknown station")
        val bytes = body.getBytes(StandardCharsets.UTF_8)
        exchange.sendResponseHeaders(code, bytes.length)
        exchange.getResponseBody.write(bytes)
        exchange.close()
      })
      server.start()
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/feed"
      val http = new HttpWaqiTransport(Map(
        "baseUrl" -> base, "token" -> "demo"))

      // 1) direct fetch: live GET returns the exact served payload
      assert(http.fetch("amsterdam") == byCity("amsterdam"))

      // 2) the full DSv2 scan over HTTP ≡ the fixture scan, plus an
      //    unknown city whose 404 body must land in errors(), not data
      val cities = WaqiFixtures.all.map(_._1) :+ "atlantis"
      val scanned = spark.read.format("graft.sources.WaqiTableProvider")
        .option("transport", classOf[HttpWaqiTransport].getName)
        .option("baseUrl", base).option("token", "demo")
        .option("cities", cities.mkString(","))
        .load()
      val parsed = WaqiSource.parse(
        scanned.as[(String, String)](org.apache.spark.sql.Encoders
          .tuple(org.apache.spark.sql.Encoders.STRING,
            org.apache.spark.sql.Encoders.STRING)))
      val okCities = WaqiSource.ok(parsed)
        .select("city").collect().map(_.getString(0)).sorted.toSeq
      assert(okCities == Seq("amsterdam", "berlin", "emptyarrays",
        "noforecast", "paris"))
      val errCities = WaqiSource.errors(parsed)
        .select("city").collect().map(_.getString(0)).sorted.toSeq
      assert(errCities == Seq("atlantis", "errorcity", "httpfail"))

      // 3) connection-level failure (server stopped) -> synthetic
      //    error-status payload, never a throw
      server.stop(0)
      val dead = http.fetch("amsterdam")
      assert(dead.contains("\"status\": \"error:"), dead)
    } finally {
      try server.stop(0) catch { case _: Exception => () }
    }
  }

  test("HttpWaqiTransport: a city with a space reaches the server as one path segment") {
    val payload = WaqiFixtures.all.toMap.apply("paris")
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    try {
      server.createContext("/feed", { exchange =>
        val uri = exchange.getRequestURI
        seen.add(s"${uri.getRawPath}?${uri.getRawQuery}")
        val (code, body) =
          if (uri.getPath == "/feed/new york/" && uri.getQuery == "token=a b&c")
            200 -> payload
          else 404 -> "Error 404: unknown station"
        val bytes = body.getBytes(StandardCharsets.UTF_8)
        exchange.sendResponseHeaders(code, bytes.length)
        exchange.getResponseBody.write(bytes)
        exchange.close()
      })
      server.start()
      val http = new HttpWaqiTransport(Map(
        "baseUrl" -> s"http://127.0.0.1:${server.getAddress.getPort}/feed",
        "token" -> "a b&c"))
      assert(http.fetch("new york") == payload)
      // plain city names keep their URL byte for byte
      assert(http.fetch("amsterdam").startsWith("Error 404"))
      assert(seen.toArray.toSeq == Seq(
        "/feed/new%20york/?token=a%20b%26c", "/feed/amsterdam/?token=a%20b%26c"))
    } finally server.stop(0)
  }

  test("LIVE api.waqi.info fetch (WAQI_LIVE=1 gated; skipped offline)") {
    // The one reference behavior a zero-egress sandbox cannot reach:
    // the real API's envelope (reference dags/my_data_pipeline.py:34-48
    // — status:"ok" + data.aqi on success, status:"error" + data
    // message on a bad token). Gated so CI cancels cleanly; the day
    // egress exists, WAQI_LIVE=1 WAQI_TOKEN=... exercises it for real.
    assume(sys.env.get("WAQI_LIVE").contains("1"),
      "live WAQI fetch disabled (set WAQI_LIVE=1 with egress)")
    import spark.implicits._
    val http = new HttpWaqiTransport(Map.empty)
    val body = http.fetch("shanghai")
    // transport-level failures are NOT acceptable in live mode — the
    // gate exists precisely to prove the network path
    assert(!body.contains("\"status\": \"error: transport"), body)
    val parsed = WaqiSource.parse(Seq(("shanghai", body)).toDS())
    val okN = WaqiSource.ok(parsed).count()
    val errs = WaqiSource.errors(parsed).collect()
    // a valid token yields exactly one ok row with a parseable
    // payload; an invalid/expired one must dispatch to errors() with
    // the API's message intact — either way, never silently dropped
    assert(okN + errs.length == 1, s"ok=$okN errs=${errs.toSeq}")
    if (errs.nonEmpty) {
      val payload = errs(0).toString
      assert(payload.toLowerCase.contains("token") ||
        payload.contains("error"), payload)
    }

    // bad-token dispatch against the live API: the reference's
    // documented 'Error 401: Invalid API token.' class must land in
    // errors(), not data
    val bad = new HttpWaqiTransport(Map("token" -> "definitely-invalid"))
    val badParsed = WaqiSource.parse(
      Seq(("shanghai", bad.fetch("shanghai"))).toDS())
    assert(WaqiSource.ok(badParsed).count() == 0)
    assert(WaqiSource.errors(badParsed).count() == 1)
  }
}
