package graft

import java.net.{HttpURLConnection, URI}
import java.nio.file.{Files, Paths}

import scala.io.Source

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.serve.{ServingCache, StatsServer}

/** The interactive serving loop: the hourly rollup is computed once, and
  * every client-filter interaction re-slices the CACHE — never the source
  * (reference callback semantics, app.py:1107-1136). The load-bearing
  * assertion is the plan shape: a re-slice must scan the in-memory
  * relation and must NOT contain a file scan. */
class ServeSpec extends SparkSpec {

  private lazy val prep =
    Preprocess.preprocessEvents(Tables.events(spark, "/root/testdata/sf0.001"))

  private def fetch(url: String): (Int, String) = {
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(5000)
    conn.setReadTimeout(30000)
    try {
      val code = conn.getResponseCode
      val body = Source.fromInputStream(conn.getInputStream, "UTF-8").mkString
      (code, body)
    } finally conn.disconnect()
  }

  test("a client-filter re-slice reads the cache, not the source") {
    import operators.{PlotData, Stats}
    val cache = new ServingCache(prep)
    try {
      val someClient = cache.topClients.head
      // the dashboard's calls: the same definitions over hourlyView(prep),
      // with the client list ranked from the key counts
      val hourly = PlotData.hourlyView(prep)
      val dashboard = Seq(
        PlotData.statusSeries(hourly) -> PlotData.viewByStatus(prep),
        PlotData.clientSeries(hourly, Stats.KeyCounts(prep).topClients(10)) ->
          PlotData.clientActivity(prep, 10),
        PlotData.dailyAnomaliesOf(hourly) -> Stats.dailyAnomalies(prep))
      for (slice <- Seq(cache.queriesOverTime(None),
        cache.queriesOverTime(Some(someClient)),
        cache.clientActivity(None),
        cache.clientActivity(Some(someClient))) ++ dashboard.map(_._1)) {
        // typed leaf check, not string matching: InMemoryRelation.toString
        // embeds the plan that BUILT the cache (which mentions the file
        // scan), so "no FileScan substring" would be vacuously wrong —
        // what matters is that every leaf the slice actually reads is the
        // cached relation, and none is a file source
        val leaves = slice.queryExecution.optimizedPlan.collectLeaves()
        assert(leaves.nonEmpty && leaves.forall(
          _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation]),
          s"every slice leaf must be the cached rollup, got: " +
            leaves.map(_.getClass.getSimpleName).mkString(", "))
      }
      // below the cap, each shared definition gives the declared
      // operator's rows (a17_view_by_status, a17_client_activity, w09)
      for ((shared, declared) <- dashboard)
        assert(rowsOf(shared) == rowsOf(declared))
    } finally cache.close()
  }

  /** Ten queries ten minutes apart: NULL has the most, then a, b, c. */
  private def nullTopClientFrame: DataFrame =
    Preprocess.preprocessFtl(df(FtlFixture.Schema.toDDL,
      Seq(null, null, null, null, "a", "a", "a", "b", "b", "c").zipWithIndex.map {
        case (client, i) => org.apache.spark.sql.Row(i + 1, 1704067200L + i * 600L, 1, 2,
          "d.com", client, 1.0)
      }))

  test("a NULL client in the top k drops out of the activity chart, cached and on the dashboard") {
    import operators.{PlotData, Stats}
    val frame = nullTopClientFrame
    val keys = Stats.KeyCounts(frame)
    assert(keys.topClients(2) == Seq(null, "a"))
    val cache = new ServingCache(frame, nClients = 2)
    try {
      val forms = Seq(cache.clientActivity(None),
        PlotData.clientSeries(PlotData.hourlyView(frame), keys.topClients(2)))
      for (form <- forms) {
        assert(figures.Figures.lineSeries(form).map(_._1) == Seq("a"))
        assert(rowsOf(form) == rowsOf(PlotData.clientActivity(frame, 2)))
      }
    } finally cache.close()
  }

  test("a NULL client in the top k: every page answers 200 and lists only plotted clients") {
    val cache = new ServingCache(nullTopClientFrame, nClients = 2)
    val server = new StatsServer(cache, port = 0)
    def get(path: String): (Int, String) = {
      val conn = URI.create(s"http://127.0.0.1:${server.boundPort}$path").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      try {
        val code = conn.getResponseCode
        val in = if (code == 200) conn.getInputStream else conn.getErrorStream
        (code, Source.fromInputStream(in, "UTF-8").mkString)
      } finally conn.disconnect()
    }
    try {
      val pages = Seq("/", "/clients", "/queries", "/activity", "/anomalies").map(p => p -> get(p)).toMap
      for ((path, (code, body)) <- pages) assert(code == 200, s"$path answered $code: $body")
      assert(pages("/clients")._2 == "[\"a\"]", "the client list holds no NULL")
      assert(pages("/activity")._2.contains("Activity for top 1 clients"))
    } finally { server.close(); cache.close() }
  }

  test("re-slices agree with direct computation from the full relation") {
    val cache = new ServingCache(prep)
    try {
      val c = cache.topClients.head
      val fromCache = rowsOf(cache.queriesOverTime(Some(c)))
      val direct = rowsOf(prep.filter(col("client") === c)
        .groupBy(date_trunc("HOUR", col("ts")).as("ts_hour"), col("status_type"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("ts_hour", "status_type"))
      assert(fromCache == direct)
      // all-clients branch = the oracle-checked viewByStatus relation
      assert(rowsOf(cache.queriesOverTime(None)) ==
        rowsOf(operators.PlotData.viewByStatus(prep)))
    } finally cache.close()
  }

  test("serving collects are bounded: a 10-year span rolls up to <= maxPoints+1 per series") {
    // one event per hour for 10 years — the span-proportional regime
    // VERDICT r9 item 2 flagged (87,600 hourly buckets; the old slice
    // collected every one). capSeries must roll the bucket up (here:
    // weeks, 523) so the figure collect is O(pixels), not O(span).
    val n = 10 * 365 * 24
    val syn = spark.range(n).select(
      timestamp_seconds(lit(1300000000L) + col("id") * 3600).as("ts"),
      lit("Allowed").as("status_type"), lit("10.0.0.1").as("client"))
    val cache = new ServingCache(syn)
    try {
      val q = cache.queriesOverTime(None).collect()
      assert(q.length <= 2049, s"queries slice must be bounded, got ${q.length}")
      assert(q.length > 100, "rollup should keep real resolution, not collapse")
      // the downsample is volume-faithful: bucket sums conserve the total
      assert(q.map(_.getLong(2)).sum == n)
      val a = cache.clientActivity(None).collect()
      assert(a.length <= 2049, s"activity slice must be bounded, got ${a.length}")
      assert(a.map(_.getLong(2)).sum == n)
      // the anomaly figure is bounded too: its one collect holds a row
      // per (status, day), the series go through capSeries (3,650 daily
      // points -> weekly), rings only from flagged rows (none in this
      // flat series)
      val (series, rings) = graft.figures.Figures.boundedAnomalySeries(
        cache.dailyAnomalies(None))
      series.foreach { case (st, pts) =>
        assert(pts.size <= 2049, s"series $st must be bounded, got ${pts.size}")
      }
      assert(series.map(_._2.map(_._2).sum).sum == n.toDouble)
      assert(rings.isEmpty, "flat series must flag nothing")
      // below the threshold nothing changes — the sf0.001 cache slices
      // stay hourly (pinned by the "re-slices agree" test above, whose
      // direct side computes the raw hourly groupBy)
    } finally cache.close()
  }

  test("anomaly slice: cache-only leaves, equal to the oracle-checked w09 relation") {
    val cache = new ServingCache(prep)
    try {
      val slice = cache.dailyAnomalies(None)
      val leaves = slice.queryExecution.optimizedPlan.collectLeaves()
      assert(leaves.nonEmpty && leaves.forall(
        _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation]),
        "anomaly slice must read only the cached rollup")
      // re-summing the hourly rollup to days = direct daily counts, so
      // the cache-side scoring must reproduce w09 exactly
      assert(rowsOf(slice) == rowsOf(operators.Stats.dailyAnomalies(prep)))
      // the figure endpoint renders from the same slice
      val svg = cache.anomaliesFigure(None)
      assert(svg.contains("<svg") && svg.contains("Daily volume"))
    } finally cache.close()
  }

  test("the anomaly figure collects its daily relation once: at most 5 jobs, filtered or not") {
    val cache = new ServingCache(prep)
    try {
      for (client <- Seq(None, Some(cache.topClients.head))) {
        val jobs = launched(cache.anomaliesFigure(client)).jobs
        assert(jobs.nonEmpty && jobs.forall(_ == "slice:anomalies"), jobs.mkString(", "))
        assert(jobs.size <= 5, s"slice:anomalies ($client) launched ${jobs.size} jobs — budget is 5")
      }
    } finally cache.close()
  }

  test("HTTP loop serves the dashboard and re-renders on a client filter") {
    val cache = new ServingCache(prep)
    val server = new StatsServer(cache, port = 0)
    try {
      val base = s"http://127.0.0.1:${server.boundPort}"

      val (cCode, clientsJson) = fetch(s"$base/clients")
      assert(cCode == 200 && clientsJson.startsWith("[\""))
      val client = cache.topClients.head

      val (qCode, allSvg) = fetch(s"$base/queries")
      assert(qCode == 200 && allSvg.contains("<svg"))
      assert(allSvg.contains("DNS Queries Over Time for All Clients"))

      val enc = java.net.URLEncoder.encode(client, "UTF-8")
      val (fCode, oneSvg) = fetch(s"$base/queries?client=$enc")
      assert(fCode == 200 && oneSvg.contains(s"DNS Queries Over Time for $client"))
      assert(oneSvg != allSvg, "the filter must change the figure")

      val (aCode, actSvg) = fetch(s"$base/activity?client=$enc")
      assert(aCode == 200 && actSvg.contains(s"Activity for $client"))

      val (pCode, page) = fetch(s"$base/?client=$enc")
      assert(pCode == 200 && page.startsWith("<!DOCTYPE html>"))
      assert(page.contains("<select") && page.contains("<svg"))
    } finally { server.close(); cache.close() }
  }

  test("/dashboard serves the full static chart page when a renderer is wired") {
    val cache = new ServingCache(prep)
    val server = new StatsServer(cache, port = 0,
      dashboardHtml = c => figures.Figures.dashboard(c.prep, 5, 5))
    try {
      val (code, html) = fetch(s"http://127.0.0.1:${server.boundPort}/dashboard")
      assert(code == 200 && html.startsWith("<!DOCTYPE html>"))
      assert(html.contains("Client activity over time (top 5 clients, hourly)"))
      assert(html.contains("Activity heatmap — all queries"))
    } finally { server.close(); cache.close() }
  }

  test("reload rebuilds the cache through the factory (reference reload button)") {
    // the rebuild factory narrows the relation, so a successful reload is
    // observable: the top-client list shrinks to the filtered population
    val first = new ServingCache(prep)
    val dropped = first.topClients.head
    var fresh: ServingCache = null
    val server = new StatsServer(first, port = 0,
      rebuild = (_, _) => {
        fresh = new ServingCache(prep.filter(col("client") =!= dropped)); fresh
      })
    try {
      val base = s"http://127.0.0.1:${server.boundPort}"
      val before = fetch(s"$base/clients")._2

      val conn = URI.create(s"$base/reload").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      assert(conn.getResponseCode == 200)
      conn.disconnect()

      val after = fetch(s"$base/clients")._2
      assert(before.contains("\"" + dropped + "\""))
      assert(!after.contains("\"" + dropped + "\""), "reload must swap the cache")
    } finally { server.close(); if (fresh != null) fresh.close() }
  }

  test("date-range reload re-slices the cache to the picker window, end-exclusive +1 day") {
    // the reference's date-picker reload (app.py:1091-1102 → db.py:84-102):
    // the factory receives the parsed display-TZ dates and rebuilds the
    // cache for [start 00:00, end+1day 00:00)
    val first = new ServingCache(prep)
    var fresh: ServingCache = null
    val server = new StatsServer(first, port = 0,
      rebuild = (s, e) => {
        val (from, to) = sources.FtlIngest.timeRangeEpochs(
          s, e, 31, "UTC", java.time.Instant.now())
        fresh = new ServingCache(prep.filter(
          col("ts") >= timestamp_seconds(lit(from)) &&
          col("ts") < timestamp_seconds(lit(to))))
        fresh
      })
    try {
      val base = s"http://127.0.0.1:${server.boundPort}"
      val conn = URI.create(s"$base/reload?start=2024-01-10&end=2024-01-12").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      assert(conn.getResponseCode == 200)
      conn.disconnect()
      // row bounds of the new cache sit inside [Jan 10 00:00, Jan 13 00:00)
      val b = fresh.hourly.agg(min("ts_hour"), max("ts_hour")).head
      assert(!b.getTimestamp(0).before(java.sql.Timestamp.valueOf("2024-01-10 00:00:00")), b)
      assert(b.getTimestamp(1).before(java.sql.Timestamp.valueOf("2024-01-13 00:00:00")), b)
      // end date itself is INCLUDED (the +1-day end-exclusive semantics)
      assert(fresh.hourly.filter(
        col("ts_hour") >= lit(java.sql.Timestamp.valueOf("2024-01-12 00:00:00"))).count() > 0)
      // and interactions on the reloaded cache are still cache-only
      val leaves = fresh.queriesOverTime(None).queryExecution.optimizedPlan.collectLeaves()
      assert(leaves.nonEmpty && leaves.forall(
        _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation]))
    } finally { server.close(); if (fresh != null) fresh.close() }
  }

  test("the served page renders the date picker and its form drives /reload") {
    // UI parity with the reference's date-picker (app.py:987-1000): the
    // index page carries two date inputs + a reload button whose script
    // submits to /reload?start=&end= — the spec drives the reload through
    // the endpoint the HTML encodes and asserts the cache swapped to the
    // narrowed window
    val first = new ServingCache(prep)
    var fresh: ServingCache = null
    val server = new StatsServer(first, port = 0,
      rebuild = (s, e) => {
        val (from, to) = sources.FtlIngest.timeRangeEpochs(
          s, e, 31, "UTC", java.time.Instant.now())
        fresh = new ServingCache(prep.filter(
          col("ts") >= timestamp_seconds(lit(from)) &&
          col("ts") < timestamp_seconds(lit(to))))
        fresh
      })
    try {
      val base = s"http://127.0.0.1:${server.boundPort}"
      val html = fetch(s"$base/")._2
      // the picker elements are rendered...
      assert(html.contains("""<input type="date" name="start">"""), "start date input missing")
      assert(html.contains("""<input type="date" name="end">"""), "end date input missing")
      assert(html.contains("Reload range"), "reload button missing")
      // ...and the endpoint the form script encodes is extractable
      val m = """fetch\('(/reload\?start=)'""".r.findFirstMatchIn(html)
      assert(m.isDefined, "form script must submit to /reload?start=...")
      val url = s"$base${m.get.group(1)}2024-01-10&end=2024-01-12"
      val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
      assert(conn.getResponseCode == 200)
      conn.disconnect()
      val b = fresh.hourly.agg(min("ts_hour"), max("ts_hour")).head
      assert(!b.getTimestamp(0).before(java.sql.Timestamp.valueOf("2024-01-10 00:00:00")), b)
      assert(b.getTimestamp(1).before(java.sql.Timestamp.valueOf("2024-01-13 00:00:00")), b)
    } finally { server.close(); if (fresh != null) fresh.close() }
  }

  test("no rebuild factory -> no date picker rendered (reload would 409)") {
    val cache = new ServingCache(prep)
    val server = new StatsServer(cache, port = 0)
    try {
      val html = fetch(s"http://127.0.0.1:${server.boundPort}/")._2
      assert(!html.contains("""type="date""""), "picker must not render without a factory")
    } finally { server.close(); cache.close() }
  }

  test("a half-open or malformed date range is refused with 400; cache keeps serving") {
    val cache = new ServingCache(prep)
    val server = new StatsServer(cache, port = 0, rebuild = (_, _) => fail("must not rebuild"))
    try {
      val base = s"http://127.0.0.1:${server.boundPort}"
      for (q <- Seq("?start=2024-01-10", "?end=2024-01-12", "?start=bogus&end=2024-01-12")) {
        val conn = URI.create(s"$base/reload$q").toURL
          .openConnection().asInstanceOf[HttpURLConnection]
        conn.setRequestMethod("POST")
        assert(conn.getResponseCode == 400, q)
        conn.disconnect()
      }
      assert(fetch(s"$base/clients")._1 == 200)
    } finally { server.close(); cache.close() }
  }

  test("a malformed percent-escape answers 400 on /queries and /reload; cache keeps serving") {
    val cache = new ServingCache(prep)
    val server = new StatsServer(cache, port = 0, rebuild = (_, _) => fail("must not rebuild"))
    // raw request lines: java.net.URI refuses to build these URLs
    def status(method: String, target: String): Int = {
      val sock = new java.net.Socket("127.0.0.1", server.boundPort)
      try {
        sock.setSoTimeout(30000)
        sock.getOutputStream.write(
          s"$method $target HTTP/1.1\r\nHost: localhost\r\nConnection: close\r\n\r\n"
            .getBytes("US-ASCII"))
        val line = Source.fromInputStream(sock.getInputStream, "US-ASCII").getLines().next()
        line.split(' ')(1).toInt
      } finally sock.close()
    }
    try {
      for ((method, target) <- Seq("GET" -> "/queries?client=%zz", "GET" -> "/activity?client=%2",
          "POST" -> "/reload?start=%2", "POST" -> "/reload?start=2024-01-10&end=%zz"))
        assert(status(method, target) == 400, s"$method $target")
      val base = s"http://127.0.0.1:${server.boundPort}"
      val (code, svg) = fetch(s"$base/queries")
      assert(code == 200 && svg.contains("DNS Queries Over Time for All Clients"))
      assert(fetch(s"$base/clients")._1 == 200)
    } finally { server.close(); cache.close() }
  }

  test("/dashboard reflects a reload: the static page renders the CURRENT cache's relation") {
    val first = new ServingCache(prep)
    var fresh: ServingCache = null
    val server = new StatsServer(first, port = 0,
      rebuild = (s, e) => {
        val (from, to) = sources.FtlIngest.timeRangeEpochs(
          s, e, 31, "UTC", java.time.Instant.now())
        fresh = new ServingCache(prep.filter(
          col("ts") >= timestamp_seconds(lit(from)) &&
          col("ts") < timestamp_seconds(lit(to))))
        fresh
      },
      dashboardHtml = c => figures.Figures.dashboard(c.prep, 5, 5))
    try {
      val base = s"http://127.0.0.1:${server.boundPort}"
      val before = fetch(s"$base/dashboard")._2
      val conn = URI.create(s"$base/reload?start=2024-01-10&end=2024-01-12").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      assert(conn.getResponseCode == 200)
      conn.disconnect()
      val after = fetch(s"$base/dashboard")._2
      assert(before != after, "dashboard must re-render from the reloaded cache")
    } finally { server.close(); if (fresh != null) fresh.close() }
  }

  test("a rebuild or render that throws answers 500; the old cache keeps serving") {
    // the rebuild's scan fails inside the ServingCache constructor: the
    // .db is deleted between planning the load and materializing it
    val dir = Files.createTempDirectory("serve-fail")
    val copy = dir.resolve("pihole-FTL.db")
    var failed: DataFrame = null
    val cache = new ServingCache(prep)
    val server = new StatsServer(cache, port = 0,
      rebuild = (_, _) => {
        Files.copy(Paths.get(getClass.getResource("/ftl_fixture.db").getPath), copy)
        failed = Engine.loadSqlite(spark, Seq(copy.toString), 0L, Long.MaxValue)
        Files.delete(copy)
        new ServingCache(failed)
      },
      dashboardHtml = _ => throw new IllegalStateException("render failed"))
    try {
      val base = s"http://127.0.0.1:${server.boundPort}"
      val conn = URI.create(s"$base/reload").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      assert(conn.getResponseCode == 500)
      assert(Source.fromInputStream(conn.getErrorStream, "UTF-8").mkString
        .contains("pihole-FTL.db"), "the 500 body names the failure")
      conn.disconnect()
      assert(failed.storageLevel == StorageLevel.NONE,
        "a failed build must not leave the relation cached")
      val dash = URI.create(s"$base/dashboard").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      assert(dash.getResponseCode == 500)
      assert(Source.fromInputStream(dash.getErrorStream, "UTF-8").mkString == "render failed")
      dash.disconnect()
      val (code, svg) = fetch(s"$base/queries")
      assert(code == 200 && svg.contains("DNS Queries Over Time for All Clients"))
    } finally { server.close(); cache.close(); Files.deleteIfExists(dir) }
  }

  test("a reload over a corrupt .db answers 500 naming the page; the old cache keeps serving") {
    // page 2's right child points at page 2: the b-tree walk must stop
    // with a typed error, not overflow the dispatcher thread's stack
    val db = FtlIngestSpec.withRightChild(2)
    val cache = new ServingCache(prep)
    val server = new StatsServer(cache, port = 0,
      rebuild = (_, _) => new ServingCache(Engine.loadSqlite(spark, Seq(db.toString), 0L, Long.MaxValue)))
    try {
      val base = s"http://127.0.0.1:${server.boundPort}"
      val conn = URI.create(s"$base/reload").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      assert(conn.getResponseCode == 500)
      val body = Source.fromInputStream(conn.getErrorStream, "UTF-8").mkString
      assert(body.contains(db.toString) && body.contains("at page 2"), body)
      conn.disconnect()
      val (code, svg) = fetch(s"$base/queries")
      assert(code == 200 && svg.contains("DNS Queries Over Time for All Clients"))
    } finally { server.close(); cache.close(); Files.delete(db); Files.delete(db.getParent) }
  }

  /** An in-memory (not file-backed) relation: ServingCache caches it. */
  private lazy val local = FtlFixture.prep(spark, 3, 500)

  test("a frame the caller persisted stays persisted after close; one the cache persisted is released") {
    val mine = local.filter(col("client").isNotNull)
      .persist(StorageLevel.MEMORY_ONLY)
    try {
      val cache = new ServingCache(mine)
      assert(cache.prep.storageLevel == StorageLevel.MEMORY_ONLY)
      cache.close()
      assert(mine.storageLevel == StorageLevel.MEMORY_ONLY,
        "close() must leave a caller-persisted frame cached")
    } finally mine.unpersist(blocking = true)
    // a frame the cache persisted itself is released on close
    val own = new ServingCache(local.filter(col("client").isNotNull))
    assert(own.prep.storageLevel == StorageLevel.MEMORY_AND_DISK)
    own.close()
    assert(own.prep.storageLevel == StorageLevel.NONE)
  }

  test("a parquet-backed relation is re-scanned, not cached; its hourly rollup is cached") {
    val cache = new ServingCache(prep.filter(col("client").isNotNull))
    try {
      assert(cache.prep.storageLevel == StorageLevel.NONE)
      assert(cache.hourly.storageLevel == StorageLevel.MEMORY_AND_DISK)
    } finally cache.close()
    assert(cache.hourly.storageLevel == StorageLevel.NONE)
  }

  test("two caches over an equal plan share one entry; it is released with the last close") {
    val first = new ServingCache(local.filter(col("client").isNotNull))
    val second = new ServingCache(local.filter(col("client").isNotNull)) // a distinct, equal frame
    first.close()
    assert(second.prep.storageLevel == StorageLevel.MEMORY_AND_DISK &&
      second.hourly.storageLevel == StorageLevel.MEMORY_AND_DISK,
      "closing one cache must not uncache an entry another still holds")
    first.close() // idempotent: releases nothing twice
    assert(second.prep.storageLevel == StorageLevel.MEMORY_AND_DISK)
    second.close()
    assert(second.prep.storageLevel == StorageLevel.NONE &&
      second.hourly.storageLevel == StorageLevel.NONE)
  }

  test("the cached rollup is sized to the cores: an unfiltered slice runs <= 16 tasks, " +
      "no range-sampling job") {
    // the serving session's shuffle width; this suite's 4 (= its cores)
    // would hide a rollup stored at the shuffle width
    val conf = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(conf)
    spark.conf.set(conf, "32")
    try {
      val cache = new ServingCache(prep)
      try {
        val cores = spark.sparkContext.defaultParallelism
        val parts = cache.hourly.rdd.getNumPartitions
        assert(parts <= cores, s"cached rollup has $parts partitions, cores = $cores")
        val slice = launched(cache.queriesOverTime(None).collect())
        assert(slice.tasks <= 16,
          s"unfiltered slice ran ${slice.tasks} tasks in ${slice.jobs.size} jobs — budget is 16")
        assert(slice.rangeSamplingJobs == 0,
          s"unfiltered slice ran ${slice.rangeSamplingJobs} range-sampling jobs")
        val figureJobs = launched(cache.queriesFigure(None)).jobs
        assert(figureJobs.nonEmpty && figureJobs.forall(_ == "slice:queries"),
          figureJobs.mkString(", "))
      } finally cache.close()
    } finally spark.conf.set(conf, prev)
  }

  test("a build that fails after persisting (top-client collect) releases everything it persisted") {
    val frame = local.filter(col("client").isNotNull)
    // a negative limit fails analysis in the last constructor step
    intercept[Exception](new ServingCache(frame, nClients = -1))
    assert(frame.storageLevel == StorageLevel.NONE)
    assert(graft.operators.PlotData.hourlyView(frame).storageLevel == StorageLevel.NONE)
  }

  test("a load reads the source once: stats, dashboard and slices survive deleting the .db") {
    val fixture = getClass.getResource("/ftl_fixture.db").getPath
    val (from, to) = (1704067200L, 1705104000L) // 2024-01-01 .. 2024-01-13 UTC
    val dir = Files.createTempDirectory("serve-once")
    val copy = dir.resolve("pihole-FTL.db")
    Files.copy(Paths.get(fixture), copy)
    val cache = new ServingCache(Engine.loadSqlite(spark, Seq(copy.toString), from, to))
    try {
      Files.delete(copy)
      Files.delete(dir)
      val stats = Engine.computeStats(cache.prep)
      val html = figures.Figures.dashboard(cache.prep, 5, 5)
      val c = cache.topClients.head
      for (client <- Seq(None, Some(c))) {
        cache.queriesOverTime(client).collect()
        cache.clientActivity(client).collect()
        cache.dailyAnomalies(client).collect()
        cache.queriesFigure(client); cache.activityFigure(client); cache.anomaliesFigure(client)
      }
      // equal to the same computation over an un-materialized load
      val direct = Engine.loadSqlite(spark, Seq(fixture), from, to)
      assert(direct.storageLevel == StorageLevel.NONE)
      assert(stats("total_queries") == 3002L)
      assert(stats == Engine.computeStats(direct))
      assert(html == figures.Figures.dashboard(direct, 5, 5))
    } finally cache.close()
  }

  test("reload without a factory is refused, cache keeps serving") {
    val cache = new ServingCache(prep)
    val server = new StatsServer(cache, port = 0)
    try {
      val base = s"http://127.0.0.1:${server.boundPort}"
      val conn = URI.create(s"$base/reload").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      assert(conn.getResponseCode == 409)
      conn.disconnect()
      assert(fetch(s"$base/clients")._1 == 200)
    } finally { server.close(); cache.close() }
  }
}
