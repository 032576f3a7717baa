package graft

import java.nio.file.{Files, Paths}

import graft.figures.Figures

/** Smoke tests for the static figure layer — presentation only (the
  * numbers come from the oracle-checked plot-data operators), so the
  * assertions are structural: the charts exist, carry the right series,
  * and the file is a self-contained HTML document. */
class FiguresSpec extends SparkSpec {

  test("dashboard renders the queries-over-time chart from sf0.001") {
    val prep = Preprocess.preprocessEvents(Tables.events(spark, "/root/testdata/sf0.001"))
    val html = Figures.dashboard(prep)
    assert(html.startsWith("<!DOCTYPE html>"))
    assert(html.contains("Queries over time (hourly, by status)"))
    // one polyline per status class present in the data
    val statuses = prep.select("status_type").distinct().count()
    val overTime = html.substring(0, html.indexOf("Top clients"))
    assert(overTime.sliding("polyline".length).count(_ == "polyline") / 2 == statuses,
      s"expected $statuses series")
    // every reference chart family is on the page
    Seq("Top clients (stacked by status)", "Top allowed domains",
      "Top blocked domains", "Mean reply time by date (ms)",
      "Client activity over time (top 10 clients, hourly)",
      "Activity heatmap — all queries", "Activity heatmap — blocked",
      "Activity heatmap — allowed").foreach(t => assert(html.contains(t), t))
    // self-contained: no external scripts/styles/images (the only URL
    // on the page is the SVG xmlns identifier)
    assert(!html.contains("<script") && !html.contains("<link") &&
      !html.contains("src=\"http"))
    assert(html.replace("\"http://www.w3.org/2000/svg\"", "").contains("https://") == false &&
      !html.replace("\"http://www.w3.org/2000/svg\"", "").contains("http://"))
    val out = Files.createTempDirectory("graft_fig").resolve("dash.html")
    Figures.writeDashboard(prep, out.toString)
    assert(Files.size(Paths.get(out.toString)) > 10000)
  }

  test("dashboard heads with the reference's 27 stat cards; formats match app.py") {
    val prep = Preprocess.preprocessEvents(Tables.events(spark, "/root/testdata/sf0.001"))
    val html = Figures.dashboard(prep)
    // every reference card title (app.py:262-688) renders
    Seq("Allowed Queries", "Blocked Queries", "Top Allowed Domain",
      "Top Blocked Domain", "Total Unique Clients", "Total Queries",
      "Highest number of queries were on", "Lowest number of queries were on",
      "Average reply time", "Most Active Hour", "Least Active Hour",
      "Most Active Day of the Week", "Least Active Day of the Week",
      "Longest Blocking Streak", "Longest Allowing Streak",
      "Total queries during the day", "Total queries during the night",
      "Top allowed domain during the day", "Top blocked domain during the day",
      "Top allowed domain during the night", "Top blocked domain during the night",
      "Most Persistent Client", "Most Diverse Client", "Longest Idle Period",
      "Slowest Responding Domain", "Average Time Between Blocked Queries",
      "Average Time Between Allowed Queries").foreach(t => assert(html.contains(t), t))
    Seq("Query Stats", "Activity Stats", "Day and Night Stats", "Other Stats")
      .foreach(t => assert(html.contains(s"<summary>$t</summary>"), t))
    // the values are the computeStats values, reference-formatted
    val stats = Engine.computeStats(prep)
    val total = java.text.NumberFormat.getIntegerInstance(java.util.Locale.US)
      .format(stats("total_queries").asInstanceOf[Long])
    assert(html.contains(total))
    assert(html.contains(f"(${stats("allowed_pct").asInstanceOf[Double]}%.1f%%)"))
    // chart-only form skips the stats pass entirely
    assert(!Figures.dashboard(prep, withStats = false).contains("Most Diverse Client"))
  }

  test("statCards degrades missing/null keys to N/A instead of failing") {
    val html = Figures.statCards(Map(
      "total_queries" -> 1234567L, "allowed_pct" -> 98.7654,
      "max_idle_ms" -> null, "slowest_avg_reply_time" -> 0.0))
    assert(html.contains("1,234,567"))
    assert(html.contains("(98.8%)"))      // the reference's :.1f rendering
    assert(html.contains("N/A"))           // null + absent keys degrade
    assert(!html.contains("null"))
  }

  test("chart primitives cope with empty inputs") {
    assert(Figures.lineChart("t", Seq.empty).contains("no data"))
    assert(Figures.hbarChart("t", Seq.empty).contains("no data"))
    assert(Figures.stackedBars("t", Seq.empty, Seq.empty).contains("no data"))
    val hm = Figures.heatmap("t", Seq("Monday"), Seq("0:00"), Seq(Seq(Double.NaN)))
    assert(hm.contains("#f6f6f6")) // NaN cell renders blank, not zero
  }

  test("anomaly rings snap to the rolled-up bucket's plotted point") {
    import org.apache.spark.sql.functions.{col, to_date}
    import spark.implicits._
    // 3,000 daily points force the display rollup past daily (weekly
    // buckets); baseline varies (constant would give sd=0, z undefined)
    // and one spiked day mid-series is the anomaly
    val daily = (0 until 3000).map { d =>
      ("Allowed", java.time.LocalDate.of(2015, 1, 1).plusDays(d).toString,
        if (d == 1500) 500.0 else (10 + d % 3).toDouble)
    }.toDF("status_type", "date", "cnt")
      .withColumn("date", to_date(col("date")))
    val (series, rings) = Figures.boundedAnomalySeries(
      graft.operators.Stats.dailyAnomaliesFrom(daily))
    val allowed = series.toMap.apply("Allowed")
    assert(allowed.size < 3000, "series must have rolled up")
    assert(rings.nonEmpty, "the spike must be flagged")
    // every ring sits ON a plotted point of its leg (x AND y), with the
    // daily detail preserved in the tooltip label
    val pts = allowed.toSet
    rings.foreach { case (x, y, label) =>
      assert(pts.contains((x, y)), s"ring ($x,$y) not on the plotted line")
      assert(label.contains("on 2019-"), s"label keeps the day: $label")
      assert(label.contains(": 500 "), s"label keeps the daily count: $label")
    }
  }

  test("anomaly rings past the rollup threshold: Spark's (|z| DESC, date, status) order, first 2048") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{abs, col}
    // a w09-shaped frame over 2,100 days × 3 classes: ~80% flagged, |z|
    // from four values (ties across dates and classes), both signs
    val start = java.time.LocalDate.of(2015, 1, 1)
    val rows = for (d <- 0 until 2100; (st, s) <- Seq("Allowed", "Blocked", "Other").zipWithIndex) yield {
      val z = if ((d + s) % 5 == 4) 1.0
        else (if ((d + s) % 2 == 0) 1 else -1) * (2.5 + (d / 3 + s) % 4 * 0.5)
      Row(st, java.sql.Date.valueOf(start.plusDays(d)), (10 + (d * 7 + s) % 13).toLong,
        11.0, z, math.abs(z) > 2.0)
    }
    val anoms = df("status_type string, date date, cnt bigint, trailing_mean double, " +
      "z_score double, is_anomaly boolean", rows)
    assert(rows.count(_.getBoolean(5)) > 2048)
    val expected = anoms.filter(col("is_anomaly"))
      .orderBy(abs(col("z_score")).desc, col("date"), col("status_type"))
      .limit(2048)
      .select(col("status_type"), col("date").cast("string"), col("cnt"), col("z_score"))
      .collect().toSeq
    val (series, rings) = Figures.boundedAnomalySeries(anoms)
    assert(series.forall(_._2.size < 2100), "series must have rolled up")
    assert(rings.map(_._3) == expected.map(r =>
      f"${r.getString(0)} anomaly on ${r.getString(1)}: ${r.getLong(2)} (z=${r.getDouble(3)}%.1f)"))
    // each ring sits on a plotted point of its class's line
    val legs = series.toMap.view.mapValues(_.toSet).toMap
    rings.zip(expected).foreach { case ((x, y, label), r) =>
      assert(legs(r.getString(0)).contains((x, y)), s"ring ($x,$y) not on its line: $label")
    }
  }

  test("anomaly series and rings sit on the session zone's day starts (Asia/Kolkata)") {
    import org.apache.spark.sql.functions.{col, to_date}
    import spark.implicits._
    val conf = "spark.sql.session.timeZone"
    val prev = spark.conf.get(conf)
    spark.conf.set(conf, "Asia/Kolkata")
    try {
      val daily = (for (d <- 0 until 60; st <- Seq("Allowed", "Blocked")) yield
        (st, java.time.LocalDate.of(2024, 1, 1).plusDays(d).toString,
          if (d == 40) 500.0 else (10 + d % 3).toDouble))
        .toDF("status_type", "date", "cnt")
        .withColumn("date", to_date(col("date")))
      val anoms = graft.operators.Stats.dailyAnomaliesFrom(daily)
      val days = anoms.select(col("status_type"), col("date").cast("string"),
        col("date").cast("timestamp"), col("cnt")).collect()
      val (series, rings) = Figures.boundedAnomalySeries(anoms)
      assert(series.toMap == days.groupBy(_.getString(0)).map { case (st, rs) =>
        st -> rs.map(r => (r.getTimestamp(2).getTime, r.getLong(3).toDouble)).sortBy(_._1).toSeq })
      val dayStart = days.map(r => s"${r.getString(0)} anomaly on ${r.getString(1)}:" ->
        r.getTimestamp(2).getTime).toMap
      assert(rings.size == 2, "the spike must be flagged in both classes")
      rings.foreach { case (x, _, label) =>
        assert(dayStart(label.substring(0, label.indexOf(':') + 1)) == x, label)
      }
    } finally spark.conf.set(conf, prev)
  }

  test("labels are XML-escaped") {
    val html = Figures.hbarChart("t", Seq("""a<b>&"c""" -> 1.0))
    assert(html.contains("a&lt;b&gt;&amp;&quot;c"))
  }

  test("anomaly rings render at flagged points, none when nothing is flagged") {
    val series = Seq("Allowed" -> (0 to 9).map(d => (d * 86400000L, 10.0)).toSeq)
    val flat = Figures.lineChart("t", series)
    assert(!flat.contains("class=\"anomaly\""))
    val ringed = Figures.lineChart("t", series,
      markers = Seq((8 * 86400000L, 100.0, "Allowed anomaly: 100 (z=8.2)")))
    assert(ringed.contains("class=\"anomaly\""))
    assert(ringed.contains("Allowed anomaly: 100 (z=8.2)"))
  }
}
