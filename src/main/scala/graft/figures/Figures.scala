package graft.figures

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions.col

import graft.operators.{PlotData, Stats}

/** The presentation layer: the reference's `app.py:208-981` +
  * `plot.py:231-364` render the chart tables as a Dash dashboard. This
  * is a STATIC renderer over the same tables ([[Engine.plotData]] plus
  * the hourly rollup): self-contained HTML with inline SVG, no
  * external libraries, no network. Presentation only — every number on
  * the page equals an oracle-checked plot-data operator's (StatsSpec and
  * ServeSpec pin the driver-side and rollup forms to them), so there
  * is nothing here for DuckDB to compare (the driver contract covers the
  * tables; FiguresSpec smoke-tests the rendering).
  *
  * Scale note: each chart consumes a plot-data AGGREGATE (top-k rows,
  * one row per hour/date/weekday) — the collects here are bounded by
  * chart size, never by fact-table size, exactly like the reference's
  * plotting layer.
  */
object Figures {

  private val Palette = Seq(
    "#4C78A8", "#F58518", "#54A24B", "#E45756", "#72B7B2",
    "#EECA3B", "#B279A2", "#FF9DA6", "#9D755D", "#BAB0AC")

  private def color(i: Int): String = Palette(i % Palette.size)

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")

  private def fmtNum(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else f"$v%.3f"

  // ---- chart primitives (pure string builders, unit-testable) ----

  /** Multi-series line chart; x is epoch millis, labeled as dates. */
  def lineChart(title: String, series: Seq[(String, Seq[(Long, Double)])],
                w: Int = 880, h: Int = 300,
                markers: Seq[(Long, Double, String)] = Seq.empty): String = {
    val pad = 48
    val pts = series.flatMap(_._2)
    if (pts.isEmpty) return emptyChart(title, w, h)
    // markers participate in the domain: a marker outside the series'
    // extent (public API allows it) must move the scale, not render
    // outside the plot rectangle
    val dom = pts ++ markers.map(m => (m._1, m._2))
    val (x0, x1) = (dom.map(_._1).min, math.max(dom.map(_._1).max, dom.map(_._1).min + 1))
    val y1 = math.max(dom.map(_._2).max, 1e-9)
    def sx(x: Long): Double = pad + (x - x0).toDouble / (x1 - x0) * (w - 2 * pad)
    def sy(y: Double): Double = h - pad - y / y1 * (h - 2 * pad)
    val lines = series.zipWithIndex.map { case ((name, ps), i) =>
      val d = ps.sortBy(_._1).map { case (x, y) => f"${sx(x)}%.1f,${sy(y)}%.1f" }.mkString(" ")
      s"""<polyline fill="none" stroke="${color(i)}" stroke-width="1.5" points="$d"><title>${esc(name)}</title></polyline>"""
    }
    val yTicks = (0 to 4).map { i =>
      val v = y1 * i / 4
      val y = sy(v)
      s"""<line x1="$pad" y1="$y" x2="${w - pad}" y2="$y" stroke="#eee"/>""" +
        s"""<text x="${pad - 6}" y="${y + 4}" text-anchor="end" class="tick">${fmtNum(v)}</text>"""
    }
    val xTicks = (0 to 4).map { i =>
      val x = x0 + (x1 - x0) * i / 4
      val d = java.time.Instant.ofEpochMilli(x).atZone(java.time.ZoneId.of("UTC")).toLocalDate
      s"""<text x="${sx(x)}" y="${h - pad + 16}" text-anchor="middle" class="tick">$d</text>"""
    }
    val legend = series.zipWithIndex.map { case ((name, _), i) =>
      s"""<rect x="${pad + i * 140}" y="8" width="10" height="10" fill="${color(i)}"/>""" +
        s"""<text x="${pad + i * 140 + 14}" y="17" class="tick">${esc(name)}</text>"""
    }
    val marks = markers.map { case (x, y, label) =>
      s"""<circle cx="${f"${sx(x)}%.1f"}" cy="${f"${sy(y)}%.1f"}" r="4.5" """ +
        s"""fill="none" stroke="#d62728" stroke-width="2" class="anomaly">""" +
        s"""<title>${esc(label)}</title></circle>"""
    }
    svg(title, w, h, yTicks ++ xTicks ++ lines ++ marks ++ legend)
  }

  /** Horizontal bars, one per labeled item (top-k domain charts). */
  def hbarChart(title: String, items: Seq[(String, Double)], w: Int = 880): String = {
    if (items.isEmpty) return emptyChart(title, w, 120)
    val rowH = 22
    val pad = 48
    val labelW = 220
    val h = items.size * rowH + 2 * pad
    val vMax = math.max(items.map(_._2).max, 1e-9)
    val bars = items.zipWithIndex.flatMap { case ((label, v), i) =>
      val y = pad + i * rowH
      val bw = v / vMax * (w - labelW - 2 * pad)
      Seq(
        s"""<text x="${labelW - 8}" y="${y + 14}" text-anchor="end" class="tick">${esc(label)}</text>""",
        s"""<rect x="$labelW" y="$y" width="${math.max(bw, 1.0)}" height="${rowH - 6}" fill="${color(0)}"><title>${esc(label)}: ${fmtNum(v)}</title></rect>""",
        s"""<text x="${labelW + bw + 6}" y="${y + 14}" class="tick">${fmtNum(v)}</text>""")
    }
    svg(title, w, h, bars)
  }

  /** Vertically stacked bars: one bar per category, stacked by series. */
  def stackedBars(title: String, categories: Seq[String],
                  series: Seq[(String, Seq[Double])], w: Int = 880, h: Int = 320): String = {
    if (categories.isEmpty) return emptyChart(title, w, h)
    val pad = 48
    val barW = math.min(56.0, (w - 2.0 * pad) / categories.size * 0.7)
    val step = (w - 2.0 * pad) / categories.size
    val totals = categories.indices.map(i => series.map(_._2(i)).sum)
    val vMax = math.max(totals.max, 1e-9)
    val bars = categories.indices.flatMap { ci =>
      var yTop = h - pad.toDouble
      series.zipWithIndex.map { case ((name, vals), si) =>
        val bh = vals(ci) / vMax * (h - 2 * pad)
        yTop -= bh
        s"""<rect x="${pad + ci * step + (step - barW) / 2}" y="$yTop" width="$barW" height="$bh" fill="${color(si)}"><title>${esc(categories(ci))} ${esc(name)}: ${fmtNum(vals(ci))}</title></rect>"""
      }
    }
    val labels = categories.zipWithIndex.map { case (c, ci) =>
      val x = pad + ci * step + step / 2
      s"""<text x="$x" y="${h - pad + 16}" text-anchor="middle" class="tick" transform="rotate(30 $x ${h - pad + 16})">${esc(c.take(18))}</text>"""
    }
    val legend = series.zipWithIndex.map { case ((name, _), i) =>
      s"""<rect x="${pad + i * 140}" y="8" width="10" height="10" fill="${color(i)}"/>""" +
        s"""<text x="${pad + i * 140 + 14}" y="17" class="tick">${esc(name)}</text>"""
    }
    svg(title, w, h + 24, bars ++ labels ++ legend)
  }

  /** Day × hour heatmap; `cells(r)(c)` may be NaN for absent weekdays
    * (the reference's reindex semantics — rendered as blank). */
  def heatmap(title: String, rowLabels: Seq[String], colLabels: Seq[String],
              cells: Seq[Seq[Double]], w: Int = 880): String = {
    val pad = 48
    val labelW = 100
    val cw = (w - labelW - pad).toDouble / math.max(colLabels.size, 1)
    val ch = 24
    val h = rowLabels.size * ch + 2 * pad
    val flat = cells.flatten.filterNot(_.isNaN)
    val vMax = math.max(if (flat.isEmpty) 0.0 else flat.max, 1e-9)
    val boxes = rowLabels.indices.flatMap { r =>
      colLabels.indices.map { c =>
        val v = cells(r)(c)
        if (v.isNaN)
          s"""<rect x="${labelW + c * cw}" y="${pad + r * ch}" width="$cw" height="$ch" fill="#f6f6f6"/>"""
        else {
          val t = v / vMax
          // white → brand blue ramp
          val rr = (255 - t * (255 - 76)).toInt
          val gg = (255 - t * (255 - 120)).toInt
          val bb = (255 - t * (255 - 168)).toInt
          s"""<rect x="${labelW + c * cw}" y="${pad + r * ch}" width="$cw" height="$ch" fill="rgb($rr,$gg,$bb)"><title>${esc(rowLabels(r))} ${esc(colLabels(c))}: ${fmtNum(v)}</title></rect>"""
        }
      }
    }
    val rlab = rowLabels.zipWithIndex.map { case (l, r) =>
      s"""<text x="${labelW - 8}" y="${pad + r * ch + 16}" text-anchor="end" class="tick">${esc(l)}</text>"""
    }
    val clab = colLabels.zipWithIndex.collect { case (l, c) if c % 2 == 0 =>
      s"""<text x="${labelW + c * cw + cw / 2}" y="${pad - 8}" text-anchor="middle" class="tick">${esc(l)}</text>"""
    }
    svg(title, w, h, boxes ++ rlab ++ clab)
  }

  private def svg(title: String, w: Int, h: Int, body: Seq[String]): String =
    s"""<figure><figcaption>${esc(title)}</figcaption>
       |<svg viewBox="0 0 $w $h" width="$w" height="$h" xmlns="http://www.w3.org/2000/svg">
       |${body.mkString("\n")}
       |</svg></figure>""".stripMargin

  private def emptyChart(title: String, w: Int, h: Int): String =
    svg(title, w, h, Seq(s"""<text x="${w / 2}" y="${h / 2}" text-anchor="middle" class="tick">no data</text>"""))

  def page(title: String, charts: Seq[String]): String =
    s"""<!DOCTYPE html>
       |<html><head><meta charset="utf-8"><title>${esc(title)}</title>
       |<style>
       |body { font-family: system-ui, sans-serif; margin: 24px; color: #222; }
       |figure { margin: 0 0 32px 0; }
       |figcaption { font-weight: 600; margin-bottom: 6px; }
       |.tick { font-size: 11px; fill: #555; }
       |.cards { display: flex; flex-wrap: wrap; gap: 12px; margin: 12px 0; }
       |.card { border: 1px solid #ddd; border-radius: 8px; padding: 12px 16px;
       |        width: 240px; overflow: hidden; }
       |.card h3 { margin: 0 0 6px 0; font-size: 15px; }
       |.card .big { margin: 0; font-size: 20px; font-weight: 600;
       |             text-overflow: ellipsis; overflow: hidden; }
       |.card .sub { margin: 6px 0 0 0; font-size: 14px; color: #777; }
       |.subheading h5, .subheading h6 { margin: 4px 0; font-weight: 400; color: #555; }
       |details > summary { font-size: 25px; cursor: pointer; margin-top: 16px; }
       |</style></head><body>
       |<h1>${esc(title)}</h1>
       |${charts.mkString("\n")}
       |</body></html>""".stripMargin

  // ---- the per-stat card layout (app.py:208-700) ----

  private def card(title: String, value: String, sub: String): String =
    s"""<div class="card"><h3>${esc(title)}</h3><p class="big">${esc(value)}</p>""" +
      s"""<p class="sub">${esc(sub)}</p></div>"""

  private def section(title: String, cards: Seq[String]): String =
    s"""<details open><summary>${esc(title)}</summary><div class="cards">""" +
      cards.mkString + "</div></details>"

  /** The reference dashboard's ~70-scalar card layout (app.py:208-700)
    * rendered from [[graft.Engine.computeStats]]'s dictionary — same 27
    * cards, same section grouping (info row, Query / Activity / Day and
    * Night / Other), same texts and number formats (thousands-grouped
    * counts, the reference's `:.1f`/`:.2f` renderings, its N/A
    * fallbacks). Keys the map lacks render as N/A rather than failing —
    * a partial stats dict degrades to a partial page. */
  def statCards(stats: Map[String, Any], timezone: String = "UTC"): String = {
    def raw(k: String): Option[Any] = stats.get(k).filter(_ != null)
    def s(k: String): String = raw(k).map(String.valueOf).getOrElse("N/A")
    def grouped(k: String): String = raw(k) match {
      case Some(n: Number) =>
        java.text.NumberFormat.getIntegerInstance(java.util.Locale.US).format(n.longValue)
      case _ => "N/A"
    }
    def dec(k: String, places: Int, suffix: String = ""): String = raw(k) match {
      case Some(n: Number) => String.format(java.util.Locale.US, s"%.${places}f", n.doubleValue) + suffix
      case _ => "N/A"
    }
    def hourRange(k: String): String = raw(k) match {
      case Some(n: Number) => s"${n.intValue}:00 - ${n.intValue + 1}:00"
      case _ => "N/A"
    }
    val summary =
      s"""<div class="subheading"><h5>Data from ${esc(s("min_date"))} to ${esc(s("max_date"))}, """ +
        s"""spanning ${esc(s("data_span_str"))} is shown. Stats are based on ${grouped("n_data_points")} data points.</h5>""" +
        s"""<h6>Timezone is ${esc(timezone)}. Database records begin on ${esc(s("oldest_data_point"))} """ +
        s"""and end on ${esc(s("latest_data_point"))}.</h6></div>"""
    val info = Seq(
      card("Allowed Queries", s"${grouped("allowed_count")} (${dec("allowed_pct", 1)}%)",
        s"Top allowed client was ${s("top_allowed_client")}."),
      card("Blocked Queries", s"${grouped("blocked_count")} (${dec("blocked_pct", 1)}%)",
        s"Top blocked client was ${s("top_blocked_client")}."),
      card("Top Allowed Domain", s("top_allowed_domain"),
        s"was allowed ${grouped("top_allowed_domain_count")} times. " +
          s"This domain was queried the most by ${s("top_allowed_domain_client")}."),
      card("Top Blocked Domain", s("top_blocked_domain"),
        s"was blocked ${grouped("top_blocked_domain_count")} times. " +
          s"This domain was queried the most by ${s("top_blocked_domain_client")}."))
    val query = section("Query Stats", Seq(
      card("Total Unique Clients", grouped("unique_clients"),
        "Devices that have made at least one query."),
      card("Total Queries", grouped("total_queries"),
        s"Out of which ${grouped("unique_domains")} were unique, most queries came from ${s("top_client")}."),
      card("Highest number of queries were on", s("date_most_queries"),
        s"Highest number of allowed queries were on ${s("date_most_allowed")}. " +
          s"Highest number of blocked queries were on ${s("date_most_blocked")}."),
      card("Lowest number of queries were on", s("date_least_queries"),
        s"Lowest number of allowed queries were on ${s("date_least_allowed")}. " +
          s"Lowest number of blocked queries were on ${s("date_least_blocked")}."),
      card("Average reply time", s"${s("avg_reply_time")} ms",
        s"Longest reply time was ${s("max_reply_time")} ms and shortest reply time was ${s("min_reply_time")} ms.")))
    val activity = section("Activity Stats", Seq(
      card("Most Active Hour", hourRange("most_active_hour"),
        s"On average, ${grouped("avg_queries_most")} queries are made during this time."),
      card("Least Active Hour", hourRange("least_active_hour"),
        s"On average, ${grouped("avg_queries_least")} queries are made during this time."),
      card("Most Active Day of the Week", s("most_active_day"),
        s"On average, ${grouped("most_active_avg")} queries are made on this day."),
      card("Least Active Day of the Week", s("least_active_day"),
        s"On average, ${grouped("least_active_avg")} queries are made on this day."),
      card("Longest Blocking Streak", s"${grouped("longest_streak_length_blocked")} queries",
        s"on ${s("streak_date_blocked")} at ${s("streak_hour_blocked")}."),
      card("Longest Allowing Streak", s"${grouped("longest_streak_length_allowed")} queries",
        s"on ${s("streak_date_allowed")} at ${s("streak_hour_allowed")}.")))
    val dayNight = section("Day and Night Stats", Seq(
      card("Total queries during the day", grouped("day_total_queries"),
        s"Most queries were from ${s("day_top_client")}. ${s("day_top_allowed_client")} had the most " +
          s"allowed queries and ${s("day_top_blocked_client")} had the most blocked."),
      card("Total queries during the night", grouped("night_total_queries"),
        s"Most queries were from ${s("night_top_client")}. ${s("night_top_allowed_client")} had the most " +
          s"allowed queries and ${s("night_top_blocked_client")} had the most blocked."),
      card("Top allowed domain during the day", s("day_top_allowed_domain"),
        s"was allowed ${grouped("day_top_allowed_domain_count")} times. " +
          s"This domain was queried the most by ${s("day_top_allowed_domain_client")}."),
      card("Top blocked domain during the day", s("day_top_blocked_domain"),
        s"was blocked ${grouped("day_top_blocked_domain_count")} times. " +
          s"This domain was queried the most by ${s("day_top_blocked_domain_client")}."),
      card("Top allowed domain during the night", s("night_top_allowed_domain"),
        s"was allowed ${grouped("night_top_allowed_domain_count")} times. " +
          s"This domain was queried the most by ${s("night_top_allowed_domain_client")}."),
      card("Top blocked domain during the night", s("night_top_blocked_domain"),
        s"was blocked ${grouped("night_top_blocked_domain_count")} times. " +
          s"This domain was queried the most by ${s("night_top_blocked_domain_client")}.")))
    val other = section("Other Stats", Seq(
      card("Most Persistent Client", s("most_persistent_client"),
        s"Tried accessing '${s("blocked_domain")}' ${s("repeat_attempts")} times despite being blocked."),
      card("Most Diverse Client", s("most_diverse_client"),
        s"Queried ${grouped("unique_domains_count")} unique domains."),
      card("Longest Idle Period",
        raw("max_idle_ms") match {
          case Some(n: Number) =>
            java.text.NumberFormat.getIntegerInstance(java.util.Locale.US)
              .format(math.round(n.doubleValue)) + " s"
          case _ => "N/A"
        },
        if (raw("before_gap").isDefined && raw("after_gap").isDefined)
          s"Between ${s("before_gap")} and ${s("after_gap")}" else "N/A"),
      card("Slowest Responding Domain", s("slowest_domain"),
        raw("slowest_avg_reply_time") match {
          case Some(n: Number) if n.doubleValue != 0.0 =>
            String.format(java.util.Locale.US, "Avg reply time: %.2f ms", n.doubleValue * 1000)
          case _ => "N/A"
        }),
      card("Average Time Between Blocked Queries", dec("avg_time_between_blocked", 2, " s"),
        "Average interval between blocked queries."),
      card("Average Time Between Allowed Queries", dec("avg_time_between_allowed", 2, " s"),
        "Average interval between successful queries.")))
    summary + s"""<div class="cards">${info.mkString}</div>""" +
      query + activity + dayNight + other
  }

  // ---- the dashboard over the oracle-checked plot tables ----

  /** Render the reference dashboard's chart set from a preprocessed
    * relation, headed by the per-stat card layout
    * (`withStats = false` skips the ~70-scalar stats pass for
    * chart-only callers). Every collect is a bounded plot aggregate.
    * The order-free tables come from ONE [[Stats.keyCounts]] collect,
    * shared with the stats pass: at most 1 + |dates| + 168 +
    * 3·|clients| rows (plus one per NULL key), whatever the event count.
    * The stacked top-clients bar, the reply-time chart and the three
    * heatmaps and the activity chart's client list are derived from it
    * on the driver. The three time-series charts draw the serving slices'
    * definitions over [[PlotData.hourlyView]] of `prep`, the plan a
    * [[graft.serve.ServingCache]] persists. Each chart's jobs carry
    * the description `fig:<chart>`, the shared collect `fig:key_counts`. */
  def dashboard(prep: DataFrame, nClients: Int = 10, nDomains: Int = 10,
                withStats: Boolean = true, timezone: String = "UTC"): String = {
    val charts = Vector.newBuilder[String]
    def chart(name: String)(body: => String): Unit =
      charts += graft.Engine.labelled(prep.sparkSession, s"fig:$name")(body)
    val keys = graft.Engine.labelled(prep.sparkSession, "fig:key_counts")(Stats.KeyCounts(prep))
    if (withStats)
      charts += statCards(graft.Engine.computeStats(prep, keys), timezone)

    // the hourly rollup behind the three time-series charts
    val hourly = PlotData.hourlyView(prep)

    // queries over time per status class (plot.py:182-187) — the
    // reference's headline chart and the smoke-test subject, bounded at
    // O(~2k points × statuses) regardless of span
    chart("queries_over_time")(lineChart("Queries over time (hourly, by status)",
      lineSeries(PlotData.statusSeries(hourly))))

    // top clients stacked by status (plot.py:140-160)
    chart("top_clients") {
      val stacked = keys.stackedClientBar(nClients)
        .map(r => (r.getString(0), r.getString(2), r.getLong(3).toDouble))
      val clients = stacked.map(_._1).distinct.toSeq
      val statuses = stacked.map(_._2).distinct.sorted.toSeq
      stackedBars("Top clients (stacked by status)", clients,
        statuses.map { st =>
          st -> clients.map(c => stacked.collectFirst {
            case (`c`, `st`, v) => v
          }.getOrElse(0.0))
        })
    }

    // top domains per class (plot.py:52-89)
    for ((st, titleSt) <- Seq("Allowed" -> "allowed", "Blocked" -> "blocked"))
      chart(s"top_${titleSt}_domains") {
        val items = PlotData.topDomainsOfClass(prep, st, nDomains).collect()
          .map(r => (r.getString(0), r.getLong(1).toDouble)).toSeq
        hbarChart(s"Top $titleSt domains", items)
      }

    // client activity over time — the dashboard's interactive client
    // view (app.py:1107-1136) for the top clients, ranked from the key
    // counts as the stacked bar ranks them (no Spark job), filtered and
    // bounded in-plan at O(~2k points × clients)
    chart("client_activity")(lineChart(
      s"Client activity over time (top $nClients clients, hourly)",
      lineSeries(PlotData.clientSeries(hourly, keys.topClients(nClients)))))

    // daily volume with rolling z-score anomaly rings (w09 — beyond the
    // reference's chart set: the alerting extension of its daily series)
    chart("anomalies") {
      val (dailySeries, rings) = boundedAnomalySeries(PlotData.dailyAnomaliesOf(hourly))
      lineChart("Daily query volume (anomalies ringed)", dailySeries, markers = rings)
    }

    // mean reply time by date (plot.py:162-180) — a VALUE series, capped
    // through the envelope form: at multi-year spans the daily points
    // roll up to a coarser calendar unit with the min/max band kept
    // (a mean-only rollup would hide the latency spikes this chart
    // exists to show); below the threshold day in = day out, so the
    // daily means come straight from the key counts
    chart("reply_time") {
      val zone = DateTimeUtils.getZoneId(prep.sparkSession.sessionState.conf.sessionLocalTimeZone)
      val days = keys.replyByDate.filter(!_.isNullAt(0))
        .map(r => (r.getDate(0).toLocalDate.atStartOfDay(zone).toInstant.toEpochMilli, r))
      val spanS = if (days.isEmpty) 0L else (days.last._1 - days.head._1) / 1000
      val reply =
        if (PlotData.keepsDays(spanS))
          days.collect { case (t, r) if !r.isNullAt(1) => (t, r.getDouble(1), r.getDouble(1), r.getDouble(1)) }
        else PlotData.capSeriesEnvelope(Stats.replyMsByDate(prep)
            .select(col("date").cast("timestamp").as("ts_day"), col("avg_reply_ms")),
            "ts_day", Nil, "avg_reply_ms")
          .collect().filter(!_.isNullAt(1))
          .map(r => (r.getTimestamp(0).getTime,
            r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSeq
      lineChart("Mean reply time by date (ms)", Seq(
        "avg_reply_ms" -> reply.map(r => (r._1, r._2)).toSeq,
        "min_reply_ms" -> reply.map(r => (r._1, r._3)).toSeq,
        "max_reply_ms" -> reply.map(r => (r._1, r._4)).toSeq))
    }

    // day × hour heatmaps (plot.py:104-139): all + per class
    for ((st, name) <- Seq(None -> "all queries",
      Some("Blocked") -> "blocked", Some("Allowed") -> "allowed"))
      chart("heatmaps") {
        val rows = keys.dayHourHeatmapWeekdays(st)
        val cells = rows.map(r => (1 to 24).map(i =>
          if (r.isNullAt(i)) Double.NaN else r.getLong(i).toDouble).toSeq).toSeq
        heatmap(s"Activity heatmap — $name",
          rows.map(_.getString(0)).toSeq, (0 to 23).map(h => s"$h:00"), cells)
      }

    page("Pi-hole long-term stats", charts.result())
  }

  /** A (ts, series, cnt) relation → one line series per series value,
    * sorted by name, points in collect order — the rows→series step every
    * [[lineChart]] over a counted relation takes. */
  private[graft] def lineSeries(df: DataFrame): Seq[(String, Seq[(Long, Double)])] =
    df.collect().groupBy(_.getString(1)).toSeq.sortBy(_._1).map { case (name, rs) =>
      name -> rs.map(r => (r.getTimestamp(0).getTime, r.getLong(2).toDouble)).toSeq }

  /** w09 relation → ((status → volume series), anomaly rings with
    * tooltip labels) — the one extraction both the static dashboard and
    * the serve layer's interactive figure feed to [[lineChart]]. ONE
    * collect, no persist: the relation holds a row per (status, day), so
    * the collect is O(days), never O(events), and detection runs once,
    * daily, in-plan (rolling the z-scores up would change what an
    * anomaly IS). The rest runs on the driver:
    *  - volume series: the rows themselves while [[PlotData.keepsDays]]
    *    holds for their span; past it, [[PlotData.capSeries]] over the
    *    rows as a local relation (daily counts roll to the coarsest
    *    calendar unit that keeps ≤ ~2k points);
    *  - rings only from `is_anomaly` rows, the first 2048 by (|z| DESC,
    *    date, status). Each ring SNAPS to the containing display bucket
    *    of its status's plotted series (x = bucket start, y = the
    *    bucket's plotted sum), so it lands ON the line after a rollup;
    *    the day and its daily count stay in the tooltip (below the
    *    rollup threshold the snap is the identity).
    * A day's x is its start in the session time zone, Spark's
    * `cast(date as timestamp)` (java.sql.Date.getTime uses the JVM's). */
  def boundedAnomalySeries(anoms: DataFrame)
      : (Seq[(String, Seq[(Long, Double)])], Seq[(Long, Double, String)]) = {
    val spark = anoms.sparkSession
    val cols = anoms.select("status_type", "date", "cnt", "z_score", "is_anomaly")
    val zone = DateTimeUtils.getZoneId(spark.sessionState.conf.sessionLocalTimeZone)
    val days = cols.collect().filter(!_.isNullAt(1))
      .map(r => (r.getDate(1).toLocalDate.atStartOfDay(zone).toInstant.toEpochMilli, r))
      .sortBy(_._1)
    val spanS = if (days.isEmpty) 0L else (days.last._1 - days.head._1) / 1000
    val series =
      if (PlotData.keepsDays(spanS))
        days.groupBy(_._2.getString(0)).toSeq.sortBy(_._1).map { case (st, ds) =>
          st -> ds.map { case (t, r) => (t, r.getLong(2).toDouble) }.toSeq }
      else lineSeries(PlotData.capSeries(
        spark.createDataFrame(java.util.Arrays.asList(days.map(_._2): _*), cols.schema)
          .select(col("status_type"), col("date").cast("timestamp").as("ts_day"), col("cnt")),
        "ts_day", Seq("status_type")))
    // per-status ascending bucket starts for the snap's floor search
    val legIndex: Map[String, IndexedSeq[(Long, Double)]] =
      series.map { case (st, pts) => st -> pts.toIndexedSeq }.toMap
    def snap(st: String, dayMs: Long, dailyY: Double): (Long, Double) =
      legIndex.get(st) match {
        case Some(pts) if pts.nonEmpty =>
          // greatest bucket start <= the day (buckets are date_trunc
          // starts, so the containing bucket is the floor neighbor)
          var lo = 0; var hi = pts.length - 1
          if (dayMs < pts(0)._1) pts(0)
          else {
            while (lo < hi) {
              val mid = (lo + hi + 1) >>> 1
              if (pts(mid)._1 <= dayMs) lo = mid else hi = mid - 1
            }
            pts(lo)
          }
        case _ => (dayMs, dailyY) // no plotted leg: keep daily coords
      }
    val rings = days.filter(_._2.getBoolean(4))
      .sortBy { case (t, r) => (-math.abs(r.getDouble(3)), t, r.getString(0)) }(
        Ordering.Tuple3(Ordering.Double.TotalOrdering, Ordering.Long, Ordering.String))
      .take(2048)
      .map { case (t, r) =>
        val (x, y) = snap(r.getString(0), t, r.getLong(2).toDouble)
        (x, y,
          f"${r.getString(0)} anomaly on ${r.getDate(1).toLocalDate}: ${r.getLong(2)} (z=${r.getDouble(3)}%.1f)")
      }.toSeq
    (series, rings)
  }

  /** Render and write; returns the path for convenience. */
  def writeDashboard(prep: DataFrame, path: String): String = {
    Files.write(Paths.get(path), dashboard(prep).getBytes(StandardCharsets.UTF_8))
    path
  }
}
