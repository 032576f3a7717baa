package graft

import java.time.format.DateTimeFormatter
import java.util.Locale

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.operators.{PlotData, Stats, Streaks}

/** The user-facing facade: everything a user of the reference dashboard
  * calls, re-expressed over Spark. `computeStats` assembles the
  * reference's scalar dictionary (stats.py:474-528, ~75 keys, same names,
  * same sentinels, same display formats, same quirks); `plotData` the
  * chart-table dictionary (plot.py:12-162).
  *
  * Execution model: `computeStats` does not persist `prep` itself; each
  * fused job reads whatever `prep` is. A SQLite load served through
  * [[graft.serve.ServingCache]] is materialized by the cache, so every
  * job reads the in-memory copy. A parquet load (the batch facade,
  * FacadeBench) stays bare, and each job re-scans the source with
  * pushdown — see [[computeStats]] for the 30M-row measurement that
  * keeps that model.
  *
  * Per-plan fixed cost (planning, codegen, one job per AQE stage) is what
  * a home-scale refresh pays, so `computeStats` plans as few aggregates
  * over `prep` as it can. The order-free statistics (totals, range, reply
  * ms, the calendar, the top clients, the client-side day/night block)
  * come from ONE grouping-sets aggregate, [[operators.Stats.keyCounts]],
  * whose small result (dates + weekday×hour + clients) is collected once
  * and derived on the driver by [[operators.Stats.KeyCounts]]; the
  * dashboard hands the same collect to its charts. The domain-keyed
  * statistics (top domains overall and per day/night period, persistent
  * and diverse client, unique domains, slowest domain, inter-arrival
  * gaps) come from ONE plan returning ONE row,
  * [[operators.Stats.domainPass]]; the streaks and idle gap from one
  * fused range pass. The round-trips and a job budget are pinned in
  * EngineSpec. Every job returns a bounded result; the fact table never
  * reaches the driver.
  *
  * The facade keeps no private operators: each value it reads is pinned
  * in StatsSpec to the declared query's own operator.
  *
  * Every job the facade launches carries a description naming its block
  * (`stats:key_counts`, `stats:domains`, `stats:streaks`; [[labelled]]),
  * so a listener or the Spark UI attributes each job, AQE's stage jobs
  * included.
  */
object Engine {

  /** Load + filter + derive: the reference's startup pipeline
    * (app.py:144-178) for parquet-exported FTL data. */
  def load(spark: SparkSession, paths: Seq[String], fromEpoch: Long, toEpoch: Long,
           ignoreDomains: Seq[String] = Nil): DataFrame = {
    val raw = sources.FtlIngest.readParquet(spark, paths, fromEpoch, toEpoch)
    Preprocess.regexAntiFilter(Preprocess.preprocessFtl(raw), "domain", ignoreDomains)
  }

  /** [[load]] straight from FTL SQLite `.db` files — the reference's
    * actual invocation shape (its CLI points at pihole-FTL.db,
    * db.py:16-30): native page-parallel read, then the same
    * preprocess + ignore-list pipeline. */
  def loadSqlite(spark: SparkSession, dbPaths: Seq[String], fromEpoch: Long, toEpoch: Long,
                 ignoreDomains: Seq[String] = Nil): DataFrame = {
    val raw = sources.FtlIngest.readSqlite(spark, dbPaths, fromEpoch, toEpoch)
    Preprocess.regexAntiFilter(Preprocess.preprocessFtl(raw), "domain", ignoreDomains)
  }

  private val MinMaxFmt = DateTimeFormatter.ofPattern("d-M-yyyy (HH:mm)", Locale.ENGLISH)
  private val DayFmt = DateTimeFormatter.ofPattern("dd MMMM yyyy", Locale.ENGLISH)
  private val HourFmt = DateTimeFormatter.ofPattern("HH:mm", Locale.ENGLISH)
  private val GapSecFmt = DateTimeFormatter.ofPattern("dd-MMM yyyy HH:mm:ss", Locale.ENGLISH)

  /** Runs `body` with `label` as the calling thread's Spark job
    * description, then restores the caller's. Every job `body` launches
    * carries it: AQE's stage and broadcast jobs run on other threads but
    * inherit the caller's local properties. */
  private[graft] def labelled[T](spark: SparkSession, label: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(JobDescription)
    sc.setJobDescription(label)
    try body finally sc.setLocalProperty(JobDescription, prev)
  }

  /** The local property `SparkContext.setJobDescription` sets. */
  private[graft] val JobDescription = "spark.job.description"

  private def utc(ts: java.sql.Timestamp) =
    ts.toInstant.atZone(java.time.ZoneId.of("UTC"))

  /** "%d-%b %Y %H:%M:%S.%f" truncated to 2 fraction digits
    * (stats.py:390-402: `[:-4]` on a 6-digit microsecond suffix). */
  private def gapFmt(ts: java.sql.Timestamp): String = {
    val z = utc(ts)
    f"${z.format(GapSecFmt)}.${z.getNano / 10000000}%02d"
  }

  /** The reference's full stats dictionary. Keys, sentinel values ("N/A",
    * 0, 0.0), tie-breaks (pandas idxmax = first in key order) and quirks
    * (max_idle_ms holding SECONDS, stats.py:404; slowest_avg_reply_time
    * unscaled, stats.py:465) are preserved exactly.
    *
    * `prep` is read as given. For a SQLite load the serving tier passes
    * the relation [[graft.serve.ServingCache]] materialized once per
    * load: the page reader decodes row at a time, and a refresh would
    * otherwise re-parse the file per job. This method does not persist
    * on its own, so for a parquet load each fused job re-scans the
    * source: measured head-to-head at 30 M rows, the cache
    * build + columnar-cache reads cost MORE than the ~11 parallel
    * pushdown parquet scans they replace (stats stage 63.4 s persisted
    * vs 54.1 s re-scanning; whole facade 112 s vs 90 s — the cache's
    * memory pressure also bled into the later plot/hourly stages). At
    * cluster scale a full-prep persist of a 100 TB relation is
    * write-amplified spill, while re-scanning columnar storage with
    * pushdown is the shape every warehouse engine runs.
    *
    * The order-free statistics (totals, range, reply ms, unique clients,
    * the calendar and the client-side day/night block, the top clients)
    * come from ONE [[operators.Stats.keyCounts]] collect, the
    * domain-keyed ones from ONE [[operators.Stats.domainPass]] row, and
    * the streaks and idle gap from [[operators.Streaks.longestStreaksWithIdle]]. */
  def computeStats(prep: DataFrame): Map[String, Any] =
    computeStats(prep, labelled(prep.sparkSession, "stats:key_counts")(Stats.KeyCounts(prep)))

  /** [[computeStats]] over an already collected [[operators.Stats.keyCounts]]
    * of the same `prep`: the dashboard collects it once for the stats and
    * its charts. */
  private[graft] def computeStats(prep: DataFrame, keys: Stats.KeyCounts): Map[String, Any] = {
    val m = scala.collection.mutable.Map.empty[String, Any]
    def block[T](name: String)(body: => T): T = labelled(prep.sparkSession, s"stats:$name")(body)

    // ---- global summary: totals + range + reply (stats.py:10-52,
    // 446-455), the ungrouped row of the key counts; none on an empty
    // relation ----
    val g = keys.summary
    def gl(c: String): Long = g.fold(0L)(_.getAs[Long](c))
    val total = gl("cnt")
    m("n_data_points") = total
    m("total_queries") = total
    m("blocked_count") = gl("blocked_cnt")
    m("allowed_count") = gl("allowed_cnt")
    m("blocked_pct") = if (total > 0) gl("blocked_cnt").toDouble / total * 100 else 0.0
    m("allowed_pct") = if (total > 0) gl("allowed_cnt").toDouble / total * 100 else 0.0
    g.filter(_.getAs[java.sql.Timestamp]("min_ts") != null) match {
      case Some(r) =>
        m("min_date") = utc(r.getAs[java.sql.Timestamp]("min_ts")).format(MinMaxFmt)
        m("max_date") = utc(r.getAs[java.sql.Timestamp]("max_ts")).format(MinMaxFmt)
        m("oldest_data_point") = m("min_date")
        m("latest_data_point") = m("max_date")
        m("data_span_days") = r.getAs[Long]("span_days")
        m("data_span_str") =
          s"${r.getAs[Long]("span_days")}d,${r.getAs[Long]("span_hours")}h and ${r.getAs[Long]("span_minutes")}min"
      case None =>
        Seq("min_date", "max_date", "oldest_data_point", "latest_data_point")
          .foreach(m(_) = "N/A")
        m("data_span_days") = 0L
        m("data_span_str") = "0d,0h and 0min"
    }

    // ---- the domain-keyed statistics: ONE plan, ONE row ----
    val d = block("domains")(Stats.DomainPass(prep))

    // ---- top clients (stats.py:56-72), from the key counts ----
    m("top_client") = keys.topClient.headOption.map(_.getString(0)).getOrElse("N/A")
    val classClient = keys.topClientByClass.map(r => r.getString(0) -> r.getString(1)).toMap
    m("top_allowed_client") = classClient.getOrElse("Allowed", "N/A")
    m("top_blocked_client") = classClient.getOrElse("Blocked", "N/A")

    // ---- top domains + quirky counts (stats.py:74-115): a class's top
    // domain, its count over ALL statuses (quirk) and its top in-class
    // client, overall or in one period ----
    def topDomainKeys(prefix: String, period: Option[String], cls: String): Unit = {
      val r = d.topDomain(period, cls)
      m(s"${prefix}_domain") = r.fold("N/A")(_.getString(0))
      m(s"${prefix}_domain_count") = r.fold(0L)(_.getLong(2))
      m(s"${prefix}_domain_client") = r.fold("N/A")(_.getString(3))
    }
    topDomainKeys("top_allowed", None, "Allowed")
    topDomainKeys("top_blocked", None, "Blocked")

    // ---- most persistent client (stats.py:119-139) ----
    val persistent = d.persistent
    m("most_persistent_client") = persistent.fold("N/A")(_.getString(0))
    m("blocked_domain") = persistent.fold("N/A")(_.getString(1))
    m("repeat_attempts") = persistent.fold(0L)(_.getLong(2))

    // ---- activity by date / hour / weekday (stats.py:148-205), from
    // the key counts, each in key order ----
    val daily = keys.dailyCounts
    // pandas idxmax/idxmin take the FIRST max/min in date order; the
    // blocked/allowed groupbys only contain dates with >0 such rows
    def argDateNonZero(measure: Row => Long, most: Boolean): String = {
      val rows = daily.filter(measure(_) > 0)
      if (rows.isEmpty) "N/A"
      else {
        val vals = rows.map(measure)
        val target = if (most) vals.max else vals.min
        rows(vals.indexOf(target)).getDate(0).toLocalDate.format(DayFmt)
      }
    }
    m("date_most_queries") = argDateNonZero(_.getLong(1), most = true)
    m("date_least_queries") = argDateNonZero(_.getLong(1), most = false)
    m("date_most_blocked") = argDateNonZero(_.getLong(2), most = true)
    m("date_least_blocked") = argDateNonZero(_.getLong(2), most = false)
    m("date_most_allowed") = argDateNonZero(_.getLong(3), most = true)
    m("date_least_allowed") = argDateNonZero(_.getLong(3), most = false)

    val hourly = keys.hourlyCounts
    if (hourly.nonEmpty) {
      val vals = hourly.map(_.getLong(1))
      m("most_active_hour") = hourly(vals.indexOf(vals.max)).getInt(0)
      m("least_active_hour") = hourly(vals.indexOf(vals.min)).getInt(0)
      m("avg_queries_most") = vals.max
      m("avg_queries_least") = vals.min
    } else {
      m("most_active_hour") = 0; m("least_active_hour") = 0
      m("avg_queries_most") = 0L; m("avg_queries_least") = 0L
    }

    // RAW means — the reference argmaxes and int()-truncates unrounded
    // values (stats.py:203-205); rounding first could flip both
    val weekly = keys.weekdayAvgRaw // day_name-ascending (pandas index order)
    if (weekly.nonEmpty) {
      val vals = weekly.map(_.getDouble(1))
      m("most_active_day") = weekly(vals.indexOf(vals.max)).getString(0)
      m("most_active_avg") = vals.max.toLong
      m("least_active_day") = weekly(vals.indexOf(vals.min)).getString(0)
      m("least_active_avg") = vals.min.toLong
    } else {
      m("most_active_day") = "N/A"; m("least_active_day") = "N/A"
      m("most_active_avg") = 0L; m("least_active_avg") = 0L
    }

    // ---- day/night block (stats.py:211-321): the client-side tables
    // (totals + top client + per-class top client) from the key counts,
    // the top domain of each class per period from the domain pass (a
    // NULL top domain drops its period, as in Stats.dayNightTopDomain) ----
    val dnTotals = keys.dayNightTotals.map(r => r.getString(0) -> r.getLong(1)).toMap
    val dnClient = keys.dayNightTopClient.map(r => r.getString(0) -> r.getString(1)).toMap
    val dnClassClient = keys.dayNightTopClientByClass
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    for ((period, prefix) <- Seq("Day" -> "day", "Night" -> "night")) {
      m(s"${prefix}_total_queries") = dnTotals.getOrElse(period, 0L)
      m(s"${prefix}_top_client") = dnClient.getOrElse(period, "N/A")
      m(s"${prefix}_top_allowed_client") = dnClassClient.getOrElse((period, "Allowed"), "N/A")
      m(s"${prefix}_top_blocked_client") = dnClassClient.getOrElse((period, "Blocked"), "N/A")
      for ((cls, cname) <- Seq("Allowed" -> "allowed", "Blocked" -> "blocked"))
        topDomainKeys(s"${prefix}_top_$cname", Some(period), cls)
    }

    // ---- uniques (stats.py:420-440; clients from the key counts,
    // domains and the diverse client from the domain pass) ----
    m("unique_domains") = d.uniqueDomains
    m("unique_clients") = keys.uniqueClients
    val diverse = d.diverse
    m("most_diverse_client") = diverse.fold("N/A")(_.getString(0))
    m("unique_domains_count") = diverse.fold(0L)(_.getLong(1))

    // ---- reply times (stats.py:444-467; ms stats from the summary,
    // slowest domain from the domain pass) ----
    for ((key, c) <- Seq("avg_reply_time" -> "avg_reply_ms", "max_reply_time" -> "max_reply_ms",
                         "min_reply_time" -> "min_reply_ms"))
      m(key) = g.fold(0.0)(_.getAs[Double](c))
    // slowest_avg_reply_time is UNSCALED seconds in the reference — quirk
    val slowest = d.slowest
    m("slowest_domain") = slowest.fold("N/A")(_.getString(0))
    m("slowest_avg_reply_time") = slowest.fold(0.0)(_.getDouble(1))

    // ---- streaks + idle gaps (stats.py:323-365, 369-415) — the fused
    // form: one range shuffle feeds both order-dependent stats, instead
    // of each operator sorting the full relation separately (the two
    // standalone sorts were the largest slice of this method at 100 M
    // rows) ----
    val (streakRows, idle) = block("streaks") {
      val (streaksDf, idleDf) = Streaks.longestStreaksWithIdle(prep)
      (streaksDf.collect(), idleDf.collect().headOption)
    }
    val streaks = streakRows
      .map(r => r.getString(0) -> ((r.getLong(1), r.getTimestamp(2)))).toMap
    for ((cls, cname) <- Seq("Allowed" -> "allowed", "Blocked" -> "blocked"))
      streaks.get(cls) match {
        case Some((len, start)) =>
          m(s"longest_streak_length_$cname") = len
          m(s"streak_date_$cname") = utc(start).format(DayFmt)
          m(s"streak_hour_$cname") = utc(start).format(HourFmt)
        case None =>
          m(s"longest_streak_length_$cname") = 0L
          m(s"streak_date_$cname") = "N/A"
          m(s"streak_hour_$cname") = "N/A"
      }
    idle match {
      case Some(r) =>
        m("max_idle_ms") = r.getDouble(0) // seconds, reference-faithful misnomer
        m("before_gap") = gapFmt(r.getTimestamp(1))
        m("after_gap") = gapFmt(r.getTimestamp(2))
      case None =>
        m("max_idle_ms") = null; m("before_gap") = null; m("after_gap") = null
    }
    m("avg_time_between_allowed") = d.meanGap("Allowed").getOrElse(null)
    m("avg_time_between_blocked") = d.meanGap("Blocked").getOrElse(null)

    m.toMap
  }

  /** The reference's plot-data dictionary (plot.py:12-162): named small
    * aggregate tables, all lazy DataFrames. */
  def plotData(prep: DataFrame, nClients: Int = 10, nDomains: Int = 10): Map[String, DataFrame] = {
    val nScatter = math.min(nClients, nDomains)
    Map(
      "top_clients_stacked" -> PlotData.stackedClientBar(prep, nClients),
      "blocked_df" -> PlotData.topDomainsOfClass(prep, "Blocked", nDomains),
      "allowed_df" -> PlotData.topDomainsOfClass(prep, "Allowed", nDomains),
      "reply_time_df" -> Stats.replyByDate(prep),
      "client_domain_scatter_df" -> PlotData.clientDomainScatter(prep, nScatter, nScatter),
      "day_hour_heatmap" -> PlotData.dayHourHeatmapWeekdays(prep, None),
      "blocked_day_hour_heatmap" -> PlotData.dayHourHeatmapWeekdays(prep, Some("Blocked")),
      "allowed_day_hour_heatmap" -> PlotData.dayHourHeatmapWeekdays(prep, Some("Allowed")))
  }
}
