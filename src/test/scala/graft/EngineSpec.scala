package graft

import org.apache.spark.sql.Row

/** The facade contract: all reference stats keys present, sentinels on
  * empty input, sane values on a fixture (reference: stats.py:474-528,
  * tests/test_stats.py presence checks). */
class EngineSpec extends SparkSpec {

  private val allKeys = Seq(
    "n_data_points", "oldest_data_point", "latest_data_point", "min_date", "max_date",
    "data_span_days", "data_span_str",
    "total_queries", "blocked_count", "allowed_count", "blocked_pct", "allowed_pct",
    "top_client", "top_allowed_client", "top_blocked_client",
    "top_allowed_domain", "top_blocked_domain",
    "top_allowed_domain_count", "top_blocked_domain_count",
    "top_allowed_domain_client", "top_blocked_domain_client",
    "most_persistent_client", "blocked_domain", "repeat_attempts",
    "date_most_queries", "date_most_blocked", "date_most_allowed",
    "date_least_queries", "date_least_blocked", "date_least_allowed",
    "most_active_hour", "least_active_hour", "avg_queries_most", "avg_queries_least",
    "most_active_day", "most_active_avg", "least_active_day", "least_active_avg",
    "day_total_queries", "day_top_client", "day_top_allowed_client", "day_top_blocked_client",
    "day_top_allowed_domain", "day_top_blocked_domain",
    "day_top_allowed_domain_count", "day_top_blocked_domain_count",
    "day_top_allowed_domain_client", "day_top_blocked_domain_client",
    "night_total_queries", "night_top_client", "night_top_allowed_client",
    "night_top_blocked_client", "night_top_allowed_domain", "night_top_blocked_domain",
    "night_top_allowed_domain_count", "night_top_blocked_domain_count",
    "night_top_allowed_domain_client", "night_top_blocked_domain_client",
    "unique_domains", "unique_clients", "most_diverse_client", "unique_domains_count",
    "avg_reply_time", "max_reply_time", "min_reply_time",
    "slowest_domain", "slowest_avg_reply_time",
    "longest_streak_length_allowed", "streak_date_allowed", "streak_hour_allowed",
    "longest_streak_length_blocked", "streak_date_blocked", "streak_hour_blocked",
    "max_idle_ms", "before_gap", "after_gap",
    "avg_time_between_allowed", "avg_time_between_blocked")

  test("computeStats covers the full reference key set on a fixture") {
    val stats = Engine.computeStats(FtlFixture.prep(spark, 1, 1500))
    val missing = allKeys.filterNot(stats.contains)
    assert(missing.isEmpty, s"missing keys: $missing")
    assert(stats("total_queries") == 1500L)
    assert(stats("day_total_queries").asInstanceOf[Long]
      + stats("night_total_queries").asInstanceOf[Long] == 1500L)
    assert(stats("blocked_pct").asInstanceOf[Double]
      + stats("allowed_pct").asInstanceOf[Double] == 100.0)
    assert(FtlFixture.Clients.contains(stats("top_client")))
    assert(stats("data_span_days") == 30L)
  }

  test("computeStats makes at most 7 driver round-trips (fused collects)") {
    // raw Spark job count inflates under AQE (each query stage is its own
    // job), so the pinned metric is ACTIONS: SQL executions (one per
    // DataFrame collect) plus RDD jobs outside any SQL execution (the
    // streak/idle boundary-stats passes)
    val prep = FtlFixture.prep(spark, 2, 1500)
    val run = launched(Engine.computeStats(prep))
    assert(run.actions <= 7,
      s"computeStats made ${run.actions} driver round-trips " +
        s"(${run.sqlExecutions} SQL executions + ${run.rddJobs} RDD jobs) — budget is 7")
  }

  private def jobsOf(body: => Unit): Int = launched(body).jobs.size

  // The job budget: union fusion bounds SQL executions (above), but each
  // AQE query stage and broadcast is its own job, and per-job fixed cost
  // dominates at home scale. The budgets are the counts measured on this
  // fixture in the 4-core test session.
  test("computeStats job budget: at most 14 Spark jobs") {
    val prep = FtlFixture.prep(spark, 2, 1500)
    val jobs = jobsOf(Engine.computeStats(prep))
    assert(jobs <= 14, s"computeStats launched $jobs jobs — budget is 14")
  }

  test("chart-only dashboard job budget: at most 26 Spark jobs") {
    val prep = FtlFixture.prep(spark, 2, 1500)
    val jobs = jobsOf(figures.Figures.dashboard(prep, withStats = false))
    assert(jobs <= 26, s"Figures.dashboard(withStats = false) launched $jobs jobs — budget is 26")
  }

  test("with a serving cache open, the three time-series charts take at most 15 Spark jobs") {
    val cache = new serve.ServingCache(FtlFixture.prep(spark, 2, 1500))
    try {
      val series = Set("fig:queries_over_time", "fig:client_activity", "fig:anomalies")
      val descs = launched(figures.Figures.dashboard(cache.prep, withStats = false)).jobs
      val jobs = descs.count(series)
      assert(jobs <= 15, s"the time-series charts launched $jobs jobs " +
        s"(${series.toSeq.sorted.map(l => s"$l ${descs.count(_ == l)}").mkString(", ")}) — budget is 15")
    } finally cache.close()
  }

  test("every computeStats and chart job is labelled with its block; the caller's label is restored") {
    val prep = FtlFixture.prep(spark, 2, 1500)
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    try {
      val descs = launched {
        Engine.computeStats(prep)
        figures.Figures.dashboard(prep, withStats = false)
      }.jobs
      val unlabelled = descs.filterNot(d => d.startsWith("stats:") || d.startsWith("fig:"))
      assert(descs.nonEmpty && unlabelled.isEmpty,
        s"${unlabelled.size} of ${descs.size} jobs unlabelled: ${unlabelled.distinct.mkString(", ")}")
      // the domain-keyed statistics run as the one stats:domains pass
      val split = Set("stats:misc", "stats:top_domains", "stats:day_night_domains")
      assert(descs.contains("stats:domains") && !descs.exists(split),
        s"domain-keyed jobs: ${descs.filter(d => d == "stats:domains" || split(d)).distinct.mkString(", ")}")
      assert(sc.getLocalProperty(Engine.JobDescription) == "caller")
    } finally sc.setJobDescription(null)
  }

  test("computeStats yields reference sentinels on an empty relation (test_stats.py:293-318)") {
    val stats = Engine.computeStats(
      Preprocess.preprocessFtl(df(FtlFixture.Schema.toDDL, Seq.empty)))
    assert(stats("total_queries") == 0L)
    assert(stats("top_client") == "N/A")
    assert(stats("blocked_pct") == 0.0)
    assert(stats("date_most_queries") == "N/A")
    assert(stats("most_active_day") == "N/A")
    assert(stats("longest_streak_length_blocked") == 0L)
    assert(stats("streak_date_blocked") == "N/A")
    assert(stats("avg_reply_time") == 0.0)
    assert(stats("most_diverse_client") == "N/A")
    assert(stats("max_idle_ms") == null)
  }

  test("display formats match the reference patterns") {
    // single known row: 2024-03-05 07:08:09 UTC (a Tuesday)
    val prep = Preprocess.preprocessFtl(df(FtlFixture.Schema.toDDL,
      Seq(Row(1, 1709622489L, 1, 2, "d.com", "c", 1.5),
        Row(2, 1709622499L, 1, 1, "d.com", "c", 2.5))))
    val stats = Engine.computeStats(prep)
    assert(stats("min_date") == "5-3-2024 (07:08)")      // %-d-%-m-%Y (%H:%M)
    assert(stats("date_most_queries") == "05 March 2024") // %d %B %Y
    assert(stats("streak_hour_allowed") == "07:08")       // %H:%M
    assert(stats("before_gap") == "05-Mar 2024 07:08:09.00") // %d-%b ... [:-4]
    assert(stats("max_idle_ms") == 10.0) // seconds under the ms name — quirk
  }

  test("plotData returns the reference table dictionary") {
    val prep = FtlFixture.prep(spark, 2, 800)
    val pd = Engine.plotData(prep)
    val expectedKeys = Set("top_clients_stacked", "blocked_df", "allowed_df",
      "reply_time_df", "client_domain_scatter_df", "day_hour_heatmap",
      "blocked_day_hour_heatmap", "allowed_day_hour_heatmap")
    assert(pd.keySet == expectedKeys)
    pd.values.foreach(frame => assert(frame.count() > 0))
  }
}
