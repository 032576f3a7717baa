package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.operators.Stats

/** Mirrors the reference's stats edge-case matrix
  * (reference: tests/test_stats.py; FIXTURES.md §5). */
class StatsSpec extends SparkSpec {

  private def prepOf(rows: Seq[Row]): DataFrame =
    Preprocess.preprocessFtl(df(FtlFixture.Schema.toDDL, rows))

  private val emptyPrep = prepOf(Seq.empty)

  test("empty relation: no throw, zero totals (test_stats.py:293-318)") {
    val t = Stats.totals(emptyPrep).head
    assert(t.getLong(0) == 0 && t.getLong(1) == 0 && t.getLong(2) == 0)
    assert(t.getDouble(3) == 0.0 && t.getDouble(4) == 0.0)
    // every stat query must yield a plan that executes on empty input
    assert(Stats.topClient(emptyPrep).count() == 0)
    assert(Stats.dailyCounts(emptyPrep).count() == 0)
    assert(Stats.replyStats(emptyPrep).head.getDouble(0) == 0.0)
    assert(graft.operators.Streaks.longestIdle(emptyPrep).count() == 0)
  }

  test("single row: totals=1, class count correct (test_stats.py:320-343)") {
    val t = Stats.totals(prepOf(Seq(Row(1, 1704067200L, 1, 2, "d.com", "c", 1.0)))).head
    assert(t.getLong(0) == 1 && t.getLong(1) == 0 && t.getLong(2) == 1)
    assert(t.getDouble(4) == 100.0)
  }

  test("all blocked → pct exactly 100/0 (test_stats.py:345-393)") {
    val rows = (1 to 50).map(i => Row(i, 1704067200L + i, 1, 1, "b.com", "c", 1.0))
    val t = Stats.totals(prepOf(rows)).head
    assert(t.getDouble(3) == 100.0 && t.getDouble(4) == 0.0)
  }

  test("only Other statuses → zero class counts (test_stats.py:395-418)") {
    val rows = (1 to 20).map(i => Row(i, 1704067200L + i, 1, 99, "o.com", "c", 1.0))
    val t = Stats.totals(prepOf(rows)).head
    assert(t.getLong(1) == 0 && t.getLong(2) == 0 && t.getDouble(3) == 0.0)
  }

  test("all-null reply times → 0.0 sentinels (test_stats.py:420-442)") {
    val rows = (1 to 10).map(i => Row(i, 1704067200L + i, 1, 2, "d.com", "c", null))
    val r = Stats.replyStats(prepOf(rows)).head
    assert(r.getDouble(0) == 0.0 && r.getDouble(1) == 0.0 && r.getDouble(2) == 0.0)
    assert(Stats.slowestDomain(prepOf(rows)).count() == 0)
  }

  test("single client+domain → distinct counts 1 (test_stats.py:444-467)") {
    val rows = (1 to 10).map(i => Row(i, 1704067200L + i, 1, 2, "only.com", "c1", 1.0))
    val d = Stats.distinctCounts(prepOf(rows)).head
    assert(d.getLong(0) == 1 && d.getLong(1) == 1)
  }

  test("invariants on a fixture: counts sum ≤ total, pcts sum to 100, hour bounds") {
    val prep = FtlFixture.prep(spark, 1, 2000)
    val t = Stats.totals(prep).head
    assert(t.getLong(1) + t.getLong(2) <= t.getLong(0))
    assert(math.abs(t.getDouble(3) + t.getDouble(4) - 100.0) < 1e-6) // generator emits no Other
    val hours = Stats.hourlyCounts(prep).select("hour").collect().map(_.getInt(0))
    assert(hours.forall(h => h >= 0 && h <= 23))
    val wd = Stats.weekdayAvg(prep)
    assert(wd.count() <= 7)
  }

  private def tied: DataFrame = {
    val noon = 1704067200L + 12 * 3600
    prepOf(Seq(
      ("b.com", "zz-client", 1), ("a.com", "zz-client", 1), ("y.com", "zz-client", 2),
      ("b.com", "aa-client", 1), ("a.com", "aa-client", 1), ("x.com", "aa-client", 2))
      .zipWithIndex.map { case ((d, c, st), i) => Row(i, noon + i, 1, st, d, c, 1.0) })
  }

  test("top-1 tie-break is deterministic: smallest key wins (SURVEY.md §7.3-1)") {
    // two clients with identical counts
    val rows = Seq(
      Row(1, 1704067200L, 1, 2, "d.com", "zz-client", 1.0),
      Row(2, 1704067201L, 1, 2, "d.com", "aa-client", 1.0))
    assert(Stats.topClient(prepOf(rows)).head.getString(0) == "aa-client")

    // the same two-key ties through every operator on the shared helpers:
    // all rows at 12:00 (Day), the losing key inserted first. zz and aa
    // tie on total (3), on Blocked (2) and Allowed (1) rows, on distinct
    // domains (3); a.com and b.com tie on Blocked rows (2), x.com and
    // y.com on Allowed (1); every reply time is equal
    def first(frame: DataFrame): Seq[Any] = frame.head.toSeq
    assert(first(Stats.topClient(tied)) == Seq("aa-client", 3L))
    assert(Stats.topClientByClass(tied).collect().map(r => (r.getString(0), r.getString(1))).toSeq
      == Seq("Allowed" -> "aa-client", "Blocked" -> "aa-client"))
    assert(first(Stats.dayNightTopClient(tied)) == Seq("Day", "aa-client", 3L))
    assert(first(Stats.topDomainOfClass(tied, "Blocked")) == Seq("a.com", 2L, 2L, "aa-client", 1L))
    assert(first(Stats.topDomainOfClass(tied, "Allowed")) == Seq("x.com", 1L, 1L, "aa-client", 1L))
    assert(first(Stats.dayNightTopDomain(tied, "Blocked")) == Seq("Day", "a.com", 2L, 2L))
    assert(first(Stats.persistentClient(tied)) == Seq("aa-client", "a.com", 1L))
    assert(first(Stats.diverseClient(tied)) == Seq("aa-client", 3L))
    assert(first(Stats.slowestDomainRaw(tied)) == Seq("a.com", 1.0))
    assert(first(graft.operators.PlotData.topClients(tied, 1)) == Seq("aa-client", 3L))
    assert(first(graft.operators.PlotData.topDomains(tied, 1)) == Seq("a.com", 2L))
    assert(first(graft.operators.PlotData.topDomainsOfClass(tied, "Blocked", 1)) == Seq("a.com", 2L))
    val stats = Engine.computeStats(tied)
    assert(stats("top_client") == "aa-client")
    assert(stats("top_blocked_client") == "aa-client")
    assert(stats("top_blocked_domain") == "a.com")
    assert(stats("top_blocked_domain_client") == "aa-client")
    assert(stats("day_top_client") == "aa-client")
    assert(stats("day_top_allowed_client") == "aa-client")
    assert(stats("day_top_blocked_client") == "aa-client")
    assert(stats("day_top_blocked_domain") == "a.com")
    assert(stats("day_top_blocked_domain_client") == "aa-client")
    assert(stats("day_top_allowed_domain") == "x.com")
    assert(stats("night_top_client") == "N/A")
    // the same winners through the domain pass the facade reads
    val d = Stats.DomainPass(tied)
    assert(d.topDomain(None, "Blocked").contains(Row("a.com", 2L, 2L, "aa-client", 1L)))
    assert(d.topDomain(None, "Allowed").contains(Row("x.com", 1L, 1L, "aa-client", 1L)))
    assert(d.topDomain(Some("Day"), "Blocked").contains(Row("a.com", 2L, 2L, "aa-client", 1L)))
    assert(d.topDomain(Some("Night"), "Blocked").isEmpty)
    assert(d.persistent.contains(Row("aa-client", "a.com", 1L)))
    assert(d.diverse.contains(Row("aa-client", 3L)))
    assert(d.slowest.contains(Row("a.com", 1.0)))
    assert(stats("most_persistent_client") == "aa-client" && stats("blocked_domain") == "a.com")
    assert(stats("most_diverse_client") == "aa-client" && stats("slowest_domain") == "a.com")
  }

  /** Ties Spark breaks in ways a plain Scala sort would not: a NULL
    * client (first in ascending order) ties the top count by day, and by
    * night U+FFFD ties U+1F600, which sort the other way in UTF-16. Also
    * NULL and negative reply times, a NULL timestamp and an Other row. */
  private def dirty: DataFrame = {
    val t0 = 1704067200L
    prepOf(Seq(
      (Some(t0 + 3600 * 12), 2, "a.com", null, Some(-2.0)),
      (Some(t0 + 3600 * 13), 9, "b.com", null, None),
      (Some(t0 + 86400 * 3), 2, "a.com", "\uD83D\uDE00", Some(3.0)),
      (Some(t0 + 86400 * 3 + 1), 9, "c.com", "\uD83D\uDE00", Some(1.0)),
      (Some(t0 + 86400 * 9 + 3600 * 2), 1, "a.com", "\uFFFD", None),
      (Some(t0 + 86400 * 9 + 3600 * 3), 2, "b.com", "\uFFFD", Some(0.5)),
      (None, 0, "d.com", "c", Some(4.0)))
      .zipWithIndex.map { case ((ts, st, d, c, rt), i) =>
        Row(i, ts.map(Long.box).orNull, 1, st, d, c, rt.map(Double.box).orNull) })
  }

  test("keyCounts: every statistic and chart table it feeds equals its declared operator") {
    import graft.operators.PlotData
    def rows(frame: DataFrame): Seq[Row] = frame.collect().toSeq
    val preps = (1 to 3).map(s => s"seed $s" -> FtlFixture.prep(spark, s, 1500)) ++
      Seq("ties" -> tied, "dirty" -> dirty, "empty" -> emptyPrep)
    for ((name, prep) <- preps) {
      val keys = Stats.KeyCounts(prep)
      def same(what: String, got: Seq[Row], want: Seq[Row]): Unit =
        assert(got == want, s"$name: $what")
      same("topClient", keys.topClient, rows(Stats.topClient(prep)))
      same("topClientByClass", keys.topClientByClass, rows(Stats.topClientByClass(prep)))
      same("dailyCounts", keys.dailyCounts, rows(Stats.dailyCounts(prep)))
      same("hourlyCounts", keys.hourlyCounts, rows(Stats.hourlyCounts(prep)))
      same("weekdayAvgRaw", keys.weekdayAvgRaw, rows(Stats.weekdayAvgRaw(prep)))
      same("dayNightTotals", keys.dayNightTotals, rows(Stats.dayNightTotals(prep)))
      same("dayNightTopClient", keys.dayNightTopClient, rows(Stats.dayNightTopClient(prep)))
      same("dayNightTopClientByClass", keys.dayNightTopClientByClass,
        rows(Stats.topClientWithin(prep.filter(col("status_type").isin("Allowed", "Blocked")),
          "day_period", "status_type").orderBy("day_period", "status_type")))
      same("replyByDate", keys.replyByDate, rows(Stats.replyByDate(prep)))
      for (k <- Seq(1, 3, 10))
        same(s"stackedClientBar($k)", keys.stackedClientBar(k), rows(PlotData.stackedClientBar(prep, k)))
      for (st <- Seq(None, Some("Allowed"), Some("Blocked"), Some("Other")))
        same(s"dayHourHeatmapWeekdays($st)", keys.dayHourHeatmapWeekdays(st),
          rows(PlotData.dayHourHeatmapWeekdays(prep, st)))
      // the summary row against A1, A3, A11 and A13
      val total = Stats.totals(prep).head()
      val range = Stats.timeRange(prep).head()
      val reply = Stats.replyStats(prep).head()
      keys.summary match {
        case Some(g) =>
          assert(Seq("cnt", "blocked_cnt", "allowed_cnt").map(g.getAs[Long]) ==
            Seq("total", "blocked_cnt", "allowed_cnt").map(total.getAs[Long]), name)
          for (c <- range.schema.fieldNames) assert(g.getAs[Any](c) == range.getAs[Any](c), s"$name: $c")
          for (c <- reply.schema.fieldNames) assert(g.getAs[Any](c) == reply.getAs[Any](c), s"$name: $c")
        case None => assert(total.getLong(0) == 0L, s"$name: no summary row")
      }
      assert(keys.uniqueClients == Stats.distinctCounts(prep).head().getAs[Long]("n_clients"), name)
    }
  }

  /** The domain pass's edge cases. Day: a NULL domain ties a.com on
    * Allowed rows and wins (NULL first), so the period's top Allowed
    * domain is NULL and A10 drops it; its clients tie and the NULL client
    * wins. Night: the NULL client is the most persistent, c.com's reply
    * times are all NULL, and the NULL domain ties b.com on mean reply. */
  private def domainEdges: DataFrame = {
    val (day, night) = (1704067200L + 12 * 3600, 1704067200L + 2 * 3600)
    prepOf(Seq(
      (day, 2, null, "c1", Some(3.0)), (day + 1, 2, null, null, Some(3.0)),
      (day + 2, 2, "a.com", "c2", Some(1.0)), (day + 3, 2, "a.com", "c2", Some(1.0)),
      (night, 1, "b.com", null, Some(3.0)), (night + 1, 9, "b.com", null, Some(3.0)),
      (night + 2, 1, "c.com", "c1", None), (night + 3, 2, "d.com", "c2", Some(0.5)))
      .zipWithIndex.map { case ((ts, st, d, c, rt), i) =>
        Row(i, ts, 1, st, d, c, rt.map(Double.box).orNull) })
  }

  /** No Allowed row and one Blocked row, beside Other rows. */
  private def sparse: DataFrame = prepOf(Seq(
    Row(1, 1704067200L, 1, 0, "o.com", "c1", 1.0), Row(2, 1704067201L, 1, 1, "x.com", "c1", 2.0),
    Row(3, 1704067202L, 1, 0, "o.com", "c2", null)))

  test("domainPass: one row, read as each declared domain-keyed operator's row") {
    def head(frame: DataFrame): Option[Row] = frame.collect().headOption
    def bits(x: Any): Any = x match { case v: Double => java.lang.Double.doubleToRawLongBits(v); case o => o }
    def exact(r: Option[Row]): Option[Seq[Any]] = r.map(_.toSeq.map(bits))
    val preps = (1 to 3).map(s => s"seed $s" -> FtlFixture.prep(spark, s, 1500)) ++
      Seq("ties" -> tied, "dirty" -> dirty, "edges" -> domainEdges, "sparse" -> sparse, "empty" -> emptyPrep)
    for ((name, prep) <- preps) {
      assert(Stats.domainPass(prep).count() == 1, name)
      val d = Stats.DomainPass(prep)
      def same(what: String, got: Option[Row], want: DataFrame): Unit =
        assert(exact(got) == exact(head(want)), s"$name: $what")
      for (cls <- Seq("Allowed", "Blocked")) {
        same(s"top $cls", d.topDomain(None, cls), Stats.topDomainOfClass(prep, cls))
        for (p <- Seq("Day", "Night")) {
          same(s"$p $cls", d.topDomain(Some(p), cls),
            Stats.topDomainOfClass(prep.filter(col("day_period") === p), cls).filter(col("domain").isNotNull))
          assert(d.topDomain(Some(p), cls).map(r => Row(p, r.get(0), r.get(1), r.get(2))) ==
            head(Stats.dayNightTopDomain(prep, cls).filter(col("day_period") === p)), s"$name: A10 $p $cls")
        }
      }
      same("persistent", d.persistent, Stats.persistentClient(prep))
      same("diverse", d.diverse, Stats.diverseClient(prep))
      same("slowest", d.slowest, Stats.slowestDomainRaw(prep))
      assert(d.uniqueDomains == Stats.distinctCounts(prep).head().getAs[Long]("n_domains"), name)
      val gaps = Stats.interArrivalRaw(prep).collect().map(r => r.getString(0) -> bits(r.get(1))).toMap
      for (cls <- Seq("Allowed", "Blocked"))
        assert(d.meanGap(cls).map(bits) == gaps.get(cls), s"$name: gap $cls")
    }
    // the edge cases land where the docs above say
    val e = Stats.DomainPass(domainEdges)
    assert(e.topDomain(None, "Allowed").contains(Row(null, 2L, 2L, null, 1L)))
    assert(e.topDomain(Some("Day"), "Allowed").isEmpty)
    assert(e.persistent.contains(Row(null, "b.com", 2L)))
    assert(e.slowest.contains(Row(null, 3.0)))
    val s = Stats.DomainPass(sparse)
    assert(s.topDomain(None, "Allowed").isEmpty && s.meanGap("Blocked").isEmpty)
    assert(s.topDomain(None, "Blocked").contains(Row("x.com", 1L, 1L, "c1", 1L)))
  }

  test("keyCounts grows with dates and clients, not with rows") {
    // 20,000 rows over 31 days and 5 clients: ~13 rows per (date, hour)
    val prep = FtlFixture.prep(spark, 1, 20000)
    val dates = prep.select("date").distinct().count()
    val clients = prep.select("client").distinct().count()
    val n = Stats.keyCounts(prep).count()
    assert(n <= 1 + dates + 7 * 24 + 3 * clients, s"$n key rows for $dates dates, $clients clients")
  }

  test("A5 asymmetry quirk: all-status count for the class argmax domain (stats.py:84-99)") {
    // domain X: 2 allowed + 3 blocked rows; domain Y: 1 allowed.
    // top allowed domain = X (2 > 1); its all-status count must be 5.
    val rows = Seq(
      Row(1, 1704067200L, 1, 2, "x.com", "c1", 1.0),
      Row(2, 1704067201L, 1, 3, "x.com", "c2", 1.0),
      Row(3, 1704067202L, 1, 1, "x.com", "c1", 1.0),
      Row(4, 1704067203L, 1, 4, "x.com", "c1", 1.0),
      Row(5, 1704067204L, 1, 5, "x.com", "c3", 1.0),
      Row(6, 1704067205L, 1, 2, "y.com", "c1", 1.0))
    val r = graft.operators.Stats.topDomainOfClass(prepOf(rows), "Allowed").head
    assert(r.getString(0) == "x.com")
    assert(r.getLong(1) == 2)  // class_cnt: allowed only
    assert(r.getLong(2) == 5)  // all_cnt: ALL statuses — the quirk
    assert(r.getString(3) == "c1") // top client within class (2 allowed? c1:1, c2:1 → tie → asc → c1)
  }

  test("EWMA daily: recurrence y_t = 0.3 x_t + 0.7 y_{t-1}, seeded at x_0") {
    // one status class (Allowed), three days with counts 2, 1, 3:
    // y0=2, y1=.3*1+.7*2=1.7, y2=.3*3+.7*1.7=2.09
    def day(n: Int) = 1704067200L + n * 86400L
    val rows = Seq(
      Row(1, day(0), 1, 2, "d", "c", 1.0), Row(2, day(0), 1, 2, "d", "c", 1.0),
      Row(3, day(1), 1, 2, "d", "c", 1.0),
      Row(4, day(2), 1, 2, "d", "c", 1.0), Row(5, day(2), 1, 2, "d", "c", 1.0),
      Row(6, day(2), 1, 2, "d", "c", 1.0))
    val e = Stats.ewmaDaily(prepOf(rows)).collect().map(_.getDouble(2)).toSeq
    assert(e == Seq(2.0, 1.7, 2.09))
    // empty input: plan still executes
    assert(Stats.ewmaDaily(emptyPrep).count() == 0)
  }

  test("client rank distributions: percent_rank in [0,1], cume_dist ends at 1") {
    val rows = Seq(
      Row(1, 1704067200L, 1, 2, "d", "c1", 1.0),
      Row(2, 1704067201L, 1, 2, "d", "c1", 1.0),
      Row(3, 1704067202L, 1, 2, "d", "c2", 1.0),
      Row(4, 1704067203L, 1, 2, "d", "c3", 1.0))
    val r = Stats.clientRankDist(prepOf(rows)).collect()
      .map(x => (x.getString(0), x.getDouble(2), x.getDouble(3))).toSeq
    // order by client: c1 (cnt 2, highest) pct_rank 1.0; c2 < c3 by tie-break
    assert(r == Seq(("c1", 1.0, 1.0), ("c2", 0.0, 0.333333), ("c3", 0.5, 0.666667)))
  }

  test("inter-arrival means per class (stats.py:382-388)") {
    // Allowed at t=0,10,30 → gaps 10,20 → mean 15; Blocked at t=5,6 → gap 1
    val rows = Seq(
      Row(1, 1704067200L, 1, 2, "d", "c", 1.0),
      Row(2, 1704067210L, 1, 2, "d", "c", 1.0),
      Row(3, 1704067230L, 1, 2, "d", "c", 1.0),
      Row(4, 1704067205L, 1, 1, "d", "c", 1.0),
      Row(5, 1704067206L, 1, 1, "d", "c", 1.0))
    val m = Stats.interArrival(prepOf(rows)).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m("Allowed") == 15.0 && m("Blocked") == 1.0)
  }

  test("w09: trailing z-score flags the spike day, not the day after it") {
    // 10 days of Allowed traffic; day 8 is a 100-event spike over a
    // baseline that wobbles 8-12 (nonzero variance, so z is defined)
    val perDay = Seq(8, 12, 9, 11, 10, 10, 9, 11, 100, 10)
    val rows = perDay.zipWithIndex.flatMap { case (cnt, day) =>
      (0 until cnt).map(i =>
        Row(day * 1000 + i, 1704067200L + day * 86400L + i, 1, 2, "d", "c", 1.0))
    }
    val out = Stats.dailyAnomalies(prepOf(rows)).collect()
      .filter(_.getString(0) == "Allowed").sortBy(_.getDate(1).getTime)
    assert(out.length == 10)
    // days 0-2: < 3 trailing points → NULL z, never anomalous
    out.take(3).foreach { r =>
      assert(r.isNullAt(4) && !r.getBoolean(5), s"day with thin history flagged: $r")
    }
    // the spike: mean of its 7 preceding ≈ 10.29, z >> 2
    val spike = out(8)
    assert(spike.getLong(2) == 100 && spike.getBoolean(5))
    assert(spike.getDouble(4) > 2.0)
    // the day AFTER the spike is normal: the spike inflates its trailing
    // sd far more than the mean, so |z| stays small — no echo alert
    val after = out(9)
    assert(!after.getBoolean(5) && math.abs(after.getDouble(4)) < 1.0)
    // trailing window excludes the current row: day 8's mean is baseline-
    // scale, untouched by its own 100
    assert(spike.getDouble(3) < 15.0)
  }
}
