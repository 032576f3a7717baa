package graft

import org.apache.spark.sql.functions._
import graft.operators.PlotData

/** Mirrors the reference's plot-data shape tests (tests/test_plot.py). */
class PlotDataSpec extends SparkSpec {

  private lazy val prep = FtlFixture.prep(spark, 1, 2000)

  test("heatmap shape ≤ 7 rows × 25 cols, zero-filled (test_plot.py:110-126)") {
    val hm = PlotData.dayHourHeatmap(prep, None)
    assert(hm.columns.length == 25 && hm.count() <= 7)
    assert(hm.columns.head == "day_name")
    // no nulls anywhere after fill
    val nulls = hm.select(hm.columns.map(c => sum(when(col(c).isNull, 1).otherwise(0))): _*)
      .head.toSeq.map(_.asInstanceOf[Long]).sum
    assert(nulls == 0)
  }

  test("weekday-reindexed heatmap: always 7 rows, Monday first, null for absent days (plot.py:114-122)") {
    // Mon + Tue only (2024-01-01 was a Monday)
    val rows = Seq(0, 1).flatMap(d => (1 to 3).map(i =>
      org.apache.spark.sql.Row(d * 10 + i, 1704067200L + d * 86400L + i, 1, 2, "x.com", "c", 1.0)))
    val prep = Preprocess.preprocessFtl(df(FtlFixture.Schema.toDDL, rows))
    val hm = PlotData.dayHourHeatmapWeekdays(prep, None).collect()
    assert(hm.length == 7)
    assert(hm.head.getString(0) == "Monday" && hm.last.getString(0) == "Sunday")
    assert(hm.head.getLong(1) == 3)      // Monday h0 count
    assert(hm(5).isNullAt(1))            // Saturday absent → null row (reference reindex)
  }

  test("top-k bound respected even when k > distinct (test_process.py:268-276)") {
    assert(PlotData.topClients(prep, 3).count() == 3)
    assert(PlotData.topClients(prep, 500).count() == 5) // fixture has 5 clients, no padding
  }

  test("gap-fill covers the full dense hourly grid with zeros (plot.py:212-225)") {
    val filled = PlotData.gapFilledByStatus(prep)
    val hours = filled.select("ts_hour").distinct().count()
    val range = prep.agg(
      (floor(unix_micros(max(col("ts"))) / 3.6e9) - floor(unix_micros(min(col("ts"))) / 3.6e9) + 1)
        .cast("long")).head.getLong(0)
    assert(hours == range)
    assert(filled.count() == hours * 3) // × {Allowed, Blocked, Other}
    assert(filled.filter(col("cnt") === 0).count() > 0) // zeros actually filled
    // re-aggregating the filled grid returns the raw totals
    assert(filled.agg(sum("cnt")).head.getLong(0) == prep.count())
  }

  test("domain shortening: >maxLen → first20...last20 (plot.py:26-27)") {
    val long = "a" * 30 + "MIDDLE" + "b" * 30
    val out = df("domain STRING", Seq(org.apache.spark.sql.Row(long)))
      .select(PlotData.shorten(col("domain"), 45, 20).as("s")).head.getString(0)
    assert(out == "a" * 20 + "..." + "b" * 20)
    val short = df("domain STRING", Seq(org.apache.spark.sql.Row("short.com")))
      .select(PlotData.shorten(col("domain"), 45, 20).as("s")).head.getString(0)
    assert(short == "short.com")
  }

  test("hourly view cardinality bound: ≤ hours × statuses × clients (process.py:100-104)") {
    val hv = PlotData.hourlyView(prep)
    val hours = hv.select("ts_hour").distinct().count()
    assert(hv.count() <= hours * 3 * 5)
    assert(hv.agg(sum("cnt")).head.getLong(0) == prep.count())
  }

  test("stacked bar: clients ordered by total, counts per status (plot.py:30-48)") {
    val bar = PlotData.stackedClientBar(prep, 3)
    assert(bar.select("client").distinct().count() == 3)
    val totals = bar.groupBy("client", "total_cnt").agg(sum("cnt").as("s"))
      .filter(col("s") =!= col("total_cnt")).count()
    assert(totals == 0) // per-client status counts sum to the client total
  }

  test("capSeriesEnvelope: bounded points, min <= avg <= max, pass-through below threshold") {
    // 400 daily points, one series — maxPoints=30 forces the month rollup
    val daily = spark.range(400).select(
      timestamp_seconds(lit(1700000000L) + col("id") * 86400).as("ts_day"),
      (col("id") % 10).cast("double").as("v"))
    val env = PlotData.capSeriesEnvelope(daily, "ts_day", Nil, "v", maxPoints = 30)
      .collect()
    assert(env.length <= 31 && env.length > 5, s"got ${env.length} buckets")
    env.foreach { r =>
      assert(r.getDouble(2) <= r.getDouble(1) && r.getDouble(1) <= r.getDouble(3),
        s"envelope must bracket the mean: $r")
    }
    // below the threshold the buckets pass through untouched
    val thru = PlotData.capSeriesEnvelope(daily, "ts_day", Nil, "v", maxPoints = 4096)
    assert(thru.count() == 400)
    assert(thru.agg(max(col("v_max") - col("v_min"))).head.getDouble(0) == 0.0)
    // keepsDays matches the ladder: day starts pass through exactly while
    // their span fits maxPoints days (the dashboard skips the plan then)
    val dayStarts = spark.range(400).select(
      timestamp_seconds(lit(1699920000L) + col("id") * 86400).as("ts_day"), lit(1.0).as("v"))
    for (m <- Seq(399, 398)) {
      val kept = PlotData.capSeriesEnvelope(dayStarts, "ts_day", Nil, "v", maxPoints = m).count() == 400
      assert(kept == PlotData.keepsDays(399L * 86400, m), s"maxPoints = $m")
    }
  }
}
