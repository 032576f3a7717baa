package graft

import org.apache.spark.sql.Row
import graft.operators.Streaks

/** Hand-built gaps-and-islands cases (reference: stats.py:500-528). */
class StreaksSpec extends SparkSpec {

  // B B A B B B A A → blocked streaks [2,3], allowed streaks [1,2]
  private val statuses = Seq(1, 1, 2, 1, 1, 1, 2, 2)
  private val prep = Preprocess.preprocessFtl(df(FtlFixture.Schema.toDDL,
    statuses.zipWithIndex.map { case (st, i) =>
      Row(i + 1, 1704067200L + i * 10L, 1, st, "d", "c", 1.0)
    }))

  test("streak run lengths match the pandas cumsum semantics (stats.py:507-514)") {
    val blocked = Streaks.streakRuns(prep, "Blocked")
      .orderBy("start_ts").select("streak_len").collect().map(_.getLong(0)).toSeq
    assert(blocked == Seq(2, 3))
    val allowed = Streaks.streakRuns(prep, "Allowed")
      .orderBy("start_ts").select("streak_len").collect().map(_.getLong(0)).toSeq
    assert(allowed == Seq(1, 2))
  }

  test("longest streak per class with start timestamp (stats.py:337-359)") {
    val rows = Streaks.longestStreaks(prep).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getTimestamp(2).toInstant.getEpochSecond)).toSeq
    assert(rows == Seq(
      ("Allowed", 2L, 1704067200L + 60),
      ("Blocked", 3L, 1704067200L + 30)))
  }

  test("longest streak ties resolve to the earliest run (pandas idxmax=first)") {
    // A A B A A → two allowed runs of length 2; earliest starts at t0
    val sts = Seq(2, 2, 1, 2, 2)
    val p2 = Preprocess.preprocessFtl(df(FtlFixture.Schema.toDDL,
      sts.zipWithIndex.map { case (st, i) =>
        Row(i + 1, 1704067200L + i * 10L, 1, st, "d", "c", 1.0)
      }))
    val r = Streaks.longestStreaks(p2).filter("status_type = 'Allowed'").head
    assert(r.getLong(1) == 2 &&
      r.getTimestamp(2).toInstant.getEpochSecond == 1704067200L)
  }

  test("scalable two-pass streaks equal the window implementation at any partition count") {
    val prep2000 = FtlFixture.prep(spark, 3, 2000)
    val expected = Streaks.streakRuns(prep2000, "Blocked")
      .select("streak_len", "start_ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1))).toSet
    for (parts <- Seq(1, 4, 13)) {
      val got = Streaks.streakRunsScalable(prep2000, "Blocked", parts)
        .select("streak_len", "start_ts").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1))).toSet
      assert(got == expected, s"parts=$parts")
    }
  }

  test("parallel run ids match the window form's cumsum grp ids exactly") {
    val prep2000 = FtlFixture.prep(spark, 3, 2000)
    val expected = Streaks.streakRuns(prep2000, "Blocked")
      .select("grp", "streak_len", "start_ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2))).toSet
    for (parts <- Seq(1, 4, 13)) {
      val got = Streaks.parallelRuns(prep2000, "Blocked", parts)
        .filter(org.apache.spark.sql.functions.col("flag"))
        .select("grp", "streak_len", "start_ts").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2))).toSet
      assert(got == expected, s"parts=$parts")
    }
  }

  test("parallel runs: one run spanning EVERY partition merges to a single group") {
    // all rows the same class — the hardest chain case: each partition
    // emits one fragment and every fragment must share one grp
    val rows = (0 until 200).map(i => Row(i + 1, 1704067200L + i * 10L, 1, 1, "d", "c", 1.0))
    val all = Preprocess.preprocessFtl(df(FtlFixture.Schema.toDDL, rows))
    for (parts <- Seq(1, 7, 32)) {
      val runs = Streaks.parallelRuns(all, "Blocked", parts).collect()
      assert(runs.length == 1, s"parts=$parts: ${runs.length} runs")
      assert(runs.head.getLong(0) == 1L && runs.head.getLong(2) == 200L)
    }
  }

  test("parallel runs: alternating flags (runs == rows) stay correct") {
    val rows = (0 until 100).map(i =>
      Row(i + 1, 1704067200L + i * 10L, 1, if (i % 2 == 0) 1 else 2, "d", "c", 1.0))
    val alt = Preprocess.preprocessFtl(df(FtlFixture.Schema.toDDL, rows))
    for (parts <- Seq(1, 9)) {
      val runs = Streaks.parallelRuns(alt, "Blocked", parts)
        .orderBy("grp").collect()
      assert(runs.length == 100)
      assert(runs.forall(_.getLong(2) == 1L))
      // grp ids sequential 1..100, flags alternating starting true (status 1 = Blocked)
      assert(runs.map(_.getLong(0)).toSeq == (1L to 100L))
      assert(runs.zipWithIndex.forall { case (r, i) => r.getBoolean(1) == (i % 2 == 0) })
    }
  }

  test("parallel longest-idle equals the window form at any partition count") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val prep2000 = FtlFixture.prep(spark, 3, 2000)
    // the window form IS the spec — computed inline here
    val w = Window.orderBy("ts", "id")
    val exp = prep2000.select(col("ts"), col("id"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("gap_s",
        (unix_micros(col("ts")) - unix_micros(col("prev_ts"))) / lit(1e6))
      .filter(col("gap_s").isNotNull)
      .orderBy(desc("gap_s"), asc("ts")).limit(1)
      .select(round(col("gap_s"), 6).as("gap_s"),
        col("prev_ts").as("before_gap"), col("ts").as("after_gap"))
      .head
    for (parts <- Seq(1, 4, 13)) {
      val got = Streaks.longestIdle(prep2000, parts).head
      assert(got == exp, s"parts=$parts")
    }
  }

  test("fused streaks+idle equals the standalone operators row-for-row") {
    // longestStreaksWithIdle shares one range shuffle between W2 and W3;
    // both outputs must be bit-identical to the standalone forms (which
    // are the oracle-checked public surface)
    val prep2000 = FtlFixture.prep(spark, 3, 2000)
    val (streaks, idle) = graft.operators.Streaks.longestStreaksWithIdle(prep2000)
    assert(streaks.collect().toSeq ==
      graft.operators.Streaks.longestStreaks(prep2000).collect().toSeq)
    assert(idle.collect().toSeq ==
      graft.operators.Streaks.longestIdle(prep2000).collect().toSeq)
    // degenerate inputs: empty, and a single row (no gaps, one run)
    val empty = FtlFixture.prep(spark, 1, 1500).filter("id < 0")
    val (s0, i0) = graft.operators.Streaks.longestStreaksWithIdle(empty)
    assert(s0.collect().isEmpty && i0.collect().isEmpty)
    val one = FtlFixture.prep(spark, 1, 1500).filter("id = 1")
    val (s1, i1) = graft.operators.Streaks.longestStreaksWithIdle(one)
    assert(s1.collect().toSeq ==
      graft.operators.Streaks.longestStreaks(one).collect().toSeq)
    assert(i1.collect().isEmpty)
  }

  test("sliding RANGE window: trailing hour, equal-ts rows are mutual peers") {
    // client c: events at t=0s, 1800s, 3599s, 3600s, 3600s, 7300s
    // trailing-hour counts (ts-3599.999999s .. ts]:
    //   t=0 → 1; t=1800 → 2; t=3599 → 3; the two t=3600 rows each see
    //   {1800, 3599, 3600, 3600} = 4 (equal-ts rows count each other —
    //   RANGE peers, regardless of row order); t=7300 → 1
    val ts = Seq(0L, 1800L, 3599L, 3600L, 3600L, 7300L)
    val p2 = Preprocess.preprocessFtl(df(FtlFixture.Schema.toDDL,
      ts.zipWithIndex.map { case (t, i) =>
        Row(i + 1, 1704067200L + t, 1, 2, "d", "c", 1.0)
      }))
    val counts = Streaks.slidingWindowCounts(p2)
      .orderBy("ts", "id").collect().map(_.getAs[Long]("n_last_hour")).toSeq
    assert(counts == Seq(1L, 2L, 3L, 4L, 4L, 1L))
    val peak = Streaks.peakHourlyLoad(p2).head
    assert(peak.getAs[String]("client") == "c" && peak.getAs[Long]("peak") == 4L)
    assert(peak.getAs[java.sql.Timestamp]("first_peak_ts")
      .toInstant.getEpochSecond == 1704067200L + 3600L)
  }

  test("longest idle gap with bounding timestamps (stats.py:369-408)") {
    // gaps: 10,10,100,10 → max 100 between t=20 and t=120
    val ts = Seq(0L, 10L, 20L, 120L, 130L)
    val p2 = Preprocess.preprocessFtl(df(FtlFixture.Schema.toDDL,
      ts.zipWithIndex.map { case (t, i) =>
        Row(i + 1, 1704067200L + t, 1, 2, "d", "c", 1.0)
      }))
    val r = Streaks.longestIdle(p2).head
    assert(r.getDouble(0) == 100.0)
    assert(r.getTimestamp(1).toInstant.getEpochSecond == 1704067220L)
    assert(r.getTimestamp(2).toInstant.getEpochSecond == 1704067320L)
  }
}
