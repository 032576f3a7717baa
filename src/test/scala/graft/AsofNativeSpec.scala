package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.operators.AsofJoin
import graft.plans.{AsOfJoinExec, NativeAsof}

/** The custom physical as-of operator (AsOfJoinNode → AsOfJoinStrategy →
  * AsOfJoinExec) against the composed union+window reference
  * implementation: same rows on every input shape, and the plan really
  * is the custom node (no WindowExec, one exchange per side). */
class AsofNativeSpec extends SparkSpec {

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("native asof: hand-built case matches the canonical definition") {
    val left = df("client STRING, ts TIMESTAMP, id INT", Seq(
      Row("c1", ts("2024-01-01 00:00:05"), 1),
      Row("c1", ts("2024-01-01 00:00:20"), 2),
      Row("c2", ts("2024-01-01 00:00:01"), 3)))
    val right = df("client STRING, ts TIMESTAMP, v STRING", Seq(
      Row("c1", ts("2024-01-01 00:00:03"), "a"),
      Row("c1", ts("2024-01-01 00:00:20"), "b"), // tie: <= includes it
      Row("c2", ts("2024-01-01 00:00:09"), "late")))
    val out = NativeAsof.asof(left, right, "client", "ts", Seq("v"))
      .orderBy("id").select("id", "asof_v").collect()
      .map(r => r.getInt(0) -> Option(r.getString(1))).toSeq
    assert(out == Seq(1 -> Some("a"), 2 -> Some("b"), 3 -> None))
  }

  test("native asof ≡ union+window asof on the fixture, incl. self-asof and ts collisions") {
    val prep = FtlFixture.prep(spark, 7, 900)
    val viaWindow = AsofJoin.blockedAfterAllowed(prep)
    val viaNative = AsofJoin.blockedAfterAllowedNative(prep)
    assert(viaWindow.count() > 0)
    assert(viaNative.exceptAll(viaWindow).count() == 0 &&
      viaWindow.exceptAll(viaNative).count() == 0)
  }

  test("forward asof: earliest at-or-after right row, ties included, none → null") {
    val left = df("client STRING, ts TIMESTAMP, id INT", Seq(
      Row("c1", ts("2024-01-01 00:00:05"), 1),   // next right at :07
      Row("c1", ts("2024-01-01 00:00:07"), 2),   // tie: >= includes :07
      Row("c1", ts("2024-01-01 00:00:30"), 3),   // nothing after → null
      Row("c2", ts("2024-01-01 00:00:01"), 4)))  // no right rows at all
    val right = df("client STRING, ts TIMESTAMP, v STRING", Seq(
      Row("c1", ts("2024-01-01 00:00:03"), "before"),
      Row("c1", ts("2024-01-01 00:00:07"), "b"),
      Row("c1", ts("2024-01-01 00:00:07"), "a"))) // equal-ts tie → smallest
    val out = AsofJoin.asofForward(left, right, "client", "ts", Seq("v"))
      .orderBy("id").select("id", "asof_v").collect()
      .map(r => r.getInt(0) -> Option(r.getString(1))).toSeq
    assert(out == Seq(1 -> Some("a"), 2 -> Some("a"), 3 -> None, 4 -> None))
  }

  test("tolerance asof: staler-than-tolerance matches null out, in-window survive") {
    val left = df("client STRING, ts TIMESTAMP, id INT", Seq(
      Row("c1", ts("2024-01-01 00:00:05"), 1),   // match at :03 — 2 s back
      Row("c1", ts("2024-01-01 00:01:30"), 2),   // match at :03 — 87 s back
      Row("c2", ts("2024-01-01 00:00:01"), 3)))  // no prior match at all
    val right = df("client STRING, ts TIMESTAMP, v STRING", Seq(
      Row("c1", ts("2024-01-01 00:00:03"), "a"),
      Row("c2", ts("2024-01-01 00:00:09"), "late")))
    def run(tol: Double) =
      AsofJoin.asofWithin(left, right, "client", "ts", Seq("v"), tol)
        .orderBy("id").select("id", "asof_v").collect()
        .map(r => r.getInt(0) -> Option(r.getString(1))).toSeq
    assert(run(10) == Seq(1 -> Some("a"), 2 -> None, 3 -> None))
    // a huge tolerance degenerates to the plain asof
    assert(run(1e6) == Seq(1 -> Some("a"), 2 -> Some("a"), 3 -> None))
    // tolerance 0 keeps only exact-tie matches (<= semantics: gap == 0)
    val tied = df("client STRING, ts TIMESTAMP, v STRING",
      Seq(Row("c1", ts("2024-01-01 00:00:05"), "tie")))
    val zero = AsofJoin.asofWithin(left, tied, "client", "ts", Seq("v"), 0)
      .orderBy("id").select("id", "asof_v").collect()
      .map(r => r.getInt(0) -> Option(r.getString(1))).toSeq
    assert(zero == Seq(1 -> Some("tie"), 2 -> None, 3 -> None))
  }

  test("forward tolerance asof: only soon-enough next events survive") {
    val left = df("client STRING, ts TIMESTAMP, id INT", Seq(
      Row("c1", ts("2024-01-01 00:00:05"), 1),   // next at :07 — 2 s ahead
      Row("c1", ts("2024-01-01 00:00:20"), 2)))  // next at :10:00 — 580 s ahead
    val right = df("client STRING, ts TIMESTAMP, v STRING", Seq(
      Row("c1", ts("2024-01-01 00:00:07"), "soon"),
      Row("c1", ts("2024-01-01 00:10:00"), "far")))
    val out = AsofJoin.asofForwardWithin(left, right, "client", "ts", Seq("v"), 10)
      .orderBy("id").select("id", "asof_v").collect()
      .map(r => r.getInt(0) -> Option(r.getString(1))).toSeq
    assert(out == Seq(1 -> Some("soon"), 2 -> None))
  }

  test("native asof tie-break: several right rows on one (key, ts) attach the greatest payload") {
    val left = df("client STRING, ts TIMESTAMP, id INT",
      Seq(Row("c1", ts("2024-01-01 00:00:10"), 1)))
    val right = df("client STRING, ts TIMESTAMP, v STRING", Seq(
      Row("c1", ts("2024-01-01 00:00:10"), "m"),
      Row("c1", ts("2024-01-01 00:00:10"), "z"),
      Row("c1", ts("2024-01-01 00:00:10"), "a")))
    val nat = NativeAsof.asof(left, right, "client", "ts", Seq("v"))
      .select("asof_v").head.getString(0)
    val win = AsofJoin.asof(left, right, "client", "ts", Seq("v"))
      .select("asof_v").head.getString(0)
    assert(nat == "z" && win == "z")
  }

  test("native asof on dirty data: null keys and null ts match the union+window form") {
    // nulls-first semantics both forms share: null keys group together
    // (null-key left rows see null-key right payloads), a null right ts
    // acts as -infinity, and a null left ts sees only null-ts right rows
    val left = df("client STRING, ts TIMESTAMP, id INT", Seq(
      Row(null, ts("2024-01-01 00:00:05"), 1),
      Row(null, null, 2),
      Row("c1", ts("2024-01-01 00:00:05"), 3),
      Row("c1", null, 4),
      Row("c2", ts("2024-01-01 00:00:05"), 5)))
    val right = df("client STRING, ts TIMESTAMP, v STRING", Seq(
      Row(null, ts("2024-01-01 00:00:01"), "null-key"),
      Row("c1", null, "null-ts"),
      Row("c1", ts("2024-01-01 00:00:02"), "real"),
      Row(null, null, "null-null")))
    def run(impl: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
                   String, String, Seq[String]) => org.apache.spark.sql.DataFrame) =
      impl(left, right, "client", "ts", Seq("v"))
        .select("id", "asof_v").collect()
        .map(r => r.getInt(0) -> Option(r.getString(1))).toMap
    val win = run(AsofJoin.asof)
    val nat = run(NativeAsof.asof)
    assert(nat == win, s"native=$nat window=$win")
    assert(nat == Map(1 -> Some("null-key"), 2 -> Some("null-null"),
      3 -> Some("real"), 4 -> Some("null-ts"), 5 -> None))
  }

  test("native asof rejects non-orderable payload types with a clear error") {
    val left = df("client STRING, ts TIMESTAMP, id INT",
      Seq(Row("c1", ts("2024-01-01 00:00:10"), 1)))
    val right = df("client STRING, ts TIMESTAMP, m MAP<STRING, INT>",
      Seq(Row("c1", ts("2024-01-01 00:00:05"), Map("a" -> 1))))
    val e = intercept[IllegalArgumentException] {
      NativeAsof.asof(left, right, "client", "ts", Seq("m"))
    }
    assert(e.getMessage.contains("non-orderable") && e.getMessage.contains("'m'"))
  }

  test("the plan is the custom operator: AsOfJoinExec present, no window, a shuffle per side") {
    val prep = FtlFixture.prep(spark, 7, 300)
    val plan = AsofJoin.blockedAfterAllowedNative(prep).queryExecution.executedPlan
    val s = plan.toString
    assert(s.contains("AsOfJoin"), s.take(400))
    assert(!s.contains("Window"), "native path must not fall back to window")
    assert(plan.collect { case e: AsOfJoinExec => e }.nonEmpty ||
      s.contains("AsOfJoin")) // AQE may wrap; string check above is the witness
  }

  test("elimination: count() over the native asof prunes the join to the left side") {
    val prep = FtlFixture.prep(spark, 7, 300)
    val joined = AsofJoin.blockedAfterAllowedNative(prep)
    // cardinality contract: exactly one output row per left row, so the
    // pruned count must equal the left side's count
    val leftCnt = prep.filter(col("status_type") === "Blocked").count()
    assert(joined.count() == leftCnt)
    // plan contract: with no asof_* payload consumed, AsOfJoinElimination
    // collapses the node — no AsOfJoin (and no Window) executes
    val s = joined.groupBy().count().queryExecution.executedPlan.toString
    assert(!s.contains("AsOfJoin"), "count() must not pay the join: " + s.take(400))
    assert(!s.contains("Window"), s.take(400))
    // and a consumer that DOES read the payload keeps the join
    val kept = joined.agg(count(col("prev_allowed_ts")))
      .queryExecution.executedPlan.toString
    assert(kept.contains("AsOfJoin"), kept.take(400))
  }

  test("aggregated gap pair (j12/j13): union and native forms agree") {
    val prep = FtlFixture.prep(spark, 7, 900)
    val u = AsofJoin.asofGapStatsUnion(prep)
    val n = AsofJoin.asofGapStatsNative(prep)
    assert(u.count() > 0)
    assert(u.exceptAll(n).count() == 0 && n.exceptAll(u).count() == 0)
  }

  test("broadcast asof ≡ union+window asof, incl. no-match keys and ts collisions") {
    val prep = FtlFixture.prep(spark, 7, 900)
    val blocked = prep.filter(col("status_type") === "Blocked").select("client", "ts", "id")
    val allowed = prep.filter(col("status_type") === "Allowed")
      .select(col("client"), col("ts"), col("ts").as("allowed_ts"))
    val viaWindow = AsofJoin.asof(blocked, allowed, "client", "ts", Seq("allowed_ts"))
    val viaBcast = AsofJoin.asofBroadcast(blocked, allowed, "client", "ts", Seq("allowed_ts"))
    assert(viaWindow.count() > 0)
    assert(viaBcast.exceptAll(viaWindow).count() == 0 &&
      viaWindow.exceptAll(viaBcast).count() == 0)
  }

  test("broadcast asof tie-break: greatest payload tuple at equal (key, ts)") {
    val left = df("client STRING, ts TIMESTAMP, id INT",
      Seq(Row("c1", ts("2024-01-01 00:00:10"), 1)))
    val right = df("client STRING, ts TIMESTAMP, v STRING", Seq(
      Row("c1", ts("2024-01-01 00:00:10"), "m"),
      Row("c1", ts("2024-01-01 00:00:10"), "z"),
      Row("c1", ts("2024-01-01 00:00:10"), "a")))
    val got = AsofJoin.asofBroadcast(left, right, "client", "ts", Seq("v"))
      .select("asof_v").head.getString(0)
    assert(got == "z")
  }

  test("broadcast asof plan: BroadcastHashJoin, no shuffle on the left side") {
    val prep = FtlFixture.prep(spark, 7, 300)
    val blocked = prep.filter(col("status_type") === "Blocked").select("client", "ts", "id")
    val hourly = prep.filter(col("status_type") === "Allowed")
      .groupBy(col("client"), date_trunc("hour", col("ts")).as("hour_ts"))
      .agg(count(lit(1)).as("n_allowed")).withColumn("ts", col("hour_ts"))
    val wrapped = AsofJoin.asofBroadcast(blocked, hourly, "client", "ts",
      Seq("hour_ts", "n_allowed")).queryExecution.executedPlan
    // AQE hides its wrapped plan from `children` — unwrap before collect
    val plan = wrapped match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val bhj = plan.collectFirst {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(bhj.nonEmpty, plan.toString.take(600))
    // shuffles may appear under the broadcast (dim-side rollup aggregates);
    // the invariant is the LEFT (fact) branch reaching the join shuffle-free
    val leftShuffles = bhj.get.left.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    assert(leftShuffles.isEmpty, s"left side must not shuffle:\n$plan")
  }

  test("a query never changes its session: the as-of planner comes with the session") {
    def untouched(): Unit = assert(spark.experimental.extraStrategies.isEmpty &&
      spark.experimental.extraOptimizations.isEmpty)
    untouched()
    val q = AsofJoin.asofGapStatsNative(FtlFixture.prep(spark, 7, 300))
    assert(q.count() > 0)
    untouched()
    object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    assert(Plans.collect(q.queryExecution.executedPlan) { case e: AsOfJoinExec => e }.nonEmpty,
      q.queryExecution.executedPlan.toString.take(600))
  }
}
