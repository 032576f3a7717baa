package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join — for each left row, the most recent right row with
  * `right.ts <= left.ts` within the same key. Spark has no native ASOF;
  * the naive formulations are a non-equi join (O(n·m) nested loop) or a
  * groupBy-collect (state explosion). This is the scalable form:
  *
  * UNION the two sides tagged by origin, sort within key by
  * (ts, origin) — right rows first on ties, giving <= semantics — and
  * take `last_value(right payload) ignoreNulls` over the running window.
  * ONE shuffle on the key, no pair blowup, spill-safe: exactly the plan
  * a purpose-built ASOF operator would produce, composed from existing
  * operators (preference (a) of the custom-operator ladder).
  */
object AsofJoin {

  /** Left rows (keyCol, tsCol, leftCols...) each gain `asof_<payload>`
    * columns from the latest right row at-or-before their ts (null when
    * none). Right side: (keyCol, tsCol, payload...). */
  def asof(left: DataFrame, right: DataFrame, keyCol: String, tsCol: String,
           payloadCols: Seq[String]): DataFrame = {
    val leftTagged = left.withColumn("_is_left", lit(1))
      .withColumns(payloadCols.map(c => s"_r_$c" -> lit(null)).toMap)
    val rightTagged = right
      .select(Seq(col(keyCol), col(tsCol)) ++ payloadCols.map(c => col(c).as(s"_r_$c")): _*)
      .withColumn("_is_left", lit(0))
    val unioned = leftTagged.columns.foldLeft(rightTagged) { (df, c) =>
      if (df.columns.contains(c)) df else df.withColumn(c, lit(null))
    }.select(leftTagged.columns.toIndexedSeq.map(col): _*).unionByName(leftTagged)
    // right rows (_is_left=0) sort before left rows on equal ts → "<=";
    // the payload columns are the FINAL sort keys so that when several
    // right rows share (key, ts), `last(..., ignoreNulls)` deterministically
    // attaches the greatest payload tuple instead of whichever row the
    // shuffle happened to order last (left rows all carry null payloads,
    // so this tiebreak never reorders left vs right)
    val tieBreaks = payloadCols.map(c => col(s"_r_$c").asc_nulls_first)
    val w = Window.partitionBy(keyCol)
      .orderBy(col(tsCol).asc +: col("_is_left").asc +: tieBreaks: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = payloadCols.foldLeft(unioned) { (df, c) =>
      df.withColumn(s"asof_$c", last(col(s"_r_$c"), ignoreNulls = true).over(w))
    }
    filled.filter(col("_is_left") === 1)
      .drop("_is_left").drop(payloadCols.map(c => s"_r_$c"): _*)
  }

  /** The FORWARD as-of — each left row gains the payload of the EARLIEST
    * right row with `right.ts >= left.ts` on the same key (null when
    * none): "next event at-or-after". Mirror image of [[asof]]: same
    * union + one-shuffle window plan, but the frame runs from the
    * current row FORWARD and `first(..., ignoreNulls)` picks the nearest
    * following right row. Left rows sort BEFORE right rows on equal ts
    * (`_is_left` desc) so ties are included — ">=" semantics; payload
    * columns as trailing ascending sort keys make equal-(key, ts) right
    * rows resolve to the SMALLEST payload tuple, the forward-direction
    * twin of [[asof]]'s greatest-tuple rule. */
  def asofForward(left: DataFrame, right: DataFrame, keyCol: String, tsCol: String,
                  payloadCols: Seq[String]): DataFrame = {
    val leftTagged = left.withColumn("_is_left", lit(1))
      .withColumns(payloadCols.map(c => s"_r_$c" -> lit(null)).toMap)
    val rightTagged = right
      .select(Seq(col(keyCol), col(tsCol)) ++ payloadCols.map(c => col(c).as(s"_r_$c")): _*)
      .withColumn("_is_left", lit(0))
    val unioned = leftTagged.columns.foldLeft(rightTagged) { (df, c) =>
      if (df.columns.contains(c)) df else df.withColumn(c, lit(null))
    }.select(leftTagged.columns.toIndexedSeq.map(col): _*).unionByName(leftTagged)
    val tieBreaks = payloadCols.map(c => col(s"_r_$c").asc_nulls_last)
    val w = Window.partitionBy(keyCol)
      .orderBy(col(tsCol).asc +: col("_is_left").desc +: tieBreaks: _*)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val filled = payloadCols.foldLeft(unioned) { (df, c) =>
      df.withColumn(s"asof_$c", first(col(s"_r_$c"), ignoreNulls = true).over(w))
    }
    filled.filter(col("_is_left") === 1)
      .drop("_is_left").drop(payloadCols.map(c => s"_r_$c"): _*)
  }

  /** Tolerance-bounded as-of — pandas `merge_asof(tolerance=...)`
    * parity: the [[asof]] match is kept only when it lies at most
    * `toleranceSeconds` behind the left row; a staler match nulls the
    * payloads. A post-filter IS the exact semantics (not an
    * approximation): the as-of match is the NEAREST prior right row, so
    * when it falls outside the tolerance no other right row can fall
    * inside. Costs one extra projection over [[asof]]'s plan — the
    * tolerance never touches the shuffle or the window. */
  def asofWithin(left: DataFrame, right: DataFrame, keyCol: String, tsCol: String,
                 payloadCols: Seq[String], toleranceSeconds: Double): DataFrame = {
    require(toleranceSeconds >= 0, s"tolerance must be >= 0, got $toleranceSeconds")
    val mt = "__match_ts"
    val joined = asof(left, right.withColumn(mt, col(tsCol)),
      keyCol, tsCol, payloadCols :+ mt)
    // appending the match-ts AFTER the caller's payloads leaves the
    // equal-(key, ts) tie-break order unchanged (it is equal across the
    // tied rows anyway)
    val inTol = col(s"asof_$mt").isNotNull &&
      unix_micros(col(tsCol)) - unix_micros(col(s"asof_$mt")) <=
        math.round(toleranceSeconds * 1e6)
    payloadCols.foldLeft(joined) { (df, c) =>
      df.withColumn(s"asof_$c", when(inTol, col(s"asof_$c")))
    }.drop(s"asof_$mt")
  }

  /** Broadcast as-of — the zero-left-shuffle form for dim-sized right
    * sides. The union+window and native forms both shuffle the LEFT side
    * on the key; at the 100 TB design point the left is the fact table,
    * so that shuffle IS the query cost. When the right side is small
    * (a rollup, a dimension timeline), the right plan is: collapse the
    * right side to one ts-sorted timeline array per key, broadcast it,
    * and probe per left row — a BroadcastHashJoin plus a codegen'd
    * array probe, leaving the left side entirely un-shuffled (scan →
    * join → project, AQE/DPP-composable).
    *
    * The probe is `filter(timeline, x -> x.ts <= l.ts)` + `element_at
    * (-1)`: linear in the per-key timeline length, fine for the
    * dim-sized timelines this form is FOR (a binary search would need a
    * custom expression; the linear scan stays inside whole-stage
    * codegen). Tie-break matches the other forms: the timeline sorts by
    * (ts, payload...) ascending, so the last qualifying element is the
    * greatest payload tuple at equal ts.
    *
    * Same contract as [[asof]]: left columns plus `asof_<payload>`
    * columns, null when the key has no at-or-before right row. */
  def asofBroadcast(left: DataFrame, right: DataFrame, keyCol: String,
                    tsCol: String, payloadCols: Seq[String]): DataFrame = {
    val fields = col(tsCol).as("__ts") +: payloadCols.map(c => col(c).as(c))
    val timeline = right.groupBy(keyCol)
      .agg(sort_array(collect_list(struct(fields: _*))).as("__tl"))
    val probed = left.join(broadcast(timeline), Seq(keyCol), "left")
      .withColumn("__hits", filter(col("__tl"), x => x.getField("__ts") <= col(tsCol)))
      // size(NULL)=NULL (no right rows for the key) and the guard keeps
      // ANSI element_at from seeing an empty array
      .withColumn("__m", when(size(col("__hits")) > 0, element_at(col("__hits"), -1)))
    probed.select(left.columns.toIndexedSeq.map(col) ++
      payloadCols.map(c => col("__m").getField(c).as(s"asof_$c")): _*)
  }

  /** The analytic built on it: for each Blocked event, the most recent
    * prior-or-simultaneous Allowed event of the same client, and the gap
    * — "time since last success before this failure". */
  def blockedAfterAllowed(prep: DataFrame): DataFrame =
    gapSelect(asofFrames(prep, asof))

  /** Same analytic through the custom physical operator
    * ([[graft.plans.NativeAsof]] → `AsOfJoinExec`): identical output by
    * construction — shares j05's DuckDB ASOF JOIN oracle as
    * `j08_asof_blocked_allowed_native`. */
  def blockedAfterAllowedNative(prep: DataFrame): DataFrame =
    gapSelect(asofFrames(prep, graft.plans.NativeAsof.asof))

  /** Each Blocked event annotated with the client's most recent HOURLY
    * Allowed rollup at-or-before it — the dim-sized-right as-of shape
    * [[asofBroadcast]] exists for: the timeline is |clients| × |hours|
    * (thousands of rows at any scale), so it broadcasts, and the blocked
    * fact side flows shuffle-free from scan to result. */
  def blockedVsHourlyAllowed(prep: DataFrame): DataFrame = {
    val blocked = prep.filter(col("status_type") === "Blocked")
      .select("client", "ts", "id")
    val hourly = prep.filter(col("status_type") === "Allowed")
      .groupBy(col("client"), date_trunc("hour", col("ts")).as("hour_ts"))
      .agg(count(lit(1)).as("n_allowed"))
      .withColumn("ts", col("hour_ts"))
    asofBroadcast(blocked, hourly, "client", "ts", Seq("hour_ts", "n_allowed"))
      .select(col("client"), col("id"), col("ts"),
        col("asof_hour_ts").as("hour_ts"), col("asof_n_allowed").as("n_allowed"))
      .orderBy("client", "ts", "id")
  }

  /** The forward analytic: for each Allowed event, the NEXT Blocked
    * event of the same client at-or-after it — "time to next failure".
    * Same one-shuffle plan as j05, direction reversed. */
  def allowedBeforeBlocked(prep: DataFrame): DataFrame = {
    val allowed = prep.filter(col("status_type") === "Allowed")
      .select("client", "ts", "id")
    val blocked = prep.filter(col("status_type") === "Blocked")
      .select(col("client"), col("ts"), col("ts").as("blocked_ts"))
    asofForward(allowed, blocked, "client", "ts", Seq("blocked_ts"))
      .select(col("client"), col("id"), col("ts"),
        col("asof_blocked_ts").as("next_blocked_ts"),
        round((unix_micros(col("asof_blocked_ts")) - unix_micros(col("ts"))) / lit(1e6), 6)
          .as("gap_s"))
      .orderBy("client", "ts", "id")
  }

  /** j12/j13: the j05/j08 gap analytic AGGREGATED per client. Written
    * out (Verify), the aggregate consumes the asof payload, so both
    * implementations pay their full join. Under `.count()` it does not:
    * Catalyst prunes the unread aggregate columns, then folds the union
    * form's `_is_left` filter and unused Window, and
    * `AsOfJoinElimination` (installed with every session) drops the
    * native node, exactly as for j05/j08 — so a `.count()` of either
    * times a per-client scan, not the operator. */
  def asofGapStats(
      prep: DataFrame,
      impl: (DataFrame, DataFrame, String, String, Seq[String]) => DataFrame): DataFrame =
    asofFrames(prep, impl)
      .withColumn("gap_s",
        round((unix_micros(col("ts")) - unix_micros(col("asof_allowed_ts"))) / lit(1e6), 6))
      .groupBy("client")
      .agg(count(lit(1)).as("n_blocked"),
        count(col("asof_allowed_ts")).as("n_matched"),
        round(sum(col("gap_s")), 3).as("sum_gap_s"))
      .orderBy("client")

  def asofGapStatsUnion(prep: DataFrame): DataFrame = asofGapStats(prep, asof)
  def asofGapStatsNative(prep: DataFrame): DataFrame =
    asofGapStats(prep, graft.plans.NativeAsof.asof)

  /** j14: the j12 analytic under a match tolerance — a Blocked event
    * only counts as "matched" if its latest prior Allowed event came
    * within `tolSeconds` (merge_asof-tolerance semantics end-to-end:
    * staler matches contribute to n_blocked but not n_matched/gap). */
  def asofGapStatsWithin(prep: DataFrame, tolSeconds: Double = 600): DataFrame =
    asofGapStats(prep, (l, r, k, t, p) => asofWithin(l, r, k, t, p, tolSeconds))

  private def asofFrames(
      prep: DataFrame,
      impl: (DataFrame, DataFrame, String, String, Seq[String]) => DataFrame): DataFrame = {
    val blocked = prep.filter(col("status_type") === "Blocked")
      .select("client", "ts", "id")
    val allowed = prep.filter(col("status_type") === "Allowed")
      .select(col("client"), col("ts"), col("ts").as("allowed_ts"))
    impl(blocked, allowed, "client", "ts", Seq("allowed_ts"))
  }

  private def gapSelect(joined: DataFrame): DataFrame =
    joined
      .select(col("client"), col("id"), col("ts"),
        col("asof_allowed_ts").as("prev_allowed_ts"),
        round((unix_micros(col("ts")) - unix_micros(col("asof_allowed_ts"))) / lit(1e6), 6)
          .as("gap_s"))
      .orderBy("client", "ts", "id")
}

/** Interval (range) join — match point rows to [start, end] intervals.
  * The naive plan is a broadcast-nested-loop over a range predicate;
  * binning makes it an equi-join: explode each interval into the fixed-
  * size bins it covers, bin the points, equi-join on (key, bin), then
  * re-check exact containment. Shuffle key gains the bin → work
  * proportional to |points| + |interval bins|, not |points|×|intervals|.
  */
object RangeJoin {

  def binned(points: DataFrame, intervals: DataFrame, keyCol: String,
             tsCol: String, startCol: String, endCol: String,
             binSeconds: Long): DataFrame = {
    val p = points.withColumn("_bin", floor(unix_micros(col(tsCol)) / (binSeconds * 1000000L)))
    val iv = intervals.withColumn("_bin",
      explode(sequence(
        floor(unix_micros(col(startCol)) / (binSeconds * 1000000L)),
        floor(unix_micros(col(endCol)) / (binSeconds * 1000000L)))))
    p.join(iv, Seq(keyCol, "_bin"))
      .filter(col(tsCol) >= col(startCol) && col(tsCol) <= col(endCol))
      .drop("_bin")
  }
}
