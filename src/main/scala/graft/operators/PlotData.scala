package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's chart-feeding aggregate tables (reference: plot.py:12-162,
  * process.py:86-113) as declarative Spark plans over the preprocessed
  * relation ([[graft.Preprocess]]).
  *
  * Scale design: every query here is groupBy→agg (partial+final hash agg,
  * one shuffle on the grouping key); the top-k relations are tiny (≤ n rows)
  * and explicitly `broadcast()` into semi-joins, so the big fact relation is
  * never shuffled for a join. The hourly view (A16) is the materialized-view
  * analog of the reference's interactive cache: at cluster scale you'd write
  * it once (partitioned by day) and serve A17-style re-aggregations from it
  * — its cardinality is hours × statuses × clients, orders of magnitude
  * below the event count, so re-aggs never touch the fact table.
  */
object PlotData {

  /** F10: shorten long strings to `first(keep) + "..." + last(keep)` when
    * longer than maxLen (reference: plot.py:26-27 with maxLen=45, keep=20).
    * Pure expression — stays in codegen. */
  def shorten(c: Column, maxLen: Int, keep: Int): Column =
    when(length(c) > maxLen,
      concat(substring(c, 1, keep), lit("..."), substr(c, length(c) - (keep - 1), lit(keep))))
      .otherwise(c)

  /** Top-k clients by total count, deterministic tie-break
    * (reference: plot.py:29, process.py:107). */
  def topClients(prep: DataFrame, n: Int): DataFrame =
    Stats.topK(prep.groupBy("client").agg(count(lit(1)).as("total_cnt")), n, "total_cnt", "client")

  /** Top-k domains by count within the frame (reference: plot.py:56-58, 89). */
  def topDomains(prep: DataFrame, n: Int): DataFrame =
    Stats.topK(prep.groupBy("domain").agg(count(lit(1)).as("total_cnt")), n, "total_cnt", "domain")

  /** A16: the hourly (ts_hour, status_type, client) rollup — the reference's
    * materialized view for all interactive charts (process.py:100-104),
    * in at most `defaultParallelism` partitions: the sizing of the rollup
    * the serving tier persists. Spark (4.1.2) leaves
    * `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` false by
    * default, so AQE never coalesces a persisted plan's final shuffle: a
    * cached aggregate keeps `spark.sql.shuffle.partitions` partitions (32
    * in the serving session), and every read of it pays that many tasks,
    * however few its rows. `defaultParallelism` is the local core count,
    * and on a cluster the total executor cores, so the relation is never
    * narrower than the cluster. `coalesce` only lowers the partition
    * count; the rows are unchanged. Sized here, in the shared definition,
    * not only where the serving tier persists it: the dashboard's rollup
    * over the same `prep` must plan-match the cached copy. */
  def hourlyView(prep: DataFrame): DataFrame =
    prep.groupBy(
      date_trunc("HOUR", col("ts")).as("ts_hour"),
      col("status_type"), col("client")
    ).agg(count(lit(1)).as("cnt"))
      .coalesce(prep.sparkSession.sparkContext.defaultParallelism)

  // The three time-series charts, each defined once over an hourlyView
  // rollup or a one-client slice of it: the serving slices pass the
  // cached rollup, the static dashboard hourlyView(prep).

  /** Queries per status class over time (plot.py:175-187), capped. The
    * cap's (bucket, status) sum reads the rollup directly: a per-hour
    * pre-sum gives the same counts for one more shuffle and job. Below
    * the cap it equals [[viewByStatus]]. */
  def statusSeries(rollup: DataFrame): DataFrame =
    capSeries(rollup, "ts_hour", Seq("status_type"))

  /** Queries per client in `clients` over time (plot.py:282-294), capped;
    * a NULL client never matches. For the top-n clients, below the cap,
    * it equals [[clientActivity]]. */
  def clientSeries(rollup: DataFrame, clients: Seq[String]): DataFrame =
    capSeries(rollup.filter(col("client").isin(clients: _*)), "ts_hour", Seq("client"))

  /** w09 over the rollup re-summed to days; over [[hourlyView]] of `prep`
    * it equals [[Stats.dailyAnomalies]]. */
  def dailyAnomaliesOf(rollup: DataFrame): DataFrame =
    Stats.dailyAnomaliesFrom(rollup
      .groupBy(col("status_type"), to_date(col("ts_hour")).as("date"))
      .agg(sum("cnt").cast("double").as("cnt")))

  /** A17: re-aggregation of the view to (ts_hour, status_type)
    * (reference: plot.py:182-187). */
  def viewByStatus(prep: DataFrame): DataFrame =
    hourlyView(prep).groupBy("ts_hour", "status_type")
      .agg(sum("cnt").as("cnt")).orderBy("ts_hour", "status_type")

  /** SLIDING-window load: event counts per 1-hour window sliding every
    * 15 minutes — the overlapping-window generalization of A16's
    * tumbling hour (Spark's `window(ts, size, slide)` generator: each
    * row replicates into size/slide windows BEFORE the aggregate, so
    * the shuffle carries 4× rows here — the cost knob is the ratio,
    * which is why production slides are coarse). Same operator drives
    * the streaming form unchanged. Overlap makes trailing spikes
    * visible at 15-minute resolution without a per-row RANGE frame
    * (w07 is the per-event exact variant). */
  def slidingHourlyLoad(prep: DataFrame): DataFrame =
    prep.groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("w_start"), col("cnt"))
      .orderBy("w_start")

  /** A17/P5: per-client activity restricted to the top-n clients — the
    * left-semi join against the broadcast top-k relation
    * (reference: plot.py:291-294). */
  def clientActivity(prep: DataFrame, n: Int): DataFrame =
    hourlyView(prep)
      .join(broadcast(topClients(prep, n).select("client")), Seq("client"), "left_semi")
      .groupBy("ts_hour", "client").agg(sum("cnt").as("cnt"))
      .orderBy("ts_hour", "client")

  /** Bound a time-bucketed series relation to ≤ `maxPoints` buckets per
    * series BEFORE any driver collect ([[cappedBy]]): a span-proportional
    * collect would be O(hours) rows per series for a chart whose screen
    * has ~2k pixels. Counts are SUMMED into the coarser bucket (the
    * faithful downsample for a volume series), so the collect is
    * O(maxPoints · |series|) at any span.
    * `df` must carry (`tsCol` timestamp, `seriesCols`…, `cntCol`). */
  def capSeries(df: DataFrame, tsCol: String, seriesCols: Seq[String],
                cntCol: String = "cnt", maxPoints: Int = 2048): DataFrame =
    cappedBy(df, tsCol, seriesCols, maxPoints)(sum(col(cntCol)).as(cntCol))

  /** The [[capSeries]] bound for a VALUE series (a latency/score line,
    * not a volume line): a mean-only rollup hides the spikes the chart
    * exists to show, so the coarser bucket keeps the per-point envelope
    * — avg, min, and max of the finer-grained points it swallows
    * (`v_avg`/`v_min`/`v_max` for `valCol` v; avg rounded to 4dp so the
    * figure is reproducible across partition orders). Same calendar
    * ladder, same O(maxPoints · |series|) collect bound. */
  def capSeriesEnvelope(df: DataFrame, tsCol: String, seriesCols: Seq[String],
                        valCol: String, maxPoints: Int = 2048): DataFrame =
    cappedBy(df, tsCol, seriesCols, maxPoints)(
      round(avg(col(valCol)), 4).as(s"${valCol}_avg"),
      min(col(valCol)).as(s"${valCol}_min"),
      max(col(valCol)).as(s"${valCol}_max"))

  /** Shared cap machinery: roll `tsCol` up to the coarsest calendar unit
    * (hour → day → week → month → quarter → year) that keeps the span
    * under `maxPoints` buckets, re-aggregating with `aggs`. The span
    * scalar comes from a 1-row min/max aggregate broadcast back into
    * the plan (the repo's tiny-crossJoin idiom) — the whole operator
    * stays lazy; below the threshold the bucket passes through
    * unchanged (hour in = hour out), pinned in ServeSpec.
    *
    * The output is sorted in ONE partition, not by a global `orderBy`:
    * it holds at most `maxPoints` rows per series by construction, so a
    * single sort task is bounded at any input size, and it skips the
    * range-sampling job and range exchange a global sort plans. The
    * aggregate's reduce side stays parallel (`repartition`, not
    * `coalesce`). Each (bucket, series…) key is one row, so the order is
    * total and the same as the global sort's. */
  private def cappedBy(df: DataFrame, tsCol: String, seriesCols: Seq[String],
                       maxPoints: Int)(aggs: Column*): DataFrame = {
    require(maxPoints > 0, s"maxPoints must be positive, got $maxPoints")
    val bounds = df.agg(min(col(tsCol)).as("_t0"), max(col(tsCol)).as("_t1"))
    val spanH = (unix_timestamp(col("_t1")) - unix_timestamp(col("_t0"))).cast("double") / 3600.0
    // first unit whose bucket count fits wins; YEAR is the fallback
    // (maxPoints years ≈ two millennia at the default cap). Hours per
    // unit use the MINIMUM calendar length (28-day month, 90-day
    // quarter) so the bucket-count bound holds for every alignment.
    val units = Seq("HOUR" -> 1.0, "DAY" -> 24.0, "WEEK" -> 168.0,
      "MONTH" -> 672.0, "QUARTER" -> 2160.0)
    val bucket = units.foldRight(date_trunc("YEAR", col(tsCol))) {
      case ((u, hours), coarser) =>
        when(spanH <= lit(maxPoints) * hours, date_trunc(u, col(tsCol)))
          .otherwise(coarser)
    }
    df.crossJoin(broadcast(bounds))
      .groupBy(bucket.as(tsCol) +: seriesCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .repartition(1)
      .sortWithinPartitions(tsCol, seriesCols: _*)
  }

  /** True when [[capSeries]] and [[capSeriesEnvelope]] leave a series of
    * day starts spanning `spanSeconds` as it is: the span fits the HOUR
    * or DAY rung of [[cappedBy]]'s ladder (24 hours a bucket), and
    * truncating a day start to an hour or a day is the identity. The
    * dashboard then skips the cap plan for its daily series. */
  private[graft] def keepsDays(spanSeconds: Long, maxPoints: Int = 2048): Boolean =
    spanSeconds / 3600.0 <= maxPoints * 24.0

  /** The dense hour grid (ts_hour) from the first to the last event's
    * hour, generated from the 1-row min/max aggregate via
    * sequence+explode — never collected to the driver. */
  private def hourGrid(prep: DataFrame): DataFrame =
    prep
      .agg(date_trunc("HOUR", min(col("ts"))).as("lo"), date_trunc("HOUR", max(col("ts"))).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("ts_hour"))

  /** J3: dense hourly grid × the three status classes LEFT JOIN the A17
    * aggregate, missing buckets → 0 (reference: plot.py:212-225).
    * Both grid and aggregate are tiny relative to the fact table, so the
    * join broadcasts. */
  def gapFilledByStatus(prep: DataFrame): DataFrame = {
    val grid = hourGrid(prep)
    val statuses = grid.sparkSession
      .sql("SELECT explode(array('Allowed','Blocked','Other')) AS status_type")
    grid.crossJoin(broadcast(statuses))
      .join(viewByStatus(prep), Seq("ts_hour", "status_type"), "left")
      .select(col("ts_hour"), col("status_type"), coalesce(col("cnt"), lit(0L)).as("cnt"))
      .orderBy("ts_hour", "status_type")
  }

  /** J6: LINEAR INTERPOLATION over hourly gaps — the time-series repair
    * alternative to zero-fill: a missing bucket takes the value lerped
    * between its nearest observed neighbors (ends clamp to the nearest
    * observation). Classic last/first-non-null window pair:
    * prev = last(cnt) ignoreNulls over (-∞, 0], next = first(cnt)
    * ignoreNulls over [0, +∞) — plus the matching timestamps, so the
    * weight is (t − t_prev)/(t_next − t_prev). One grid join + two
    * windows over the grid-sized relation (never the fact table). The
    * global hourly window is grid-sized (|hours|), not data-sized —
    * safe to sort in one task at any SF. */
  def interpolatedHourly(prep: DataFrame, statusType: String = "Blocked"): DataFrame = {
    val observed = prep.filter(col("status_type") === statusType)
      .groupBy(date_trunc("HOUR", col("ts")).as("ts_hour"))
      .agg(count(lit(1)).cast("double").as("cnt"))
    lerpGaps(hourGrid(prep).join(broadcast(observed), Seq("ts_hour"), "left"), Nil)
  }

  /** The J6 neighbour lerp over a (`parts`…, ts_hour, cnt-or-null) grid:
    * each series (one per `parts` value; one in all when `parts` is
    * empty) fills its null `cnt`s from the nearest observations, sorted
    * by (`parts`…, ts_hour). */
  private def lerpGaps(joined: DataFrame, parts: Seq[String]): DataFrame = {
    val byHour = Window.partitionBy(parts.map(col): _*).orderBy("ts_hour")
    val before = byHour.rowsBetween(Window.unboundedPreceding, 0)
    val after = byHour.rowsBetween(0, Window.unboundedFollowing)
    val t = unix_micros(col("ts_hour")).cast("double")
    joined
      .withColumn("prev_cnt", last(col("cnt"), ignoreNulls = true).over(before))
      .withColumn("prev_t", last(when(col("cnt").isNotNull, t), ignoreNulls = true).over(before))
      .withColumn("next_cnt", first(col("cnt"), ignoreNulls = true).over(after))
      .withColumn("next_t", first(when(col("cnt").isNotNull, t), ignoreNulls = true).over(after))
      .select(parts.map(col) ++ Seq(
        col("ts_hour"),
        round(
          when(col("cnt").isNotNull, col("cnt"))                  // observed
            .when(col("prev_cnt").isNull, col("next_cnt"))        // before first obs
            .when(col("next_cnt").isNull, col("prev_cnt"))        // after last obs
            .otherwise(col("prev_cnt") + (col("next_cnt") - col("prev_cnt"))
              * (t - col("prev_t")) / (col("next_t") - col("prev_t"))),
          6).as("cnt_interp")): _*)
      .orderBy((parts :+ "ts_hour").map(col): _*)
  }

  /** J6 (client variant): the PARTITIONED form of [[interpolatedHourly]]
    * — every top-n client's hourly series interpolated independently,
    * windows partitioned by client. This is the shape that scales: the
    * per-client window sorts |hours| rows within each client partition
    * (the global-window form is only safe because its input is
    * grid-sized; this one stays safe even with millions of series). */
  def interpolatedByClient(prep: DataFrame, n: Int): DataFrame = {
    val topC = topClients(prep, n).select("client")
    val observed = prep
      .join(broadcast(topC), Seq("client"), "left_semi")
      .groupBy(col("client"), date_trunc("HOUR", col("ts")).as("ts_hour"))
      .agg(count(lit(1)).cast("double").as("cnt"))
    lerpGaps(hourGrid(prep).crossJoin(broadcast(topC))
      .join(observed, Seq("client", "ts_hour"), "left"), Seq("client"))
  }

  /** J3 (client variant): dense hourly grid × the top-n clients LEFT JOIN
    * per-client activity, zeros filled (reference: plot.py:321-331 — the
    * client-activity chart's gap fill). Grid and top-k are both tiny →
    * broadcast; the fact table is touched once for the aggregate. */
  def gapFilledByClient(prep: DataFrame, n: Int): DataFrame = {
    // ONE top-k aggregate feeding both the grid cross-join and the
    // activity semi-join — a second topClients() here would be an entire
    // extra pass over the fact table
    val topC = topClients(prep, n).select("client")
    val activity = hourlyView(prep)
      .join(broadcast(topC), Seq("client"), "left_semi")
      .groupBy("ts_hour", "client").agg(sum("cnt").as("cnt"))
    hourGrid(prep).crossJoin(broadcast(topC))
      .join(activity, Seq("ts_hour", "client"), "left")
      .select(col("ts_hour"), col("client"), coalesce(col("cnt"), lit(0L)).as("cnt"))
      .orderBy("ts_hour", "client")
  }

  /** A18/O4: stacked per-client bar — counts per (client, status_type) on
    * the top-n clients, carrying the client total used for categorical
    * ordering (reference: plot.py:30-48). */
  def stackedClientBar(prep: DataFrame, n: Int): DataFrame =
    prep.join(broadcast(topClients(prep, n)), Seq("client"))
      .groupBy("client", "total_cnt", "status_type").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("total_cnt"), asc("client"), asc("status_type"))

  /** O2/F10: top-n domains of one status class with shortening applied
    * BEFORE counting — reference order of operations (plot.py:52-72
    * shortens, then value_counts), so post-shorten collisions merge. */
  def topDomainsOfClass(prep: DataFrame, statusType: String, n: Int,
                        maxLen: Int = 45, keep: Int = 20): DataFrame =
    Stats.topK(prep.filter(col("status_type") === statusType)
      .groupBy(shorten(col("domain"), maxLen, keep).as("domain"))
      .agg(count(lit(1)).as("cnt")), n, "cnt", "domain")

  /** A19: client-domain scatter on top-n clients ∧ top-m domains, count
    * ascending. Shorten is applied BEFORE the aggregation, matching the
    * reference (plot.py:94 rewrites the column, then groups).
    * maxLen/keep parameterized so the testdata (short keys) still
    * exercises the shortening path. */
  def clientDomainScatter(prep: DataFrame, nClients: Int, nDomains: Int,
                          maxLen: Int = 45, keep: Int = 20): DataFrame =
    prep
      .join(broadcast(topClients(prep, nClients).select("client")), Seq("client"), "left_semi")
      .join(broadcast(topDomains(prep, nDomains).select("domain")), Seq("domain"), "left_semi")
      .groupBy(col("client"), shorten(col("domain"), maxLen, keep).as("domain"),
        col("status_type"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(asc("cnt"), asc("client"), asc("domain"), asc("status_type"))

  /** A20: day×hour heatmap — pivot hour 0..23 into columns, zero-filled,
    * optionally restricted to one status class
    * (reference: plot.py:104-139 builds all/Allowed/Blocked variants). */
  def dayHourHeatmap(prep: DataFrame, statusType: Option[String]): DataFrame = {
    val base = statusType.fold(prep)(s => prep.filter(col("status_type") === s))
    val pivoted = base.groupBy("day_name")
      .pivot("hour", (0 to 23).map(h => h: Any)).agg(count(lit(1)))
    val hourCols = (0 to 23).map(h => coalesce(col(s"$h"), lit(0L)).as(s"h$h"))
    pivoted.select(col("day_name") +: hourCols: _*).orderBy("day_name")
  }

  val WeekdayOrder: Seq[String] =
    Seq("Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday", "Sunday")

  /** A20 in the reference's exact display shape: ALWAYS 7 rows in
    * Monday..Sunday order — `reindex(order)` introduces null rows for
    * absent weekdays AFTER the zero-fill (plot.py:114-139), so a day with
    * no data is null-valued, not zero. */
  def dayHourHeatmapWeekdays(prep: DataFrame, statusType: Option[String]): DataFrame = {
    val spark = prep.sparkSession
    val days = spark.sql(
      WeekdayOrder.zipWithIndex
        .map { case (d, i) => s"SELECT '$d' AS day_name, $i AS day_ord" }
        .mkString(" UNION ALL "))
    broadcast(days).join(dayHourHeatmap(prep, statusType), Seq("day_name"), "left")
      .orderBy("day_ord").drop("day_ord")
  }
}
