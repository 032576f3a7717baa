package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer

/** Order-dependent operators — streaks (gaps-and-islands) and idle gaps
  * (reference: stats.py:500-528 builds the sorted flags/groups,
  * stats.py:323-365 streak aggregation, stats.py:369-415 idle gaps).
  *
  * The reference relies on one global pandas sort; in Spark these are the
  * only operators that need a total order. [[streakRuns]] keeps the
  * unpartitioned-`Window` form as the executable SEMANTIC SPEC (its plan
  * coalesces to a single task — the documented limit, SURVEY.md §7.3-3);
  * every flagship query (W2/W3/W4) routes through the PARALLEL two-pass
  * machinery instead:
  *
  *   pass 1 — per-partition boundary stats (first/last flag, change
  *     count) via `mapPartitionsWithIndex`: O(rows) work fully parallel,
  *     O(partitions) bytes to the driver (the classic parallel-prefix
  *     shape; at 10k partitions that is a 10k-element array);
  *   driver — a fold over those stats assigns each partition its global
  *     starting run id and a "continues previous run" bit;
  *   pass 2 — re-reads the same shuffled RDD (Spark reuses the shuffle
  *     files across jobs on one lineage) and run-length-encodes each
  *     partition with globally-correct run ids; a run spanning partitions
  *     emits one fragment per partition under ONE id and merges in an
  *     ordinary parallel `groupBy(grp)` — no single-task stage anywhere.
  *
  * W2 (longest streak) and W3 (longest idle) therefore contain NO Window
  * operator at all (pinned in PlanSpec): W2 is a TakeOrdered over the run
  * relation; W3 reduces per-partition maxima plus the O(partitions)
  * boundary gaps.
  */
object Streaks {

  /** Range-shuffle width for the parallel streak passes. `requested > 0`
    * is honored verbatim (tests pin partition-count invariance by passing
    * explicit values); the 0 default tracks the INPUT's partition count so
    * a 100 TB scan keeps its parallelism through the streak passes instead
    * of collapsing to a fixed 32 — floored at 32 so tiny local inputs
    * still exercise the multi-partition merge paths.
    *
    * Reads the physical partition count via `queryExecution.toRdd` —
    * `Dataset.rdd` would wrap the conversion in a new SQL execution
    * (an extra tracked driver action per streak call; the computeStats
    * job budget in EngineSpec pins this), while the raw physical RDD is
    * just plan inspection: no job, no execution event. */
  private def autoPartitions(prep: DataFrame, requested: Int): Int =
    if (requested > 0) requested
    else math.max(32, prep.queryExecution.toRdd.getNumPartitions)

  /** Epoch-micros projection of `ts` for the RDD scan passes. The two-pass
    * machinery reads the physical `InternalRow`s (no external-Row
    * conversion — measured as the dominant per-row cost of the r8 form),
    * where TimestampType is ALWAYS a micros long regardless of the
    * datetime.java8API conf; the defensive cast makes an un-normalized
    * TIMESTAMP_NTZ frame equally readable (lossless under the pinned UTC
    * session zone), so a source-encoding shift cannot change the scan's
    * row layout (TsEncodingSpec pins all three parquet encodings). */
  private def tsUs: Column = unix_micros(col("ts").cast(TimestampType)).as("ts_us")

  /** Retain a key value across iterator steps: `UnsafeRow.getUTF8String`
    * points into a buffer the scan reuses, so a kept key must be copied —
    * but only at run boundaries, never per row. */
  private def own(v: Any): Any = v match {
    case s: org.apache.spark.unsafe.types.UTF8String => s.clone()
    case x => x
  }

  /** Internal → external key value (UTF8String → String) for the
    * O(partitions) driver stats and the O(runs) output rows. */
  private def ext(v: Any): Any = v match {
    case s: org.apache.spark.unsafe.types.UTF8String => s.toString
    case x => x
  }

  /** W1+A21: per-run relation for one class flag. Group id = running count
    * of flag flips over the time order (pandas: cumsum of
    * `flag != flag.shift()`, stats.py:507-514); keep only the runs where
    * the flag holds and aggregate run length + first timestamp
    * (stats.py:328-335; first-on-sorted = min(ts)). */
  def streakRuns(prep: DataFrame, statusType: String): DataFrame = {
    val w = Window.orderBy("ts", "id")
    val run = Window.orderBy("ts", "id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val flag = (col("status_type") === statusType).as("flag")
    prep.select(col("ts"), col("id"), flag)
      .withColumn("chg",
        when(lag(col("flag"), 1).over(w).isNull || lag(col("flag"), 1).over(w) =!= col("flag"), 1)
          .otherwise(0))
      .withColumn("grp", sum(col("chg")).over(run))
      .filter(col("flag"))
      .groupBy("grp")
      .agg(count(lit(1)).as("streak_len"), min(col("ts")).as("start_ts"))
      .select("grp", "streak_len", "start_ts")
  }

  /** Per-partition summary of one sorted scan — everything every streak
    * operator needs, collected in ONE pass: the first/last run fragments
    * (the only runs that can span partitions), the local run count, the
    * best COMPLETE interior run per key (for argmax forms; off when
    * `wantBests` is false so the degenerate alternating-key case pays no
    * hash-map cost), and the idle-gap family (for the fused W3). Constant
    * bytes per partition apart from `bestInterior` (O(distinct keys) —
    * the status alphabet for DNS logs). */
  private case class PartStats(
    pid: Int,
    firstKey: Any, firstLen: Long, firstStartUs: Long,
    lastKey: Any, lastLen: Long, lastStartUs: Long,
    nRuns: Long,
    bestInterior: scala.collection.immutable.Map[Any, (Long, Long)],
    firstTs: Long, lastTs: Long,
    bestGap: Long, bestBefore: Long, bestAfter: Long)

  /** One complete run with its global id: (grp, key, len, startUs). */
  private type RunRow = (Long, Any, Long, Long)

  /** Pass 1 over the range-sorted physical rows: O(partitions) driver
    * data (see [[PartStats]]). Reads `InternalRow`s directly — no
    * external-Row conversion in the per-row hot loop. */
  private def scanStats(rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
                        kt: DataType, wantBests: Boolean): Array[PartStats] =
    rdd.mapPartitionsWithIndex { (pid, rows) =>
      var n = 0L; var nRuns = 0L
      var firstKey: Any = null; var firstLen = 0L; var firstStartUs = 0L
      var curKey: Any = null; var curLen = 0L; var curStartUs = 0L
      val bests = scala.collection.mutable.HashMap.empty[Any, (Long, Long)]
      var firstTs = 0L; var prevTs = 0L
      var bestGap = -1L; var bestBefore = 0L; var bestAfter = 0L
      rows.foreach { r =>
        val f = r.get(2, kt); val t = r.getLong(0)
        if (n == 0L) {
          firstTs = t
          curKey = own(f); curLen = 1L; curStartUs = t; nRuns = 1L
        } else {
          val g = t - prevTs
          if (g > bestGap) { bestGap = g; bestBefore = prevTs; bestAfter = t }
          if (f != curKey) {
            // the run that just closed: partition-first fragment if it is
            // run #1, else a COMPLETE interior run (it both started and
            // ended inside this partition — the last run never closes here)
            if (nRuns == 1L) { firstKey = curKey; firstLen = curLen; firstStartUs = curStartUs }
            else if (wantBests) {
              val prev = bests.getOrElse(curKey, null)
              if (prev == null || curLen > prev._1 ||
                (curLen == prev._1 && curStartUs < prev._2))
                bests(curKey) = (curLen, curStartUs)
            }
            curKey = own(f); curLen = 1L; curStartUs = t; nRuns += 1L
          } else curLen += 1L
        }
        prevTs = t; n += 1L
      }
      if (n == 0L) Iterator.empty
      else {
        if (nRuns == 1L) { firstKey = curKey; firstLen = curLen; firstStartUs = curStartUs }
        Iterator.single(PartStats(pid,
          ext(firstKey), firstLen, firstStartUs,
          ext(curKey), curLen, curStartUs, nRuns,
          bests.map { case (k, v) => (ext(k), v) }.toMap,
          firstTs, prevTs, bestGap, bestBefore, bestAfter))
      }
    }.collect().sortBy(_.pid)

  /** Driver stitch: fold the O(partitions) stats into (a) every COMPLETE
    * boundary-touching run — each partition's first/last fragments merged
    * across partitions when the key continues — and (b) each partition's
    * first-run global id (`firstGrp`), from which pass 2 derives interior
    * run ids locally. Run ids equal the window form's cumsum-of-changes
    * (run #1 = 1, sequential over all key values). */
  private def stitchBoundary(stats: Array[PartStats])
      : (ArrayBuffer[RunRow], collection.immutable.Map[Int, Long]) = {
    val out = ArrayBuffer.empty[RunRow]
    val firstGrps = Map.newBuilder[Int, Long]
    var runsSoFar = 0L
    var chain: RunRow = null
    stats.foreach { s =>
      val continues = chain != null && chain._2 == s.firstKey
      val firstGrp = runsSoFar + (if (continues) 0L else 1L)
      firstGrps += s.pid -> firstGrp
      runsSoFar += (if (continues) 0L else 1L) + (s.nRuns - 1L)
      if (continues) chain = (chain._1, chain._2, chain._3 + s.firstLen, chain._4)
      else {
        if (chain != null) out += chain
        chain = (firstGrp, s.firstKey, s.firstLen, s.firstStartUs)
      }
      if (s.nRuns > 1L) {
        // multi-run partition: the inbound chain ends at its first flip;
        // its LAST run starts a fresh chain toward the next partition
        out += chain
        chain = (firstGrp + s.nRuns - 1L, s.lastKey, s.lastLen, s.lastStartUs)
      }
    }
    if (chain != null) out += chain
    (out, firstGrps.result())
  }

  /** The range-sorted physical scan shared by every streak pass. */
  private def sortedScan(prep: DataFrame, key: Column, nParts: Int) =
    prep.select(tsUs, col("id"), key.as("key"))
      .repartitionByRange(nParts, col("ts_us"), col("id"))
      .sortWithinPartitions("ts_us", "id")
      .queryExecution.toRdd

  /** Driver-side per-class argmax over interior bests + stitched boundary
    * runs — (len desc, start asc), the window form's tie-break. */
  private def bestRunOfClass(stats: Array[PartStats], boundary: collection.Seq[RunRow],
                             cls: String): Option[(Long, Long)] = {
    var best: (Long, Long) = null
    def offer(len: Long, startUs: Long): Unit =
      if (best == null || len > best._1 || (len == best._1 && startUs < best._2))
        best = (len, startUs)
    stats.foreach(_.bestInterior.get(cls).foreach { case (l, s) => offer(l, s) })
    boundary.foreach { case (_, k, l, s) => if (k == cls) offer(l, s) }
    Option(best)
  }

  /** Build the W2 result rows for `classes` from one pass-1 stats array.
    * The result is a LocalRelation (the argmax already happened on the
    * O(partitions·keys) driver data) — no second data pass, no shuffle. */
  private def streaksFromStats(spark: org.apache.spark.sql.SparkSession,
                               stats: Array[PartStats],
                               classes: Seq[String]): DataFrame = {
    val (boundary, _) = stitchBoundary(stats)
    val rows = classes.flatMap { cls =>
      bestRunOfClass(stats, boundary, cls).map { case (len, startUs) =>
        Row(cls, len, startUs)
      }
    }
    val schema = StructType(Seq(
      StructField("status_type", StringType, nullable = false),
      StructField("streak_len", LongType, nullable = false),
      StructField("start_us", LongType, nullable = false)))
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schema)
      .select(col("status_type"), col("streak_len"),
        timestamp_micros(col("start_us")).as("start_ts"))
      .orderBy("status_type")
  }

  /** W2: longest streak of each class — argmax run by length, earliest
    * start on ties (pandas idxmax returns the first = earliest group,
    * stats.py:337-344); the reference computes blocked + allowed,
    * stats.py:336-359. ONE sorted pass: pass 1 already sees every run
    * boundary, so it carries the per-key best interior run and the
    * partition-edge fragments; the driver stitches spanning runs and
    * takes the argmax — no pass 2, no Window, no run shuffle. Runs are
    * computed on the status VALUE (a maximal Allowed stretch is the same
    * row set whether bounded by "≠ Allowed" or by a value change), so
    * both classes' argmaxes share the single pass. */
  def longestStreaks(prep: DataFrame): DataFrame = {
    val spark = prep.sparkSession
    val rdd = sortedScan(prep, col("status_type"), autoPartitions(prep, 0))
    streaksFromStats(spark, scanStats(rdd, StringType, wantBests = true),
      Seq("Allowed", "Blocked"))
  }

  /** Flag-run form: `grp` ids identical to [[streakRuns]]' window cumsum
    * (first run = 1, sequential over BOTH flag values). */
  private[graft] def parallelRuns(prep: DataFrame, statusType: String,
                                  numPartitions: Int = 0): DataFrame =
    parallelRunsBy(prep, col("status_type") === statusType, BooleanType, numPartitions)
      .withColumnRenamed("key", "flag")

  /** The parallel run relation: (grp, key, streak_len, start_ts) for ALL
    * maximal stretches of equal `key` values in (ts, id) order, with
    * `grp` ids equal to the window form's running change count.
    *
    * Two passes over one range-shuffled sort (see the object doc), with
    * NO run-level shuffle: pass 1 collects O(partitions) boundary stats
    * ([[scanStats]]); the driver stitches every boundary-touching run to
    * completion and hands each partition its first-run global id
    * ([[stitchBoundary]]); pass 2 re-reads the same shuffle files and
    * emits only the INTERIOR runs — complete by construction, ids
    * derived locally from `firstGrp` — so the old `groupBy(grp)` merge
    * exchange over O(runs) rows is gone: boundary runs arrive as an
    * O(partitions) LocalRelation unioned below the RDD scan.
    *
    * The degenerate worst case (alternating keys, runs ≈ rows) now
    * emits ~|rows| interior runs straight from the map-side scan with no
    * shuffle at all — strictly cheaper than the old parallel groupBy. */
  private[graft] def parallelRunsBy(prep: DataFrame, key: Column,
                                    keyType: DataType,
                                    numPartitions: Int = 0): DataFrame = {
    val spark = prep.sparkSession
    val nParts = autoPartitions(prep, numPartitions)
    val runSchema = StructType(Seq(
      StructField("grp", LongType, nullable = false),
      StructField("key", keyType, nullable = true),
      StructField("run_len", LongType, nullable = false),
      StructField("start_us", LongType, nullable = false)))
    val kt = keyType
    // physical InternalRows, not Dataset.rdd: no per-row external
    // conversion (GenericRow + Timestamp object per input row), and both
    // jobs below still share the one range shuffle on this lineage
    val rdd = sortedScan(prep, key, nParts)
    val stats = scanStats(rdd, kt, wantBests = false)
    val (boundary, firstGrps) = stitchBoundary(stats)
    val bc = spark.sparkContext.broadcast(firstGrps)
    // pass 2: per-partition RLE of interior runs only (run #1 and the
    // last run are the driver's); run i's id = firstGrp + i - 1. Reuses
    // pass 1's shuffle files (same RDD lineage), so the events
    // scan+exchange run once across the two jobs
    val runsRdd = rdd.mapPartitionsWithIndex { (pid, rows) =>
      bc.value.get(pid) match {
        case None => Iterator.empty[Row]
        case Some(firstGrp) =>
          val out = ArrayBuffer.empty[Row]
          var idx = 0L
          var cur: Any = null; var len = 0L; var startUs = 0L
          rows.foreach { r =>
            val f = r.get(2, kt)
            if (idx == 0L) { idx = 1L; cur = own(f); len = 1L; startUs = r.getLong(0) }
            else if (f != cur) {
              if (idx >= 2L) out += Row(firstGrp + idx - 1L, ext(cur), len, startUs)
              idx += 1L; cur = own(f); len = 1L; startUs = r.getLong(0)
            } else len += 1L
          }
          // the final (idx-th) run is the partition's last → driver-owned
          out.iterator
      }
    }
    val boundaryRows = boundary.map { case (g, k, l, s) => Row(g, k, l, s) }
    val local = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(boundaryRows.toSeq).asJava),
      runSchema)
    spark.createDataFrame(runsRdd, runSchema)
      .unionByName(local)
      .select(col("grp"), col("key"), col("run_len").as("streak_len"),
        timestamp_micros(col("start_us")).as("start_ts"))
  }

  /** The SCALE-PATH streak relation (SURVEY.md §7.3-3): identical output
    * to [[streakRuns]] but renumbered by start time (`run_no`) so it is
    * deterministic and engine-comparable. All O(rows) work happens in
    * [[parallelRuns]]; the one remaining Window is the final
    * `row_number` renumber over the RUN relation (runs ≪ rows for DNS
    * logs — and the renumber is presentation, not computation). */
  def streakRunsScalable(prep: DataFrame, statusType: String,
                         numPartitions: Int = 0): DataFrame =
    parallelRuns(prep, statusType, numPartitions).filter(col("flag"))
      .select(
        row_number().over(Window.orderBy("start_ts")).as("run_no"),
        col("streak_len"), col("start_ts"))

  /** Sessionization per client: a new session starts when the gap to the
    * previous event of the SAME client exceeds `gapSeconds` — the
    * per-natural-partition order-dependent pattern from SURVEY.md §7.3-3:
    * the window is partitioned by client, so unlike W1-W4 it parallelizes
    * across the cluster with no global order. Returns per-session rows
    * (client, session_no, n_events, start/end). */
  def sessionize(prep: DataFrame, gapSeconds: Long = 1800): DataFrame =
    sessionizeCore(prep, gapSeconds).orderBy("client", "session_no")

  /** The UNORDERED session relation — what JOIN/aggregate consumers
    * (j15's range join, [[sessionSummary]]) read: the public surface's
    * global sort costs them a range exchange (whose partitioner adds a
    * sampling pass over the input) plus a sort that a hash join or
    * aggregate immediately discards. Ordering lives only on the public
    * [[sessionize]], the Dedup candidatesFromBanded treatment. */
  private[graft] def sessionizeCore(prep: DataFrame, gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy("client").orderBy("ts", "id")
    val acc = Window.partitionBy("client").orderBy("ts", "id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prep.select(col("client"), col("ts"), col("id"))
      .withColumn("gap_s",
        (unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)) / lit(1e6))
      .withColumn("new_sess",
        when(col("gap_s").isNull || col("gap_s") > gapSeconds, 1).otherwise(0))
      .withColumn("session_no", sum(col("new_sess")).over(acc))
      .groupBy("client", "session_no")
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"), max(col("ts")).as("session_end"))
  }

  /** Per-client session summary — sessions per client + mean session
    * length, the aggregate a dashboard would show. */
  def sessionSummary(prep: DataFrame, gapSeconds: Long = 1800): DataFrame =
    sessionizeCore(prep, gapSeconds)
      .groupBy("client")
      .agg(count(lit(1)).as("n_sessions"),
        round(avg(col("n_events")), 4).as("avg_session_events"),
        max(col("n_events")).as("max_session_events"))
      .orderBy("client")

  /** F13: the display-formatted longest-streak block — the reference
    * renders start date as "%d %B %Y" and hour as "%H:%M"
    * (stats.py:342-355); Java patterns "dd MMMM yyyy" / "HH:mm" under the
    * UTC session zone. Kept as a separate query so the unformatted W2
    * result stays the canonical comparison surface. */
  def longestStreaksFormatted(prep: DataFrame): DataFrame =
    longestStreaks(prep).select(
      col("status_type"), col("streak_len"),
      date_format(col("start_ts"), "dd MMMM yyyy").as("streak_date"),
      date_format(col("start_ts"), "HH:mm").as("streak_hour"))

  /** W3+W4: the largest inter-arrival gap over the full ordered relation,
    * with the timestamps bounding it (reference: idle_gap stats.py:515,
    * argmax + before/after stats.py:369-402). Ties broken by earliest
    * occurrence (pandas idxmax → first). Gap reported in seconds — the
    * reference's `max_idle_ms` key actually holds seconds (SURVEY.md
    * §7.3-4); we use an honest column name. */
  /** W7: trailing-hour load per event — count of the same client's events
    * in (ts − window, ts], as a RANGE frame over epoch micros. A RANGE
    * frame (value-based bounds) is the deterministic choice here: rows
    * sharing a timestamp are all peers of each other's frame, so the
    * count does not depend on shuffle order the way a ROWS frame would.
    * Scale: partitioned by client — the window shuffles once on client
    * and sorts within partitions; no global ordering anywhere. */
  def slidingWindowCounts(prep: DataFrame, windowSeconds: Long = 3600): DataFrame = {
    val w = Window.partitionBy("client").orderBy(col("ts_us"))
      .rangeBetween(-(windowSeconds * 1000000L - 1), Window.currentRow)
    prep.select(col("client"), col("id"), col("ts"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("n_last_hour", count(lit(1)).over(w))
  }

  /** W7 summary: each client's peak trailing-hour load and the first
    * timestamp at which it was reached. */
  def peakHourlyLoad(prep: DataFrame, windowSeconds: Long = 3600): DataFrame = {
    // the peak is a second window over the SAME client partitioning, so
    // it rides the sliding count's shuffle (one exchange total); a
    // groupBy-max + self-join would recompute the sliding counts twice
    val sw = slidingWindowCounts(prep, windowSeconds)
    val wc = Window.partitionBy("client")
    sw.withColumn("peak", max("n_last_hour").over(wc))
      .filter(col("n_last_hour") === col("peak"))
      .groupBy("client", "peak").agg(min("ts").as("first_peak_ts"))
      .orderBy("client")
  }

  /** W2 + W3 fused behind ONE range shuffle AND one data pass.
    * [[longestStreaks]] and [[longestIdle]] each need the same
    * `(ts, id)`-sorted relation; run separately they range-shuffle and
    * sort the input twice — measured as the dominant slice of the
    * facade's stats stage at 100 M rows. The fused [[scanStats]] pass
    * collects BOTH boundary-stat families per partition (run stats:
    * edge fragments + per-key interior bests; idle stats: first/last ts
    * + best internal gap); the driver folds both and the two results are
    * LocalRelations — one exchange, one scan job, total. Outputs are
    * bit-identical to the standalone operators (pinned in `StreaksSpec`);
    * the standalone forms remain the oracle-checked public query
    * surface. */
  def longestStreaksWithIdle(prep: DataFrame): (DataFrame, DataFrame) = {
    val spark = prep.sparkSession
    val rdd = sortedScan(prep, col("status_type"), autoPartitions(prep, 0))
    val stats = scanStats(rdd, StringType, wantBests = true)
    val streaks = streaksFromStats(spark, stats, Seq("Allowed", "Blocked"))
    // idle candidates: per-partition maxima + the O(partitions) gaps
    // across consecutive non-empty partitions — exactly longestIdle's
    val cands = ArrayBuffer.empty[(Long, Long, Long)]
    stats.foreach { s => if (s.bestGap >= 0L) cands += ((s.bestGap, s.bestBefore, s.bestAfter)) }
    stats.iterator.sliding(2).withPartial(false).foreach { case Seq(p, q) =>
      cands += ((q.firstTs - p.lastTs, p.lastTs, q.firstTs))
    }
    val winner = cands.sortBy { case (g, _, a) => (-g, a) }.headOption
    (streaks, idleResult(spark, winner))
  }

  /** Shared tail of the idle-gap operators: render the winning
    * (before, after) micros pair with the ENGINE's own expressions (same
    * unix-micros arithmetic + round as the window form), so rounding
    * semantics stay oracle-identical. */
  private def idleResult(spark: org.apache.spark.sql.SparkSession,
                         winner: Option[(Long, Long, Long)]): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("before_us", LongType, nullable = false),
      StructField("after_us", LongType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(winner.map(w => Row(w._2, w._3)).toSeq, 1),
      outSchema)
      .select(
        round((col("after_us") - col("before_us")) / lit(1e6), 6).as("gap_s"),
        timestamp_micros(col("before_us")).as("before_gap"),
        timestamp_micros(col("after_us")).as("after_gap"))
  }

  def longestIdle(prep: DataFrame, numPartitions: Int = 0): DataFrame = {
    val spark = prep.sparkSession
    val nParts = autoPartitions(prep, numPartitions)
    // one parallel pass: each partition reduces to its max internal gap
    // (strict > keeps the EARLIEST after-ts on ties, matching the window
    // form's `ORDER BY gap DESC, ts`) plus its first/last timestamps for
    // the O(partitions) boundary gaps
    val parts = prep.select(tsUs, col("id"))
      .repartitionByRange(nParts, col("ts_us"), col("id"))
      .sortWithinPartitions("ts_us", "id")
      .queryExecution.toRdd.mapPartitionsWithIndex { (pid, rows) =>
        var n = 0L
        var first = 0L; var prev = 0L
        var bestGap = -1L; var bestBefore = 0L; var bestAfter = 0L
        rows.foreach { r =>
          val t = r.getLong(0)
          if (n == 0L) first = t
          else {
            val g = t - prev
            if (g > bestGap) { bestGap = g; bestBefore = prev; bestAfter = t }
          }
          prev = t; n += 1
        }
        if (n == 0L) Iterator.empty
        else Iterator.single((pid, first, prev, bestGap, bestBefore, bestAfter))
      }.collect().sortBy(_._1)
    // driver: candidates = per-partition maxima + gaps across consecutive
    // NON-EMPTY partitions (range partitioning can leave holes); winner by
    // (gap desc, after-ts asc) — exact long-micros comparison, no float
    val cands = ArrayBuffer.empty[(Long, Long, Long)]
    parts.foreach { case (_, _, _, g, b, a) => if (g >= 0L) cands += ((g, b, a)) }
    parts.iterator.sliding(2).withPartial(false).foreach { case Seq(p, q) =>
      cands += ((q._2 - p._3, p._3, q._2))
    }
    idleResult(spark, cands.sortBy { case (g, _, a) => (-g, a) }.headOption)
  }
}
