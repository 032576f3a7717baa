package graft.operators

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** The reference's scalar-stats queries (reference: stats.py:474-528 runs
  * ~40 of these sequentially), re-expressed as independent declarative
  * aggregations over the preprocessed relation ([[graft.Preprocess]]).
  *
  * Each returns a SMALL DataFrame (1..k rows) rather than a collected
  * scalar so the driver's Verify can dump it; at cluster scale each is a
  * partial+final hash aggregate (map-side combine) with only the tiny
  * final groups shuffled — no operator here materializes the input.
  *
  * One definition per decision, shared by the declared queries and the
  * [[graft.Engine]] facade:
  *  - Tie-break: every top-1 / top-k orders by (count DESC, keys ASC),
  *    because pandas breaks ties positionally while a distributed engine
  *    must pin its own (SURVEY.md §7.3-1). [[topK]] is the limit form,
  *    [[firstPerGroup]] the per-group row_number form.
  *  - Aggregate expressions (the count triple, the span decomposition,
  *    the distinct counts, the reply-ms triple, A15's mean reply ms) are
  *    column lists, so the single-statistic queries and [[keyCounts]]
  *    share the expressions while each keeps its own plan.
  *  - [[keyCounts]] is the facade's shared pass: one grouping-sets
  *    aggregate over `prep` whose small result the driver collects once;
  *    [[KeyCounts]] derives the order-free statistics and chart tables
  *    from it. Its argmaxes run on the driver through [[countOrder]],
  *    the same (count DESC, keys ASC) tie-break as [[topK]], with keys
  *    compared as Spark compares them (NULL first, UTF-8 bytes).
  *  - [[domainPass]] is the facade's other shared pass: one plan whose
  *    one row holds every domain-keyed statistic, each argmax a struct
  *    min whose leading fields are [[topK]]'s sort keys; [[DomainPass]]
  *    reads it on the driver.
  *  - Display forms are the raw operator plus a `round`
  *    ([[weekdayAvg]], [[interArrival]], [[slowestDomain]]); the facade
  *    reads the raw form, as the reference argmaxes unrounded values.
  */
object Stats {

  /** The one limit-based top-k: `n` rows by `cnt` DESC, ties to the
    * smallest `keys` in order. */
  private[graft] def topK(df: DataFrame, n: Int, cnt: String, keys: String*): DataFrame =
    df.orderBy(byCount(cnt, keys): _*).limit(n)

  /** The first row of each `groups` group in [[topK]]'s order — the
    * row_number form, for a top-1 per group. */
  private[graft] def firstPerGroup(df: DataFrame, groups: Seq[String], cnt: String,
                                   keys: String*): DataFrame = {
    val w = Window.partitionBy(groups.map(col): _*).orderBy(byCount(cnt, keys): _*)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  private def byCount(cnt: String, keys: Seq[String]): Seq[Column] = desc(cnt) +: keys.map(asc)

  /** [[topK]]'s order on the driver: `cnt` DESC, then each key ASC as
    * Spark sorts strings (NULL first, then by UTF-8 bytes). */
  private def countOrder[T](cnt: T => Long, keys: (T => String)*): Ordering[T] =
    (a: T, b: T) => {
      val c = java.lang.Long.compare(cnt(b), cnt(a))
      if (c != 0) c else keys.iterator.map(k => KeyAsc.compare(k(a), k(b))).find(_ != 0).getOrElse(0)
    }

  /** Spark's ascending string order: NULL first, then UTF-8 bytes. */
  private val KeyAsc: Ordering[String] = (a: String, b: String) =>
    if (a == null || b == null) java.lang.Boolean.compare(b == null, a == null)
    else UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b))

  private def aggOf(g: RelationalGroupedDataset, cs: Seq[Column]): DataFrame =
    g.agg(cs.head, cs.tail: _*)

  /** All rows, Blocked rows, Allowed rows; `all` names the first. */
  private def classCounts(all: String): Seq[Column] = Seq(
    count(lit(1)).as(all),
    count(when(col("status_type") === "Blocked", 1)).as("blocked_cnt"),
    count(when(col("status_type") === "Allowed", 1)).as("allowed_cnt"))

  private def tsRange: Seq[Column] = Seq(min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"))

  /** The span between [[tsRange]]'s bounds in µs, added as `span_us`;
    * [[spanParts]] splits it into whole days, hours and minutes. */
  private def spanUs: Column = unix_micros(col("max_ts")) - unix_micros(col("min_ts"))

  private def spanParts: Seq[Column] = Seq(
    expr("span_us div 86400000000").as("span_days"),
    expr("(span_us % 86400000000) div 3600000000").as("span_hours"),
    expr("(span_us % 3600000000) div 60000000").as("span_minutes"))

  private def distinctCols: Seq[Column] = Seq(
    countDistinct(col("domain")).as("n_domains"),
    countDistinct(col("client")).as("n_clients"))

  /** Mean/max/min of abs(reply_time) in ms, rounded to 3, 0.0 when all null. */
  private def replyMsCols: Seq[Column] = Seq(
    coalesce(round(avg(abs(col("reply_time"))) * 1000, 3), lit(0.0)).as("avg_reply_ms"),
    coalesce(round(max(abs(col("reply_time"))) * 1000, 3), lit(0.0)).as("max_reply_ms"),
    coalesce(round(min(abs(col("reply_time"))) * 1000, 3), lit(0.0)).as("min_reply_ms"))

  /** A1+A2: total / blocked / allowed counts and percentages
    * (reference: stats.py:14,39-48). Single full-scan aggregate; at scale
    * this is one map-side-combined pass. */
  def totals(prep: DataFrame): DataFrame =
    aggOf(prep.groupBy(), classCounts("total")).select(
      col("total"), col("blocked_cnt"), col("allowed_cnt"),
      when(col("total") === 0, 0.0)
        .otherwise(round(lit(100.0) * col("blocked_cnt") / col("total"), 4)).as("blocked_pct"),
      when(col("total") === 0, 0.0)
        .otherwise(round(lit(100.0) * col("allowed_cnt") / col("total"), 4)).as("allowed_pct")
    )

  /** The grouping columns of [[keyCounts]], in `grouping_id` bit order
    * (the first column is the highest bit). */
  private val KeyCols = Seq("date", "day_name", "hour", "day_period", "client")

  /** The grouping sets of [[keyCounts]]. Every row carries the count
    * triple, so no set is keyed by status class: a class count is a
    * column. */
  private val KeySets: Seq[Seq[String]] = Seq(
    Nil,                         // totals, time range, reply ms
    Seq("date", "day_name"),     // per-date counts and reply ms, weekday means
    Seq("day_name", "hour"),     // heatmaps, per-hour counts
    Seq("client"),               // top clients, unique clients, stacked bar
    Seq("day_period", "client")) // day/night totals and top clients

  private def gidOf(set: Seq[String]): Int =
    KeyCols.zipWithIndex.collect { case (c, i) if !set.contains(c) => 1 << (KeyCols.size - 1 - i) }.sum

  /** The order-free per-key counts the facade and the dashboard derive
    * from: ONE grouping-sets aggregate over [[KeySets]], each row tagged
    * with its set's `grouping_id` as `gid`. Measures: the count triple,
    * the time range with its span parts, the reply-ms triple and the
    * per-group mean reply ms (`reply_ms`, A15's expression). Its rows grow
    * with dates and clients, never with events: at most
    * 1 + |dates| + 168 + 3·|clients| (+1 per set for a NULL key). The
    * values are the declared operators' own aggregate expressions over
    * the same groups, so they are equal to what those operators return;
    * [[KeyCounts]] derives the statistics from the collected rows. */
  def keyCounts(prep: DataFrame): DataFrame =
    prep.groupingSets(KeySets.map(_.map(col)), KeyCols.map(col): _*)
      .agg(grouping_id().cast("int").as("gid"),
        classCounts("cnt") ++ tsRange ++ replyMsCols :+ dateReplyMs.as("reply_ms"): _*)
      .withColumn("span_us", spanUs)
      .select(col("*") +: spanParts: _*)

  /** [[keyCounts]] collected, and the driver-side form of every statistic
    * and chart table its rows feed. Each method returns the rows the
    * declared operator it names returns (same columns, same order), with
    * [[topK]]'s tie-break through [[countOrder]]; StatsSpec pins each
    * equality. */
  final class KeyCounts(rows: Seq[Row]) {
    private val bySet = rows.groupBy(_.getAs[Int]("gid"))
    private def setOf(keys: String*): Seq[Row] = bySet.getOrElse(gidOf(keys), Nil)
    private def n(r: Row, c: String): Long =
      if (c == OtherCnt) r.getAs[Long]("cnt") - r.getAs[Long]("blocked_cnt") - r.getAs[Long]("allowed_cnt")
      else r.getAs[Long](c)

    /** The ungrouped row (totals, time range, reply ms and span parts);
      * none on an empty relation, where a grouping-sets aggregate emits
      * no row. */
    def summary: Option[Row] = setOf().headOption

    /** A11's `n_clients`: the non-NULL client groups. */
    def uniqueClients: Long = setOf("client").count(client(_) != null)

    /** [[topClient]]: (client, cnt). */
    def topClient: Seq[Row] = topOf(setOf("client"), "cnt").map(r => Row(client(r), n(r, "cnt"))).toSeq

    /** [[topClientByClass]]: (status_type, client, cnt) per class present. */
    def topClientByClass: Seq[Row] =
      StatusClasses.flatMap(st => topOf(setOf("client"), classCol(st))
        .map(r => Row(st, client(r), n(r, classCol(st)))))

    /** [[dailyCounts]]: (date, cnt, blocked_cnt, allowed_cnt) by date. */
    def dailyCounts: Seq[Row] =
      byDate.map(r => Row(r.getAs[java.sql.Date]("date"), n(r, "cnt"), n(r, "blocked_cnt"), n(r, "allowed_cnt")))

    /** [[hourlyCounts]]: (hour, cnt) by hour. */
    def hourlyCounts: Seq[Row] =
      setOf("day_name", "hour").groupBy(r => Option(r.getAs[Integer]("hour")))
        .toSeq.sortBy(_._1.map(_.intValue))
        .map { case (h, rs) => Row(h.orNull, rs.map(n(_, "cnt")).sum) }

    /** [[weekdayAvgRaw]]: (day_name, avg_cnt) by day name — the mean of
      * the per-date counts, summed as Spark's `avg` sums them (in
      * doubles, exact for counts). */
    def weekdayAvgRaw: Seq[Row] =
      setOf("date", "day_name").groupBy(_.getAs[String]("day_name"))
        .toSeq.sortBy(_._1)(KeyAsc)
        .map { case (d, rs) => Row(d, rs.map(n(_, "cnt").toDouble).sum / rs.size) }

    /** [[dayNightTotals]]: (day_period, cnt, blocked_cnt, allowed_cnt). */
    def dayNightTotals: Seq[Row] = byPeriod.map { case (p, rs) =>
      Row.fromSeq(p +: Seq("cnt", "blocked_cnt", "allowed_cnt").map(c => rs.map(n(_, c)).sum))
    }

    /** [[dayNightTopClient]]: (day_period, client, cnt). */
    def dayNightTopClient: Seq[Row] = byPeriod.flatMap { case (p, rs) =>
      topOf(rs, "cnt").map(r => Row(p, client(r), n(r, "cnt")))
    }

    /** The facade's top client per (day_period, class) for Allowed and
      * Blocked: (day_period, status_type, client, cnt), ordered by both. */
    def dayNightTopClientByClass: Seq[Row] = byPeriod.flatMap { case (p, rs) =>
      Seq("Allowed", "Blocked").flatMap(st =>
        topOf(rs, classCol(st)).map(r => Row(p, st, client(r), n(r, classCol(st)))))
    }

    /** [[PlotData.stackedClientBar]]: (client, total_cnt, status_type,
      * cnt) for the top-`k` clients; a NULL client drops out, as in the
      * operator's join. */
    def stackedClientBar(k: Int): Seq[Row] =
      topClientRows(k).filter(client(_) != null)
        .flatMap(r => StatusClasses.map(st => st -> n(r, classCol(st))).filter(_._2 > 0)
          .map { case (st, c) => Row(client(r), n(r, "cnt"), st, c) })

    /** [[PlotData.topClients]]'s `client` column, a NULL client included. */
    def topClients(k: Int): Seq[String] = topClientRows(k).map(client)

    private def topClientRows(k: Int): Seq[Row] = ranked(setOf("client"), "cnt").take(k)

    /** [[PlotData.dayHourHeatmapWeekdays]]: Monday..Sunday rows of
      * (day_name, h0..h23); a weekday with no row of the class is all
      * NULL, a present weekday's empty hour 0. */
    def dayHourHeatmapWeekdays(statusType: Option[String]): Seq[Row] = {
      val measure = statusType.fold("cnt")(classCol)
      val cells = setOf("day_name", "hour").filter(n(_, measure) > 0)
        .groupBy(_.getAs[String]("day_name"))
      PlotData.WeekdayOrder.map { d =>
        val hours = cells.get(d).map(_.map(r => r.getAs[Int]("hour") -> n(r, measure)).toMap)
        Row.fromSeq(d +: (0 to 23).map(h => hours.map(m => m.getOrElse(h, 0L): Any).orNull))
      }
    }

    /** [[replyByDate]]: (date, avg_reply_ms) by date. */
    def replyByDate: Seq[Row] = byDate.map(r => Row(r.getAs[java.sql.Date]("date"), r.getAs[Any]("reply_ms")))

    private def client(r: Row): String = r.getAs[String]("client")

    /** The per-date rows, NULL date first as in an ascending sort. */
    private def byDate: Seq[Row] =
      setOf("date", "day_name").sortBy(r => Option(r.getAs[java.sql.Date]("date")).map(_.toLocalDate.toEpochDay))

    /** The (day_period, client) rows by period, periods ascending. */
    private def byPeriod: Seq[(String, Seq[Row])] =
      setOf("day_period", "client").groupBy(_.getAs[String]("day_period")).toSeq.sortBy(_._1)(KeyAsc)

    /** Rows with a positive `measure` (the groups a per-class filter
      * keeps) in (`measure` DESC, client ASC) order. */
    private def ranked(rs: Seq[Row], measure: String): Seq[Row] =
      rs.filter(n(_, measure) > 0).sorted(countOrder[Row](n(_, measure), client))

    private def topOf(rs: Seq[Row], measure: String): Option[Row] = ranked(rs, measure).headOption
  }

  object KeyCounts {
    /** Runs [[keyCounts]] and collects it: one Spark execution. */
    def apply(prep: DataFrame): KeyCounts = new KeyCounts(keyCounts(prep).collect().toSeq)
  }

  /** The status classes [[graft.Preprocess]] assigns, in key order. */
  private val StatusClasses = Seq("Allowed", "Blocked", "Other")

  /** The count-triple column of one class. "Other" has none: it is what
    * the two named columns leave of `cnt` ([[KeyCounts]] derives it). */
  private def classCol(st: String): String = st match {
    case "Allowed" => "allowed_cnt"
    case "Blocked" => "blocked_cnt"
    case _ => OtherCnt
  }

  private val OtherCnt = "other_cnt"

  /** A3/S5: global time range + span decomposition (reference:
    * stats.py:19-29; probe db.py:54-61). Parquet footer min/max stats make
    * this near-free at any scale. */
  def timeRange(prep: DataFrame): DataFrame =
    aggOf(prep.groupBy(), tsRange)
      .withColumn("span_us", spanUs)
      .select(col("min_ts") +: col("max_ts") +: spanParts: _*)

  /** A4: most active client overall (reference: stats.py:60-62). */
  def topClient(prep: DataFrame): DataFrame =
    topK(prep.groupBy("client").agg(count(lit(1)).as("cnt")), 1, "cnt", "client")

  /** Top client (client, cnt) within each group of `groups` — one shuffle
    * on (groups, client), then a per-group window rank over the
    * already-small aggregate. A4 per class, A10 per period, and the
    * facade's per (period, class) differ only in `groups`. */
  private[graft] def topClientWithin(prep: DataFrame, groups: String*): DataFrame =
    firstPerGroup(prep.groupBy((groups :+ "client").map(col): _*).agg(count(lit(1)).as("cnt")),
      groups, "cnt", "client")

  /** A4 (per class): top client within each status_type
    * (reference: stats.py:63-67). */
  def topClientByClass(prep: DataFrame): DataFrame =
    topClientWithin(prep, "status_type").orderBy("status_type")

  /** A5 + P9 quirk: top domain of one class, its count across ALL statuses
    * (the reference filters only on domain for the count — stats.py:84-87),
    * and its top querying client WITH the class filter re-applied
    * (stats.py:93-99). The asymmetry is intentional (SURVEY.md §2.2 quirk).
    * ONE scan of the events: conditional counts per (domain, client), then
    * per domain the class count, the all-status count and the top
    * in-class client as a struct min. That second aggregate is sort-based,
    * but it sorts the |domain × client| pairs, not the events. */
  def topDomainOfClass(prep: DataFrame, statusType: String): DataFrame = {
    val domains = prep.groupBy("domain", "client").agg(
        count(lit(1)).as("all_pair_cnt"),
        count(when(col("status_type") === statusType, 1)).as("class_pair_cnt"))
      .groupBy("domain").agg(
        sum("class_pair_cnt").as("class_cnt"),
        sum("all_pair_cnt").as("all_cnt"),
        topClientOf(col("class_pair_cnt")).as("_tc"))
      .filter(col("class_cnt") > 0) // argmax candidates = domains with ≥1 class row
    topK(domains, 1, "class_cnt", "domain")
      .select(col("domain"), col("class_cnt"), col("all_cnt"),
        col("_tc.client").as("client"), (-col("_tc.neg")).as("client_cnt"))
  }

  /** Within a group of (domain, client) rows, the client with the most
    * `n` (ties to the smallest client) as struct (neg = −n, client);
    * NULL when no row has n > 0. A struct min orders NULL first and
    * strings by UTF-8 bytes, as [[topK]]'s ascending keys do. */
  private def topClientOf(n: Column): Column =
    min(when(n > 0, struct((-n).as("neg"), col("client"))))

  /** A (day_period, status class) cell of [[domainPass]]; None is "any". */
  private type Cell = (Option[String], Option[String])

  /** The classes [[domainPass]] ranks domains and averages gaps in. */
  private val PassClasses = Seq("Allowed", "Blocked")

  /** The nine cells [[domainPass]] counts, the all-periods, all-classes
    * cell first. */
  private val DomainCells: Seq[Cell] =
    for (p <- Seq(None, Some("Day"), Some("Night")); c <- None +: PassClasses.map(Some(_)))
      yield (p, c)

  /** A cell's count column: `n`, `n_Blocked`, `n_Day`, `n_Day_Blocked`, … */
  private def cellCount(cell: Cell): String = (Seq("n") ++ cell._1 ++ cell._2).mkString("_")

  /** The facade's domain-keyed statistics as ONE plan returning ONE row;
    * [[DomainPass]] reads that row as the rows of A5, A6, A10's top
    * domain, A11's `n_domains`, A12, A14 and A22.
    *
    * It pivots instead of branching per statistic. One (domain, client)
    * aggregate carries the nine cell counts and each class's time bounds.
    * One grouping-sets aggregate over those pairs gives, per domain, their
    * sums and each class cell's top client, and per client its distinct
    * domains. One ungrouped aggregate over those rows takes every argmax
    * as a struct min whose leading fields are the operator's sort keys (a
    * struct orders NULL first and strings by UTF-8 bytes, as [[topK]]
    * does). A14's candidates are its own per-domain means, added to that
    * last aggregate's rows: a two-level sum of reply times could round
    * differently. */
  def domainPass(prep: DataFrame): DataFrame = {
    def isClass(c: String) = col("status_type") === c
    def micros(c: String) = when(isClass(c), unix_micros(col("ts")))
    val classCells = DomainCells.filter(_._2.isDefined)
    // each class's time bounds, over `of`(class, bound column)
    def bounds(of: (String, String) => Column) = PassClasses.flatMap(k =>
      Seq(min(of(k, s"min_us_$k")).as(s"min_us_$k"), max(of(k, s"max_us_$k")).as(s"max_us_$k")))
    val pairs = aggOf(prep.groupBy("domain", "client"),
      DomainCells.map { case cell @ (p, c) =>
        val in = (p.map(col("day_period") === _) ++ c.map(isClass)).reduceOption(_ && _)
        count(in.fold(lit(1))(when(_, 1))).as(cellCount(cell))
      } ++ bounds((k, _) => micros(k)))
    // gid 1: one row per domain; gid 2: one row per client
    val keyed = aggOf(pairs.groupingSets(Seq(Seq(col("domain")), Seq(col("client"))), col("domain"), col("client")),
      Seq(grouping_id().cast("int").as("gid"), count(col("domain")).as("client_domains")) ++
        DomainCells.map(cell => sum(cellCount(cell)).as(cellCount(cell))) ++
        classCells.map(cell => topClientOf(col(cellCount(cell))).as(s"tc_${cellCount(cell)}")) ++
        bounds((_, c) => col(c)))
    val rows = keyed.unionByName(domainMeanReply(prep), allowMissingColumns = true)
    def ofDomains(c: String) = when(col("gid") === 1, col(c))
    // (count DESC, domain ASC), carrying the all-status count of the
    // cell's period (the A5 quirk) and the cell's top client
    def topDomain(cell: Cell) = {
      val n = ofDomains(cellCount(cell))
      min(when(n > 0, struct((-n).as("neg"), col("domain"),
        col(cellCount((cell._1, None))).as("all_cnt"), col(s"tc_${cellCount(cell)}").as("tc"))))
        .as(s"top_${cellCount(cell)}")
    }
    val tcBlocked = ofDomains(s"tc_${cellCount((None, Some("Blocked")))}")
    val avgReply = col("avg_reply")
    aggOf(rows.groupBy(), (count(ofDomains("domain")).as("n_domains") +:
      classCells.map(topDomain)) ++ Seq(
        // A6: the best of each domain's top Blocked client, (cnt DESC, client, domain)
        min(when(tcBlocked.isNotNull, struct(tcBlocked("neg"), tcBlocked("client"), col("domain"))))
          .as("persistent"),
        min(when(col("gid") === 2, struct((-col("client_domains")).as("neg"), col("client")))).as("diverse"),
        // A14: avg_reply DESC with NaN first (Spark sorts NaN greatest), then domain
        min(when(avgReply.isNotNull, struct(!isnan(avgReply), -avgReply, col("domain"), avgReply)))
          .as("slowest")) ++
        bounds((_, c) => ofDomains(c)) ++ PassClasses.map(c => sum(ofDomains(cellCount((None, Some(c))))).as(s"n_$c")))
  }

  /** The [[domainPass]] row, read as the rows of the operators it
    * replaces (same columns, same order; None where the operator returns
    * no row). StatsSpec pins each to its operator, doubles to the bit. */
  final class DomainPass(row: Row) {
    private def struct(c: String): Option[Row] = Option(row.getAs[Row](c))

    /** [[topDomainOfClass]] over `period`'s rows, all rows for None:
      * (domain, class_cnt, all_cnt, client, client_cnt). A period whose
      * top domain is NULL has none, as in [[dayNightTopDomain]]. */
    def topDomain(period: Option[String], statusType: String): Option[Row] =
      struct(s"top_${cellCount((period, Some(statusType)))}")
        .filter(t => period.isEmpty || t.getAs[String]("domain") != null)
        .map { t =>
          val tc = t.getAs[Row]("tc")
          Row(t.getAs[String]("domain"), -t.getAs[Long]("neg"), t.getAs[Long]("all_cnt"),
            tc.getAs[String]("client"), -tc.getAs[Long]("neg"))
        }

    /** [[persistentClient]]: (client, domain, cnt). */
    def persistent: Option[Row] = struct("persistent").map(p => Row(p.getString(1), p.getString(2), -p.getLong(0)))

    /** [[diverseClient]]: (client, n_domains). */
    def diverse: Option[Row] = struct("diverse").map(d => Row(d.getString(1), -d.getLong(0)))

    /** [[slowestDomainRaw]]: (domain, avg_reply). */
    def slowest: Option[Row] = struct("slowest").map(s => Row(s.getString(2), s.getDouble(3)))

    /** A11's `n_domains`. */
    def uniqueDomains: Long = row.getAs[Long]("n_domains")

    /** [[interArrivalRaw]]'s `mean_gap_s` of one class, (max − min) /
      * (n − 1) in seconds as [[meanGaps]] computes it; None for a class
      * with fewer than two events. */
    def meanGap(statusType: String): Option[Double] = {
      def long(c: String) = Option(row.getAs[java.lang.Long](s"${c}_$statusType")).map(_.longValue)
      for (n <- long("n") if n > 1; lo <- long("min_us"); hi <- long("max_us"))
        yield (hi - lo).toDouble / (n - 1) / 1e6
    }
  }

  object DomainPass {
    /** Runs [[domainPass]] and collects its row: one Spark execution. */
    def apply(prep: DataFrame): DomainPass = new DomainPass(domainPass(prep).head())
  }

  /** A6: most persistent client — top (client, domain) pair among Blocked
    * rows (reference: stats.py:123-139). */
  def persistentClient(prep: DataFrame): DataFrame =
    topK(prep.filter(col("status_type") === "Blocked")
      .groupBy("client", "domain").agg(count(lit(1)).as("cnt")), 1, "cnt", "client", "domain")

  /** A7: per-date total/blocked/allowed counts (reference: stats.py:154-185
    * computes argmax/argmin over these; we return the full per-date table,
    * which subsumes both and stays tiny — one row per day). */
  def dailyCounts(prep: DataFrame): DataFrame =
    aggOf(prep.groupBy("date"), classCounts("cnt")).orderBy("date")

  /** A7 melted: the per-date count columns as (date, measure, n) rows —
    * Spark's native `unpivot` (pandas `melt`, the shape the reference's
    * plotting layer feeds to long-format chart APIs). Pure reshape of an
    * already-tiny aggregate: no extra scan, no shuffle beyond A7's. */
  def unpivotDaily(prep: DataFrame): DataFrame =
    dailyCounts(prep).unpivot(
      Array(col("date")),
      Array(col("cnt"), col("blocked_cnt"), col("allowed_cnt")),
      "measure", "n")
      .orderBy("date", "measure")

  /** A8: per-hour-of-day counts, 0..23 (reference: stats.py:189-193). */
  def hourlyCounts(prep: DataFrame): DataFrame =
    prep.groupBy("hour").agg(count(lit(1)).as("cnt")).orderBy("hour")

  /** A9: average queries per weekday — two-level aggregate: count per
    * (date, day_name), then mean per day_name (reference: stats.py:197-205).
    * Second aggregate reuses the first's partitioning: AQE coalesces the
    * tiny intermediate. */
  def weekdayAvg(prep: DataFrame): DataFrame =
    weekdayMeans(prep).select(col("day_name"), round(col("avg_cnt"), 4).as("avg_cnt"))
      .orderBy("day_name")

  /** A9 without display rounding — the raw means the reference argmaxes
    * over (stats.py:197-205); rounding first could both shift int() and
    * flip the argmax on near-ties. */
  def weekdayAvgRaw(prep: DataFrame): DataFrame = weekdayMeans(prep).orderBy("day_name")

  /** The unsorted A9 means: each form sorts after its own projection, so
    * the display round folds into the aggregate. */
  private def weekdayMeans(prep: DataFrame): DataFrame =
    prep.groupBy("date", "day_name").agg(count(lit(1)).as("cnt"))
      .groupBy("day_name").agg(avg(col("cnt")).as("avg_cnt"))

  /** A10: the day/night stat block — totals per day_period partition
    * (reference: stats.py:211-321 re-runs A1/A4/A5 per partition; a single
    * pass with day_period in the grouping key replaces 2 full scans). */
  def dayNightTotals(prep: DataFrame): DataFrame =
    aggOf(prep.groupBy("day_period"), classCounts("cnt")).orderBy("day_period")

  /** A10 (top client per period), one window pass (reference: stats.py:222-233). */
  def dayNightTopClient(prep: DataFrame): DataFrame =
    topClientWithin(prep, "day_period").orderBy("day_period")

  /** A10 (top domain of one class per period) — the day/night variant of
    * [[topDomainOfClass]] including the same count asymmetry: per-class
    * argmax domain, then its count over ALL statuses within that period
    * (reference: stats.py:236-243 vs 245-254). One window pass per stage
    * instead of the reference's two full re-scans. */
  def dayNightTopDomain(prep: DataFrame, statusType: String): DataFrame = {
    // ONE scan: conditional counts per (period, domain) carry both the
    // class count (argmax key) and the all-statuses count (the quirk),
    // so no join back against the events relation is needed. The null
    // filter after the argmax replicates the old join-on-domain
    // behavior (a NULL top domain dropped its period from the output).
    val pd = prep.groupBy("day_period", "domain").agg(
      count(when(col("status_type") === statusType, 1)).as("class_cnt"),
      count(lit(1)).as("all_cnt"))
    firstPerGroup(pd.filter(col("class_cnt") > 0), Seq("day_period"), "class_cnt", "domain")
      .filter(col("domain").isNotNull)
      .select("day_period", "domain", "class_cnt", "all_cnt")
      .orderBy("day_period")
  }

  /** A11: exact distinct domain/client counts (reference: stats.py:422-423).
    * Exact countDistinct = expand+two-phase agg; at 100 TB swap in
    * approx_count_distinct (HLL) — see [[approxDistinct]]. */
  def distinctCounts(prep: DataFrame): DataFrame = aggOf(prep.groupBy(), distinctCols)

  /** A11 at scale: HLL sketch version — constant memory per partition, one
    * pass, no expand. Not oracle-comparable (sketch), driver records
    * rows-only. */
  def approxDistinct(prep: DataFrame): DataFrame =
    prep.agg(
      approx_count_distinct(col("domain")).as("approx_domains"),
      approx_count_distinct(col("client")).as("approx_clients"))

  /** A11 at 100 TB, the mergeable-sketch rollup pattern: one Datasketches
    * HLL per day (partial state constant-size, map-side combined), then a
    * single union+estimate for the global distinct count — the shape that
    * lets daily sketches be PERSISTED and re-merged for any date range
    * without rescanning events. Estimates, so rows-only for the driver;
    * accuracy asserted in ScalaTest. */
  def hllDailyDomains(prep: DataFrame): DataFrame = {
    val daily = prep.groupBy("date").agg(hll_sketch_agg(col("domain")).as("sk"))
    daily.agg(
      count(lit(1)).as("n_days"),
      hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_distinct_domains"))
  }

  /** [[approxDistinct]] in ORACLE-CHECKABLE form: the HLL estimate itself
    * is engine-internal (DuckDB cannot reproduce Spark's sketch), so the
    * query returns the EXACT distinct counts plus the error-bound
    * predicate |est − exact| ≤ ε·exact as a boolean — the oracle asserts
    * TRUE, so a sketch drifting out of tolerance flips the boolean and
    * fails the hash compare instead of going untested. ε = 3× the
    * default 5% rsd of approx_count_distinct. */
  def approxDistinctChecked(prep: DataFrame, eps: Double = 0.15): DataFrame =
    aggOf(prep.groupBy(), distinctCols ++ Seq(
      approx_count_distinct(col("domain")).as("ad"),
      approx_count_distinct(col("client")).as("ac")))
      .select(col("n_domains"), col("n_clients"),
        (abs(col("ad") - col("n_domains")) <= col("n_domains") * eps).as("domains_within_eps"),
        (abs(col("ac") - col("n_clients")) <= col("n_clients") * eps).as("clients_within_eps"))

  /** [[hllDailyDomains]] in the same oracle-checkable shape: exact global
    * distinct (hash-checked value) + the merged-sketch estimate reduced
    * to a within-ε boolean (Datasketches lgK=12 ≈ 1.6% standard error;
    * ε = 5% matches SketchSpec's bound). The exact side is a 1-row
    * aggregate broadcast-joined onto the 1-row sketch rollup. */
  def hllDailyDomainsChecked(prep: DataFrame, eps: Double = 0.05): DataFrame = {
    val exact = prep.agg(countDistinct(col("domain")).as("exact_domains"))
    hllDailyDomains(prep).crossJoin(broadcast(exact)).select(
      col("n_days"), col("exact_domains"),
      (abs(col("est_distinct_domains") - col("exact_domains")) <= col("exact_domains") * eps)
        .as("est_within_eps"))
  }

  /** A11 frequency sketch: per-day count-min sketches of the domain
    * stream (constant-size partial state, map-side combined — the same
    * persistable daily-rollup shape as [[hllDailyDomains]], for COUNTS
    * instead of cardinality), merged on the driver and probed for the
    * exact top-N domains. CMS estimates are deterministic given the
    * seed (counter sums + min — order-independent), always ≥ the true
    * count, and ≤ true + ε·N w.h.p.; `SketchSpec` asserts both bounds.
    * Hash-checked against DuckDB since round 7: for string items the
    * bucket hashing is seed-independent Murmur3 double hashing, which
    * [[Oracles.CmsSql]] mirrors bit-for-bit in SQL. */
  def cmsDomainEstimates(prep: DataFrame, topN: Int = 10): DataFrame = {
    val spark = prep.sparkSession
    import spark.implicits._
    val daily = prep.groupBy("date")
      .agg(expr("count_min_sketch(domain, 0.001d, 0.99d, 42)").as("cms"))
    val sketches = daily.select("cms").collect().map(_.getAs[Array[Byte]](0))
      .map(b => org.apache.spark.util.sketch.CountMinSketch
        .readFrom(new java.io.ByteArrayInputStream(b)))
    val merged = sketches.reduceOption { (a, b) => a.mergeInPlace(b); a }
    val top = topK(prep.groupBy("domain").agg(count(lit(1)).as("exact_cnt")),
        topN, "exact_cnt", "domain")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    top.map { case (dom, exact) =>
      (dom, exact, merged.map(_.estimateCount(dom)).getOrElse(0L))
    }.toSeq.toDF("domain", "exact_cnt", "cms_est")
      .orderBy("domain")
  }

  /** A34: approximate-quantile sketch with its guarantee CHECKED — the
    * third sketch family next to HLL (cardinality) and CMS (frequency).
    * `percentile_approx` (Greenwald-Khanna summaries) promises a RANK
    * error ≤ 1/accuracy, not a value error, so the oracle-checkable form
    * verifies exactly that: for each level q, the empirical CDF around
    * the returned value must straddle q within ε — strictly-less
    * fraction ≤ q+ε and less-or-equal fraction ≥ q−ε (the two-sided
    * form is tie-safe; a single `<=` fraction can jump past q+ε on
    * heavy ties without any sketch error). One corpus scan computes the
    * sketch; one more, with the 3-row (level, value) relation broadcast,
    * computes the CDF checks — no collect, fully lazy. */
  def approxQuantileBounds(prep: DataFrame, eps: Double = 0.01,
                           accuracy: Int = 1000): DataFrame = {
    val levels = Seq(0.5, 0.95, 0.99)
    val lvArr = array(levels.map(lit): _*)
    val vals = prep.filter(col("reply_time").isNotNull).agg(
      percentile_approx(col("reply_time"), lvArr, lit(accuracy)).as("vs"),
      count(lit(1)).as("n"))
    val lvRel = vals.select(col("n"), posexplode(col("vs")).as(Seq("i", "v")))
      .withColumn("q_level", element_at(lvArr, col("i") + 1))
      .select("q_level", "v", "n")
    prep.filter(col("reply_time").isNotNull).select(col("reply_time"))
      .crossJoin(broadcast(lvRel))
      .groupBy("q_level")
      .agg(
        (sum(when(col("reply_time") < col("v"), 1L).otherwise(0L)).cast("double") /
          first(col("n"))).as("frac_lt"),
        (sum(when(col("reply_time") <= col("v"), 1L).otherwise(0L)).cast("double") /
          first(col("n"))).as("frac_le"))
      .select(col("q_level"),
        ((col("frac_lt") <= col("q_level") + lit(eps)) &&
          (col("frac_le") >= col("q_level") - lit(eps))).as("rank_ok"))
      .orderBy("q_level")
  }

  /** Statistical aggregates over reply times: per-status stddev and the
    * hour↔reply correlation — ratios/roots of distributed sums, rounded
    * to 6dp on both sides (relative error of a distributed vs sequential
    * sum is ~1e-12, far inside the rounding). */
  def replyDispersion(prep: DataFrame): DataFrame =
    prep.filter(col("reply_time").isNotNull)
      .groupBy("status_type")
      .agg(
        round(stddev_samp(col("reply_time")), 6).as("reply_stddev"),
        round(corr(col("reply_time"), col("hour").cast("double")), 6).as("hour_corr"),
        round(avg(col("reply_time")), 6).as("reply_avg"))
      .orderBy("status_type")

  /** Reply-time histogram: fixed-width binning as pure arithmetic
    * (floor-divide, clamp to the last bucket) rather than width_bucket —
    * identical integer math on every engine, map-side combinable, and
    * the bin id is computable at the scan (no second pass for bounds). */
  def replyHistogram(prep: DataFrame, binWidth: Double = 50.0, nBins: Int = 10): DataFrame =
    prep.filter(col("reply_time").isNotNull)
      .select(least(floor(col("reply_time") / binWidth) + 1, lit(nBins.toLong))
        .cast("int").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .withColumn("lo", (col("bucket") - 1).cast("double") * binWidth)
      .withColumn("hi", col("bucket").cast("double") * binWidth)
      .orderBy("bucket")

  /** Client activity quartiles: ntile(4) over per-client counts — the
    * windowed ranking family (ntile buckets are defined identically in
    * Spark and DuckDB: floor-division remainder spread over the leading
    * buckets, deterministic given a total order). */
  def clientQuartiles(prep: DataFrame): DataFrame = {
    val counts = prep.groupBy("client").agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(byCount("cnt", Seq("client")): _*)
    counts.withColumn("quartile", ntile(4).over(w))
      .groupBy("quartile")
      .agg(count(lit(1)).as("n_clients"), sum("cnt").as("total_events"))
      .orderBy("quartile")
  }

  /** Set operations over the client dimension: Day-only clients
    * (EXCEPT) and both-period clients (INTERSECT). Spark compiles both
    * to aggregates/anti-semi joins over the DISTINCT client sets —
    * |clients|-sized inputs, never the fact table twice at full width. */
  def dayOnlyClients(prep: DataFrame): DataFrame = {
    val day = prep.filter(col("day_period") === "Day").select("client")
    val night = prep.filter(col("day_period") === "Night").select("client")
    day.except(night).orderBy("client")
  }

  def bothPeriodClients(prep: DataFrame): DataFrame = {
    val day = prep.filter(col("day_period") === "Day").select("client")
    val night = prep.filter(col("day_period") === "Night").select("client")
    day.intersect(night).orderBy("client")
  }

  /** A12: most diverse client = argmax of countDistinct(domain) per client
    * (reference: stats.py:424-431). */
  def diverseClient(prep: DataFrame): DataFrame =
    topK(prep.groupBy("client").agg(countDistinct(col("domain")).as("n_domains")),
      1, "n_domains", "client")

  /** A13: reply-time stats in ms — mean/max/min of abs(reply_time)*1000
    * rounded to 3, nulls skipped, 0.0 sentinels when all-null
    * (reference: stats.py:446-455; abs() here but NOT in A14 — quirk). */
  def replyStats(prep: DataFrame): DataFrame = aggOf(prep.groupBy(), replyMsCols)

  /** A14 unscaled: slowest domain by raw mean reply_time — the form the
    * reference stores (stats.py:457-467, no ms scaling — quirk). */
  def slowestDomainRaw(prep: DataFrame): DataFrame =
    topK(domainMeanReply(prep), 1, "avg_reply", "domain")

  /** Mean raw reply_time per domain with any reply time: A14's candidates. */
  private def domainMeanReply(prep: DataFrame): DataFrame =
    prep.filter(col("reply_time").isNotNull).groupBy("domain").agg(avg(col("reply_time")).as("avg_reply"))

  /** A14: slowest domain by mean reply_time — no abs(), matching the
    * reference asymmetry (stats.py:457-467). */
  def slowestDomain(prep: DataFrame): DataFrame =
    slowestDomainRaw(prep)
      .select(col("domain"), round(col("avg_reply") * 1000, 3).as("avg_reply_ms"))

  /** A15: average reply time per date, ms (reference: plot.py:77-82). */
  def replyByDate(prep: DataFrame): DataFrame = replyMsByDate(prep).orderBy("date")

  /** The unsorted A15 frame (date, avg_reply_ms); the dashboard's reply
    * chart reads it as is. */
  private[graft] def replyMsByDate(prep: DataFrame): DataFrame =
    prep.groupBy("date").agg(dateReplyMs.as("avg_reply_ms"))

  /** A15's measure: mean reply_time in ms, rounded to 3, NULL when all null. */
  private def dateReplyMs: Column = round(avg(col("reply_time")) * 1000, 3)

  /** Beyond-reference OLAP: daily × status rollup — subtotal rows per
    * date and a grand total in one pass (Catalyst expands grouping sets;
    * still a single shuffle). Null grouping keys are coalesced to a
    * sentinel so the result is join/compare-friendly. */
  def rollupDaily(prep: DataFrame): DataFrame =
    prep.rollup(col("date"), col("status_type")).agg(count(lit(1)).as("cnt"))
      .select(
        coalesce(col("date").cast("string"), lit("ALL")).as("date_k"),
        coalesce(col("status_type"), lit("ALL")).as("status_k"), col("cnt"))
      .orderBy("date_k", "status_k")

  /** Beyond-reference OLAP: full cube over (day_period, status_type) —
    * all 2² grouping combinations in one aggregate. */
  def cubePeriodStatus(prep: DataFrame): DataFrame =
    prep.cube(col("day_period"), col("status_type")).agg(count(lit(1)).as("cnt"))
      .select(
        coalesce(col("day_period"), lit("ALL")).as("period_k"),
        coalesce(col("status_type"), lit("ALL")).as("status_k"), col("cnt"))
      .orderBy("period_k", "status_k")

  /** A22/W5: mean inter-arrival seconds per class (reference:
    * stats.py:382-388 — mean of diff() over each class's time-ordered
    * subset). The consecutive-gap sum TELESCOPES: Σ(tᵢ−tᵢ₋₁) over a
    * class's sorted events is max(t)−min(t), so the mean gap is
    * (max−min)/(n−1) — a plain aggregate, no window, no sort. The
    * earlier per-class lag-window form was the facade's scale ceiling: a
    * Window partitioned only by status_type funnels EVERY row of a class
    * into one task's sort (measured 96 s of a 149 s facade run at 30 M
    * rows; this form removes it entirely). Equality is exact, not
    * approximate: the old double-accumulated avg equals (max−min)/(n−1)
    * bit-for-bit while the gap sum is below 2^53 µs (~285 years), and
    * the telescoped form stays exact beyond that. Tie order within equal
    * timestamps never matters — the sum collapses regardless. */
  def interArrival(prep: DataFrame): DataFrame =
    meanGaps(prep).select(col("status_type"), round(col("mean_gap_s"), 4).as("mean_gap_s"))
      .orderBy("status_type")

  /** The unsorted A22 means, sorted by each form after its projection. */
  private def meanGaps(prep: DataFrame): DataFrame = {
    val mean = (max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
      .cast("double") / (count(lit(1)) - 1) / 1e6
    prep.filter(col("status_type").isin("Allowed", "Blocked"))
      .groupBy("status_type")
      .agg(mean.as("mean_gap_s"), count(lit(1)).as("n"))
      .filter(col("n") > 1) // a 0/1-event class has no gaps to average
      .drop("n")
  }

  /** Beyond-reference: reply-time distribution — exact interpolated
    * percentiles (both engines implement the same linear interpolation,
    * values rounded for cross-engine compare). At 100 TB swap `percentile`
    * for `percentile_approx` (t-digest style sketch, single pass,
    * constant memory) — same query shape. */
  def replyPercentiles(prep: DataFrame): DataFrame =
    prep.filter(col("reply_time").isNotNull)
      .agg(
        round(expr("percentile(reply_time, 0.5)") * 1000, 4).as("p50_ms"),
        round(expr("percentile(reply_time, 0.9)") * 1000, 4).as("p90_ms"),
        round(expr("percentile(reply_time, 0.99)") * 1000, 4).as("p99_ms"))

  /** A22 without display rounding — the raw mean the reference stores in
    * `avg_time_between_*` (stats.py:382-388). Same telescoped aggregate
    * as [[interArrival]]. */
  def interArrivalRaw(prep: DataFrame): DataFrame = meanGaps(prep).orderBy("status_type")

  /** Bag-semantics set difference: each client's Day events minus Night
    * events AS A MULTISET — a client with 7 Day and 3 Night events
    * survives 4 times (u02's EXCEPT collapses to distinct clients).
    * Spark compiles exceptAll to a Union + replicate-rows aggregate,
    * never a join explosion. */
  def dayMinusNightBag(prep: DataFrame): DataFrame =
    prep.filter(col("day_period") === "Day").select("client")
      .exceptAll(prep.filter(col("day_period") === "Night").select("client"))
      .groupBy("client").agg(count(lit(1)).as("surplus"))
      .orderBy("client")

  /** Single-pass argmax: the top domain per status class via `max_by`
    * over the (status, domain) counts — one aggregate instead of the
    * sort/window+filter the other top-1 queries use; at |groups| scale
    * the difference is a full sort of the counts relation vs a running
    * max. max_by's tie behavior is engine-unspecified, so the ordering
    * key EMBEDS the tie-break: zero-padded count then domain, making
    * "greatest count, then greatest domain" total on both engines. */
  def argmaxDomainSinglePass(prep: DataFrame): DataFrame = {
    val counts = prep.groupBy("status_type", "domain").agg(count(lit(1)).as("cnt"))
    val ordKey = concat(lpad(col("cnt").cast("string"), 12, "0"), col("domain"))
    counts.groupBy("status_type")
      .agg(max_by(col("domain"), ordKey).as("top_domain"), max("cnt").as("cnt"))
      .orderBy("status_type")
  }

  /** Status-transition matrix: for each client's time-ordered event
    * sequence, count (previous status → current status) pairs and the
    * per-source transition probability — the Markov-chain view of the
    * event stream (and the shape sequence-model training data prep
    * uses). The lag window partitions by client (parallel; order is
    * per-client only), the pair count is a map-side-combined aggregate
    * over ≤ |statuses|² groups, and the row-probability denominator is
    * a window over that tiny aggregate — nothing order-dependent ever
    * sees more than one client's rows. */
  def transitionMatrix(prep: DataFrame): DataFrame = {
    val w = Window.partitionBy("client").orderBy("ts", "id")
    val pairs = prep
      .select(col("client"), col("status_type").as("to_status"),
        lag(col("status_type"), 1).over(w).as("from_status"))
      .filter(col("from_status").isNotNull)
      .groupBy("from_status", "to_status").agg(count(lit(1)).as("n"))
    val wFrom = Window.partitionBy("from_status")
    pairs.select(col("from_status"), col("to_status"), col("n"),
        round(col("n").cast("double") / sum("n").over(wFrom), 6).as("p"))
      .orderBy("from_status", "to_status")
  }

  /** rank / dense_rank over per-client activity — the gapped and
    * gapless ranking pair (row_number appears throughout the top-k
    * queries; these two complete the ranking family). Ordered by count
    * alone so TIED clients share a rank — the semantics under test; the
    * output is still deterministic because equal keys get equal ranks
    * and the final sort is total. */
  def clientRankTies(prep: DataFrame): DataFrame = {
    val counts = prep.groupBy("client").agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(desc("cnt"))
    counts.select(col("client"), col("cnt"),
        rank().over(w).cast("int").as("rnk"),
        dense_rank().over(w).cast("int").as("drnk"))
      .orderBy("client")
  }

  /** Explicit GROUPING SETS — the general grouping-set form beyond
    * rollup (a24, prefix lattice) and cube (a25, full lattice): exactly
    * the requested sets ((date), (status_type), ()) computed in ONE scan
    * with a single expand+aggregate, where three separate queries would
    * scan three times. `grouping_id` disambiguates which set produced a
    * row (bit = 1 means the column was aggregated away). */
  def groupingSetsDailyStatus(prep: DataFrame): DataFrame =
    prep.groupingSets(
        Seq(Seq(col("date")), Seq(col("status_type")), Seq()),
        col("date"), col("status_type"))
      .agg(count(lit(1)).as("cnt"),
        grouping_id().cast("int").as("gid"))
      .orderBy(asc_nulls_first("date"), asc_nulls_first("status_type"))

  /** Exponentially-weighted moving average of the daily count series,
    * per status class — the time-series smoothing layer a monitoring
    * dashboard puts over A7's raw counts. EWMA is a RECURRENCE
    * (y_t = α·x_t + (1−α)·y_{t−1}), which no SQL window frame can
    * express — Spark's window aggregates cannot reference their own
    * previous output. The idiomatic escape hatch (before reaching for a
    * custom Expression) is a higher-order-function fold: collect each
    * group's already-tiny daily series into an ordered array and run
    * `aggregate` over it, appending each step's smoothed value.
    *
    * Scale shape: the fold is PER GROUP over a bounded series (one
    * element per day — 365 rows/year/group), parallel across groups,
    * after a map-side-combined daily pre-aggregate has reduced the fact
    * table by ~|rows/day|. The group cardinality (status classes, or
    * clients in a per-client variant) carries the parallelism; the
    * series length is the only sequential dimension, exactly as the
    * recurrence demands. The oracle mirrors the fold step-for-step with
    * a recursive CTE — same multiply-add order, so the doubles match
    * bit-for-bit before the final display round. */
  def ewmaDaily(prep: DataFrame, alpha: Double = 0.3): DataFrame = {
    val daily = prep.groupBy("status_type", "date")
      .agg(count(lit(1)).cast("double").as("cnt"))
    daily.groupBy("status_type")
      .agg(array_sort(collect_list(struct(col("date"), col("cnt")))).as("series"))
      .select(col("status_type"), explode(expr(
        s"""aggregate(series,
           |  cast(array() as array<struct<date:date,ewma:double>>),
           |  (acc, x) -> array_append(acc, named_struct(
           |    'date', x.date,
           |    'ewma', if(size(acc) = 0, x.cnt,
           |               $alpha * x.cnt + ${1 - alpha} * element_at(acc, -1).ewma))))"""
          .stripMargin)).as("e"))
      .select(col("status_type"), col("e.date").as("date"),
        round(col("e.ewma"), 6).as("ewma"))
      .orderBy("status_type", "date")
  }

  /** Rolling z-score anomaly flags over the per-status daily series —
    * the alerting extension of the reference's daily time-series family
    * (stats.py:154-185 argmaxes over these counts; an operator that
    * FLAGS unusual days is the natural next ask of a long-term-stats
    * dashboard). Each day is scored against the mean/stddev of the
    * `lookback` PRECEDING days only (trailing window, current row
    * excluded), so a spike cannot suppress its own detection; days
    * whose trailing window has < 3 points or zero variance emit a NULL
    * z-score rather than a fake 0.
    *
    * Scale shape: the window runs over the DAILY aggregate (365 rows/
    * year/status), partitioned by status_type — the fact table is
    * reduced by a map-side-combined groupBy first, and no global-order
    * window ever sees row-scale data. */
  def dailyAnomalies(prep: DataFrame, lookback: Int = 7,
                     zThreshold: Double = 2.0): DataFrame =
    dailyAnomaliesFrom(
      prep.groupBy("status_type", "date")
        .agg(count(lit(1)).cast("double").as("cnt")),
      lookback, zThreshold)

  /** The scoring stage over an ALREADY-AGGREGATED (status_type, date,
    * cnt double) series — lets the serve layer score its cached hourly
    * rollup (re-summed to days) without touching the fact source. */
  def dailyAnomaliesFrom(daily: DataFrame, lookback: Int = 7,
                         zThreshold: Double = 2.0): DataFrame = {
    val w = Window.partitionBy("status_type").orderBy("date")
      .rowsBetween(-lookback, -1)
    daily.select(col("status_type"), col("date"), col("cnt").cast("long").as("cnt"),
        count(col("cnt")).over(w).as("_n"),
        avg(col("cnt")).over(w).as("_mean"),
        stddev_samp(col("cnt")).over(w).as("_sd"))
      .withColumn("z_score",
        when(col("_n") >= 3 && col("_sd") > 0,
          round((col("cnt") - col("_mean")) / col("_sd"), 6)))
      .withColumn("is_anomaly",
        coalesce(abs(col("z_score")) > zThreshold, lit(false)))
      .select(col("status_type"), col("date"), col("cnt"),
        round(col("_mean"), 6).as("trailing_mean"), col("z_score"), col("is_anomaly"))
      .orderBy("status_type", "date")
  }

  /** Relative-standing analytics over per-client activity: percent_rank
    * (share of clients strictly below) and cume_dist (share at-or-below)
    * — the ranking-family members a27's ntile does not cover. Both are
    * rank-function rewrites over one ordered pass of the |clients|-sized
    * aggregate; ties share a value, so the output is shuffle-order-
    * independent given the deterministic (cnt, client) sort. */
  def clientRankDist(prep: DataFrame): DataFrame = {
    val counts = prep.groupBy("client").agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(asc("cnt"), asc("client"))
    counts.select(col("client"), col("cnt"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cum_dist"))
      .orderBy("client")
  }
}
