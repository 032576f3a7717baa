package graft.serve

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CLI entry for the serving loop — flag-for-flag the reference's
  * entrypoint (app.py:40-91: `--days --db_path --port --n_clients
  * --n_domains --timezone --ignore_domains`, each with a
  * `PIHOLE_LT_STATS_*` env fallback). Point it at an FTL SQLite `.db`
  * (read natively, WAL replayed; comma-separate multiple files for the
  * reference's multi-DB union) or a testdata dir (parquet `events/`),
  * and it computes the hourly rollup once, then serves the interactive
  * dashboard from the cache. `POST /reload` re-reads the source (the
  * reference's reload button); `GET /dashboard` renders the full static
  * chart set.
  *
  * Back-compat positional form: `ServeMain <source> [port]`.
  */
object ServeMain {

  final case class Opts(source: String, port: Int, days: Int,
                        nClients: Int, nDomains: Int, timezone: String,
                        ignoreDomains: Seq[String])

  /** argparse-shaped: `--flag value` pairs with env-var defaults
    * (app.py:43-91); bare positionals keep the old `<source> [port]`
    * form working. */
  private[serve] def parseOpts(args: Array[String],
                               env: Map[String, String]): Opts = {
    def envOr(key: String, dflt: String) = env.getOrElse("PIHOLE_LT_STATS_" + key, dflt)
    var opts = Map.empty[String, String]
    var positional = Vector.empty[String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (a.startsWith("--")) {
        require(i + 1 < args.length, s"missing value for $a")
        opts += (a.drop(2).replace('-', '_') -> args(i + 1)); i += 2
      } else { positional :+= a; i += 1 }
    }
    val source = opts.getOrElse("db_path",
      positional.headOption.getOrElse(envOr("DB_PATH", "pihole-FTL.db")))
    val port = opts.get("port").orElse(positional.lift(1))
      .getOrElse(envOr("PORT", "9292")).toInt
    Opts(
      source = source,
      port = port,
      days = opts.getOrElse("days", envOr("DAYS", "31")).toInt,
      nClients = opts.getOrElse("n_clients", envOr("NCLIENTS", "10")).toInt,
      nDomains = opts.getOrElse("n_domains", envOr("NDOMAINS", "10")).toInt,
      timezone = opts.getOrElse("timezone", envOr("TIMEZONE", "UTC")),
      ignoreDomains = opts.getOrElse("ignore_domains", envOr("IGNORE_DOMAINS", ""))
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq)
  }

  /** True iff `path` is a hive date-partitioned directory (the layout
    * [[graft.sources.Sinks.writeDatePartitioned]] writes). Local listing
    * is fine for the CLI; a cluster deployment would point at the same
    * layout through its catalog. */
  private[serve] def isDatePartitioned(path: String): Boolean = {
    val d = new java.io.File(path)
    val kids = if (d.isDirectory) d.listFiles() else null
    kids != null && kids.exists(f => f.isDirectory && f.getName.startsWith("date="))
  }

  /** The serving load path — shared by startup and every `/reload`, so
    * the date-picker range and the `--days` default flow through ONE
    * window computation ([[graft.sources.FtlIngest.timeRangeEpochs]]:
    * display-TZ midnights, end-exclusive +1 day; db.py:84-102).
    *
    * Three source shapes:
    *   - FTL SQLite `.db` (comma-separated for multi-DB union): the
    *     window reaches the page reader as an epoch range.
    *   - date-partitioned parquet (`date=.../`, written by
    *     `Sinks.writeDatePartitioned`): exact semantics ride the `ts`
    *     predicate; a WIDENED `date` predicate (±1 day — covers any
    *     display-TZ offset vs the layout's session-TZ dates) is what
    *     prunes partition directories at PLANNING time, so a `--days`
    *     window never lists out-of-window files. Pinned in ServeSpec.
    *   - flat demo/testdata parquet: full range unless an explicit
    *     start/end was given (the fixture's 2024 timestamps sit outside
    *     any recent `--days` window).
    *
    * `nowUtc` is injectable so tests can pin the `--days` window onto
    * fixture data. */
  private[serve] def loadPrep(spark: SparkSession, o: Opts,
                              start: Option[LocalDate], end: Option[LocalDate],
                              nowUtc: java.time.Instant = java.time.Instant.now()): DataFrame = {
    // a parquet reload re-lists the files: refresh what an earlier load
    // cached over this path, else an equal plan (the same window) would
    // be answered from that load's cached rows
    if (!o.source.endsWith(".db")) spark.catalog.refreshByPath(o.source)
    if (o.source.endsWith(".db")) {
      val (from, to) = graft.sources.FtlIngest.timeRangeEpochs(
        start, end, o.days, o.timezone, nowUtc)
      graft.Engine.loadSqlite(spark, o.source.split(",").map(_.trim).toSeq,
        from, to, o.ignoreDomains)
    } else if (isDatePartitioned(o.source)) {
      val (from, to) = graft.sources.FtlIngest.timeRangeEpochs(
        start, end, o.days, o.timezone, nowUtc)
      val dLo = java.sql.Date.valueOf(
        java.time.Instant.ofEpochSecond(from).atZone(java.time.ZoneOffset.UTC).toLocalDate.minusDays(1))
      val dHi = java.sql.Date.valueOf( // `to` is exclusive → widen from its last covered second
        java.time.Instant.ofEpochSecond(to - 1).atZone(java.time.ZoneOffset.UTC).toLocalDate.plusDays(1))
      // partition-prune on `date` BEFORE normalizing ts (a cast on ts
      // would not block date pruning, but keeping the raw-column filter
      // first keeps the ts range pushdown too when the encoding is native)
      val windowed = graft.Tables.normalizeTs(
          spark.read.parquet(o.source)
            .filter(col("date") >= lit(dLo) && col("date") <= lit(dHi)))
        .filter(col("ts") >= timestamp_seconds(lit(from)) &&
                col("ts") < timestamp_seconds(lit(to)))
      graft.Preprocess.regexAntiFilter(windowed, "domain", o.ignoreDomains)
    } else {
      val prep = graft.Preprocess.preprocessEvents(graft.Tables.events(spark, o.source))
      val windowed = (start, end) match {
        case (Some(_), Some(_)) =>
          val (from, to) = graft.sources.FtlIngest.timeRangeEpochs(
            start, end, o.days, o.timezone, nowUtc)
          prep.filter(col("ts") >= timestamp_seconds(lit(from)) &&
                      col("ts") < timestamp_seconds(lit(to)))
        case _ => prep
      }
      graft.Preprocess.regexAntiFilter(windowed, "domain", o.ignoreDomains)
    }
  }

  def main(args: Array[String]): Unit = {
    val o = parseOpts(args, sys.env)
    val spark = graft.Session.serving("graft-serve")
    // rebuilt per reload: a fresh read re-lists the source files, so the
    // reload button picks up rows written since the last build; an
    // explicit ?start=&end= re-slices to the date-picker window
    def mkCache(s: Option[LocalDate], e: Option[LocalDate]) =
      new ServingCache(loadPrep(spark, o, s, e), o.nClients)
    val cache = mkCache(None, None)
    val server = new StatsServer(cache, o.port,
      rebuild = (s, e) => mkCache(s, e),
      // rendered from the CURRENT cache's relation: a reload updates the
      // static dashboard and the interactive figures together
      dashboardHtml = c => graft.figures.Figures.dashboard(c.prep, o.nClients, o.nDomains,
        timezone = o.timezone))
    println(s"serving on http://127.0.0.1:${server.boundPort}/ " +
      s"(${cache.topClients.size} top clients cached; Ctrl-C to stop)")
    Thread.currentThread().join() // serve until killed
  }
}
