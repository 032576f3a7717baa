package graft.serve

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import scala.util.control.NonFatal

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.figures.Figures
import graft.operators.PlotData

/** The reference's interactive serving loop, Spark-side: the hourly
  * rollup + top-client list are computed ONCE per load and cached; every
  * client-filter interaction re-slices the CACHED relation — the source
  * files are never touched again (reference: `PHLTS_CALLBACK_DATA` built
  * once in process.py:86-113, re-sliced per callback in app.py:1107-1136
  * and plot.py:175-187, 282-294).
  *
  * Each figure draws the one definition of its chart in
  * [[graft.operators.PlotData]] over [[hourly]]. The static dashboard
  * draws the same three over an equal plan, so with a cache open its
  * time-series charts read the cached rollup too.
  *
  * The loaded relation `prep` is cached too (the reference's FTL frame,
  * loaded once in app.py:144-178) unless it is read from files
  * (parquet): the SQLite page reader decodes row at a time, so every
  * stat and chart job of a dashboard refresh would re-parse the whole
  * file, while a parquet re-scan is columnar with pushdown, and caching
  * a large parquet relation costs more than the re-scans it saves
  * (FacadeBench at 3 M and 10 M rows, CHANGES.md). `prep` itself is
  * persisted, not a re-derived copy: Spark's CacheManager matches cached
  * data by logical plan, so `cache.prep`, the caller's own frame,
  * [[graft.Engine.computeStats]] and [[graft.figures.Figures.dashboard]]
  * all read the one in-memory copy.
  *
  * Because matching is by plan, two caches over an equal plan (a parquet
  * reload over the same window) share one cache entry. Each cache takes a
  * HOLD on the entries it uses (see the companion); an entry is
  * unpersisted when its last hold is released, so closing the old cache
  * after a reload leaves the new one cached. A frame the caller persisted
  * itself (cached, and held by no cache) is used as is and left persisted
  * on [[close]].
  *
  * The cached rollup is sized to the cores, not to
  * `spark.sql.shuffle.partitions` (see
  * [[graft.operators.PlotData.hourlyView]]).
  *
  * Jobs carry a description per step: `cache:build` for the constructor,
  * `slice:queries`, `slice:activity` and `slice:anomalies` for the figure
  * callbacks.
  */
final class ServingCache(val prep: DataFrame, nClients: Int = 10) extends AutoCloseable {
  import ServingCache.{fileBacked, hold, release}

  /** The cache entries this instance holds, released on [[close]]. */
  private val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** The cached hourly rollup (ts_hour, status_type, client, cnt) —
    * materialized eagerly (after `prep`, when that is cached), so neither
    * the first interaction nor the first dashboard render pays the scan. */
  val hourly: DataFrame = PlotData.hourlyView(prep)

  /** Top clients by total queries (process.py:107-108) — collected once;
    * at most |nClients| strings of driver data. A NULL client that ranks
    * in the top k is dropped, as the activity chart drops it, so the
    * client list, the page's options and the activity title name only
    * clients a filter can select. Computed last in the constructor:
    * a build that fails at any step (e.g. a corrupt page) releases every
    * hold it took and leaves nothing cached. */
  val topClients: Seq[String] =
    try labelled("cache:build") {
      for (df <- if (fileBacked(prep)) Seq(hourly) else Seq(prep, hourly)) {
        if (hold(df)) held += df
        df.count()
      }
      PlotData.topClients(prep, nClients).collect().flatMap(r => Option(r.getString(0))).toSeq
    } catch {
      case NonFatal(e) => close(); throw e
    }

  /** Queries-over-time slice (plot.py:175-187): per-client when a filter
    * is set, summed over all clients otherwise. Both branches read ONLY
    * [[hourly]], and the cap bounds the collect at any span (ServeSpec
    * pins both). */
  def queriesOverTime(client: Option[String]): DataFrame =
    PlotData.statusSeries(sliced(client))

  private def labelled[T](label: String)(body: => T): T =
    graft.Engine.labelled(prep.sparkSession, label)(body)

  /** [[hourly]] for one client; every client without a filter. */
  private def sliced(client: Option[String]): DataFrame =
    client.fold(hourly)(c => hourly.filter(col("client") === c))

  /** Client-activity slice (plot.py:282-294): the filtered client, or the
    * cached top-`nClients` list when no filter is set. Bounded like
    * [[queriesOverTime]]. */
  def clientActivity(client: Option[String]): DataFrame =
    PlotData.clientSeries(hourly, client.fold(topClients)(Seq(_)))

  /** SVG figure for the queries-over-time callback (app.py:1107-1117). */
  def queriesFigure(client: Option[String]): String = labelled("slice:queries") {
    Figures.lineChart(client.fold("DNS Queries Over Time for All Clients")(c =>
      s"DNS Queries Over Time for $c"), Figures.lineSeries(queriesOverTime(client)))
  }

  /** SVG figure for the client-activity callback (app.py:1120-1136). */
  def activityFigure(client: Option[String]): String = labelled("slice:activity") {
    Figures.lineChart(client.fold(s"Activity for top ${topClients.size} clients")(c =>
      s"Activity for $c"), Figures.lineSeries(clientActivity(client)))
  }

  /** Daily anomaly slice computed FROM THE CACHE
    * ([[graft.operators.PlotData.dailyAnomaliesOf]] over [[hourly]]) —
    * the fact source is never re-read, same invariant as every other
    * slice. */
  def dailyAnomalies(client: Option[String]): DataFrame =
    PlotData.dailyAnomaliesOf(sliced(client))

  /** SVG figure: daily volume with anomaly rings (the w09 chart, per
    * client filter). */
  def anomaliesFigure(client: Option[String]): String = labelled("slice:anomalies") {
    val (series, rings) = Figures.boundedAnomalySeries(dailyAnomalies(client))
    val title = client.fold("Daily volume with anomaly flags")(c =>
      s"Daily volume with anomaly flags for $c")
    Figures.lineChart(title, series, markers = rings)
  }

  override def close(): Unit = {
    held.reverseIterator.foreach(release)
    held.clear()
  }
}

object ServingCache {

  /** One element per hold: every frame a live [[ServingCache]] took a
    * hold on, including several with equal plans (which share one
    * CacheManager entry). */
  private val holds = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** True iff every source under `df` is a file scan (parquet): such a
    * relation is re-scanned, not cached. */
  private def fileBacked(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves().forall {
      case r: LogicalRelation => r.relation.isInstanceOf[HadoopFsRelation]
      case _ => false
    }

  /** The CacheManager's own test: equal analyzed plans share an entry. */
  private def samePlan(a: DataFrame, b: DataFrame): Boolean =
    a.queryExecution.analyzed.sameResult(b.queryExecution.analyzed)

  /** Takes a hold on `df`'s cache entry, persisting it when it is not
    * cached. False (no hold) when the entry belongs to the caller: cached,
    * but held by no live cache. */
  private def hold(df: DataFrame): Boolean = synchronized {
    val shared = holds.exists(samePlan(_, df))
    if (!shared && df.storageLevel != StorageLevel.NONE) false
    else {
      if (df.storageLevel == StorageLevel.NONE) df.persist(StorageLevel.MEMORY_AND_DISK)
      holds += df
      true
    }
  }

  /** Releases one hold on `df`; the entry is unpersisted with its last. */
  private def release(df: DataFrame): Unit = synchronized {
    val i = holds.indexWhere(_ eq df)
    if (i >= 0) {
      holds.remove(i)
      if (!holds.exists(samePlan(_, df))) df.unpersist(blocking = false)
    }
  }
}

/** Minimal HTTP server over a [[ServingCache]] — the Dash app's callback
  * loop without the Dash dependency (JDK built-in `com.sun.net.httpserver`;
  * zero added libraries). Endpoints:
  *
  *   - `GET /`                      the interactive page: client dropdown
  *                                  + both figures (inline SVG)
  *   - `GET /queries?client=<c>`    queries-over-time figure (SVG)
  *   - `GET /activity?client=<c>`   client-activity figure (SVG)
  *   - `GET /anomalies?client=<c>`  daily volume + anomaly rings (SVG)
  *   - `GET /clients`               the cached top-client list (JSON)
  *   - `POST /reload[?start=YYYY-MM-DD&end=YYYY-MM-DD]`
  *                                  rebuild the cache from source (the
  *                                  reference's reload button — the one
  *                                  interaction that IS a full re-read,
  *                                  app.py:1056-1104); with `start`/`end`
  *                                  it is the date-picker reload
  *                                  (app.py:1091-1102 → db.py:84-102):
  *                                  both dates are display-TZ midnights,
  *                                  end-EXCLUSIVE +1 day — the factory
  *                                  receives the parsed LocalDates and
  *                                  re-scans that window. Requires a
  *                                  `rebuild` factory, else 409; a
  *                                  malformed or half-open range is 400;
  *                                  a rebuild that throws is 500, and
  *                                  the old cache keeps serving.
  *
  * A parameter with a malformed percent-escape answers 400 on every
  * endpoint. Omitting `client` = the all-clients / top-N view, exactly the
  * reference's `client=None` branch. Each request re-slices the cache;
  * only an explicit reload re-reads the source. `/dashboard` renders
  * from the CURRENT cache's relation, so a reload updates the static
  * page and the interactive figures consistently.
  */
final class StatsServer(initial: ServingCache, port: Int = 0,
                        rebuild: (Option[java.time.LocalDate], Option[java.time.LocalDate]) => ServingCache = null,
                        dashboardHtml: ServingCache => String = null) extends AutoCloseable {

  @volatile private var cache: ServingCache = initial

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)

  /** The port actually bound (pass 0 to pick an ephemeral one). */
  def boundPort: Int = server.getAddress.getPort

  /** A malformed percent-escape (`%zz`, a truncated `%2`) answers 400
    * naming the parameter. The JDK server already refuses a request URI
    * with one (400 before any handler runs); this keeps `param` total
    * whatever server runs it. */
  private def param(ex: HttpExchange, name: String): Option[String] =
    Option(ex.getRequestURI.getRawQuery).flatMap(_.split('&').collectFirst {
      case kv if kv.startsWith(name + "=") =>
        try java.net.URLDecoder.decode(kv.drop(name.length + 1), "UTF-8")
        catch {
          case e: IllegalArgumentException => throw new HttpError(400,
            s"malformed percent-escape in parameter '$name': ${e.getMessage}")
        }
    }).filter(_.nonEmpty)

  private def clientOf(ex: HttpExchange): Option[String] = param(ex, "client")

  private def respond(ex: HttpExchange, contentType: String, body: String,
                      code: Int = 200): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType + "; charset=utf-8")
    ex.sendResponseHeaders(code, bytes.length)
    try ex.getResponseBody.write(bytes) finally ex.close()
  }

  /** Registers `handler` on `path`; a handler that throws (a failed
    * rebuild, scan or render) answers 500 with the exception's message
    * instead of dropping the connection; an [[HttpError]] answers its own
    * 4xx. The cache is swapped only after a rebuild succeeds, so the old
    * one keeps serving. */
  private def route(path: String)(handler: HttpExchange => Unit): Unit =
    server.createContext(path, (ex: HttpExchange) =>
      try handler(ex)
      catch {
        case e: HttpError => respond(ex, "text/plain", e.getMessage, e.code)
        case NonFatal(e) =>
          respond(ex, "text/plain", Option(e.getMessage).getOrElse(e.toString), 500)
      })

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")

  route("/reload") { ex =>
    if (rebuild == null) throw new HttpError(409, "no rebuild factory configured")
    // the date-picker range (app.py:1091-1102): both-or-neither, each a
    // display-TZ calendar date; the factory owns the end-exclusive +1 day
    // (FtlIngest.timeRangeEpochs, mirroring db.py:84-102)
    def date(name: String) = param(ex, name).map { v =>
      try java.time.LocalDate.parse(v)
      catch {
        case _: java.time.format.DateTimeParseException =>
          throw new HttpError(400, "dates must be YYYY-MM-DD")
      }
    }
    val (start, end) = (date("start"), date("end"))
    if (start.isDefined != end.isDefined)
      throw new HttpError(400, "start and end must be given together")
    // build the fresh cache BEFORE swapping: in-flight requests keep
    // reading the old one, and a failed rebuild leaves it serving
    val fresh = rebuild(start, end)
    val old = cache
    cache = fresh
    old.close()
    respond(ex, "application/json",
      s"""{"reloaded":true,"top_clients":${fresh.topClients.size}}""")
  }
  if (dashboardHtml != null)
    route("/dashboard") { ex =>
      // the full static chart set, rendered from the CURRENT cache's
      // relation — a reload (incl. a date-range reload) changes this page
      // and the interactive figures together
      respond(ex, "text/html", dashboardHtml(cache))
    }
  route("/queries")(ex => respond(ex, "image/svg+xml", cache.queriesFigure(clientOf(ex))))
  route("/activity")(ex => respond(ex, "image/svg+xml", cache.activityFigure(clientOf(ex))))
  route("/anomalies")(ex => respond(ex, "image/svg+xml", cache.anomaliesFigure(clientOf(ex))))
  route("/clients") { ex =>
    respond(ex, "application/json",
      cache.topClients.map(c => "\"" + esc(c) + "\"").mkString("[", ",", "]"))
  }
  route("/") { ex =>
    val client = clientOf(ex)
    val options = ("" +: cache.topClients).map { c =>
      val sel = if (client.contains(c) || (c.isEmpty && client.isEmpty)) " selected" else ""
      val label = if (c.isEmpty) "All clients" else c
      s"""<option value="${esc(c)}"$sel>${esc(label)}</option>"""
    }.mkString
    // the date-picker (reference app.py:987-1000, wired app.py:1091-1102):
    // two calendar dates submitted to the existing /reload endpoint —
    // both-or-neither validation and the end-exclusive +1 day live
    // server-side, shared with programmatic reloads
    val datePicker =
      if (rebuild == null) ""
      else
        """<form id="range" onsubmit="reloadRange(event)">
          |  <label>From <input type="date" name="start"></label>
          |  <label>To <input type="date" name="end"></label>
          |  <button type="submit">Reload range</button>
          |</form>
          |<script>
          |function reloadRange(e){e.preventDefault();
          |  var f=document.getElementById('range');
          |  fetch('/reload?start='+f.start.value+'&end='+f.end.value)
          |    .then(function(r){if(r.ok)location.reload();
          |      else r.text().then(function(m){alert(m);});});}
          |</script>""".stripMargin
    val page =
      s"""<!DOCTYPE html><html><head><meta charset="utf-8">
         |<title>Pi-hole long-term stats</title></head><body>
         |<h1>Pi-hole long-term stats</h1>
         |<form method="get" action="/">
         |  <label>Client filter: <select name="client" onchange="this.form.submit()">
         |  $options</select></label>
         |</form>
         |$datePicker
         |${cache.queriesFigure(client)}
         |${cache.activityFigure(client)}
         |${cache.anomaliesFigure(client)}
         |</body></html>""".stripMargin
    respond(ex, "text/html", page)
  }

  server.setExecutor(null) // serve on the caller's accept thread pool
  server.start()

  override def close(): Unit = server.stop(0)
}

/** A request the client got wrong: [[StatsServer]] answers `code` with `msg`. */
private final class HttpError(val code: Int, msg: String) extends RuntimeException(msg)
