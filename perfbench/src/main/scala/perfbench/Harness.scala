package perfbench

import java.lang.management.ManagementFactory
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.{Duration, Instant, LocalDate}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Engine
import graft.figures.Figures
import graft.serve.{ServingCache, StatsServer}
import graft.sources.FtlIngest

/** The benchmark harness: runs one workload against the program's public
  * surface (`Engine.loadSqlite`, `ServingCache`, `StatsServer` over HTTP,
  * `Figures.dashboard`) inside one JVM, checks every output against the
  * generator's answer file, and prints one `PERFBENCH {...}` line.
  *
  *   Harness --workload refresh|interact --db <ftl.db>
  *           --answers <answers.json> --seconds <n> --trace 0|1
  *           --seed <n> --spans <spans.jsonl> --local-dir <dir> --clk-tck <hz>
  *
  * Workloads (closed loop, local[min(cores, 4)]):
  *   - refresh: one client; each operation is `POST /reload` of the last
  *     31 days, `GET /dashboard` and `GET /clients`.
  *   - interact: two clients over the full 91-day cache: 45% `/queries`,
  *     45% `/activity`, 10% `/anomalies`; 25% without a client filter,
  *     the rest a client drawn Zipf-weighted from every client.
  *
  * With `--trace 1` the run instead makes direct calls into each layer,
  * with spans and Spark listeners, and pairs direct slice calls with the
  * same requests over HTTP, traced and untraced (see `traced`).
  */
object Harness {

  /** Writes the record and the spans. */
  val Json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Args(workload: String, db: String, answers: String, seconds: Int,
                        trace: Boolean, seed: Long, spans: String, localDir: String,
                        clkTck: Int)

  val Workloads: Seq[String] = Seq("refresh", "interact")

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload '$w' (one of ${Workloads.mkString(", ")})")
    Args(w, need("db"), need("answers"), need("seconds").toInt, need("trace") == "1",
      need("seed").toLong, need("spans"), need("local-dir"), m.getOrElse("clk-tck", "100").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = math.min(Runtime.getRuntime.availableProcessors, 4)
    // the serving entry point's session settings, on a bounded local master
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.localDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val bench = new Bench(spark, a, Answers.load(a.answers), cores)
    val record = try bench.run() finally { bench.close(); spark.stop() }
    println("PERFBENCH " + Json.writeValueAsString(record))
  }
}

/** What a traced run's direct pass measured besides its spans. */
final case class Pass(sourcesSysS: Double, rollupRows: Long)

/** The `n`-th request a [[Mix]] drew. */
final case class Request(n: Int, endpoint: String, client: Option[String])

/** One traced-run probe: a request's latency as a direct slice call and
  * over HTTP, traced and untraced (ms), and the rows its figure drew. */
final case class Probe(request: Request, directMs: Double, tracedMs: Double, plainMs: Double,
                       rows: Int)

/** Seeded request mix of the interactive clients, drawn in blocks of 20
  * with a fixed make-up: 9 `/queries`, 9 `/activity` and 2 `/anomalies`,
  * 5 of them (2 / 2 / 1) without a client filter. The seed orders each
  * block and draws each filtered request's client Zipf-weighted from
  * `ranked`, so a short run still sees the stated mix. Shared by the
  * clients of one loop. */
final class Mix(seed: Long, salt: Int, ranked: Seq[String]) {
  private val rng = new java.util.Random(seed * 1000003L + salt)
  private val cum = ranked.indices.map(r => 1.0 / math.pow(r + 1, 1.1)).scanLeft(0.0)(_ + _).tail
  private val block: Seq[(String, Boolean)] =
    Seq(("queries", 9, 2), ("activity", 9, 2), ("anomalies", 2, 1)).flatMap {
      case (endpoint, n, unfiltered) => Seq.tabulate(n)(i => (endpoint, i >= unfiltered))
    }
  private var pending: List[(String, Boolean)] = Nil
  private var drawn = 0

  private def client(): String = {
    val x = rng.nextDouble() * cum.last
    ranked(math.min(cum.indexWhere(_ >= x), ranked.size - 1))
  }

  def next(): Request = synchronized {
    if (pending.isEmpty) {
      val order = new java.util.ArrayList[(String, Boolean)](block.asJava)
      java.util.Collections.shuffle(order, rng)
      pending = order.asScala.toList
    }
    val (endpoint, filtered) = pending.head
    pending = pending.tail
    drawn += 1
    Request(drawn - 1, endpoint, if (filtered) Some(client()) else None)
  }
}

final class Bench(spark: SparkSession, a: Harness.Args, answers: Answers, cores: Int)
    extends AutoCloseable {

  private val now = Instant.ofEpochSecond(answers.now)
  private val homeDays = if (a.workload == "refresh") 31 else 91
  private val home = answers.windows(homeDays)
  private val ranked = answers.windows(91).clients.map(_.client)

  private val attempted = new AtomicLong
  private val failedOps = new AtomicLong
  private val failures = new ConcurrentLinkedQueue[String]()

  /** Count one checked operation; `problem` is None when it was right. */
  private def record(problem: Option[String]): Unit = {
    attempted.incrementAndGet()
    problem.foreach { p =>
      failedOps.incrementAndGet()
      if (failures.size < 20) failures.add(p)
    }
  }

  private def prepOf(start: LocalDate, end: LocalDate): DataFrame = {
    val (from, to) = FtlIngest.timeRangeEpochs(Some(start), Some(end), homeDays, "UTC", now)
    Engine.loadSqlite(spark, Seq(a.db), from, to)
  }

  private def cacheOf(start: LocalDate, end: LocalDate) = new ServingCache(prepOf(start, end), 10)

  // ---- set-up: session (already up), first load + cache, server ----
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  /** The server's first cache; a traced run calls its slices directly. */
  private val served = cacheOf(home.start, home.end)
  private val server = new StatsServer(served, 0,
    rebuild = (s, e) => cacheOf(s.getOrElse(home.start), e.getOrElse(home.end)),
    dashboardHtml = c => Figures.dashboard(c.prep, 10, 10, timezone = "UTC"))
  private val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
  private val base = s"http://127.0.0.1:${server.boundPort}"
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()

  override def close(): Unit = server.close()

  // ---- HTTP operations ----

  /** Set while the traced half of the loop runs: the tracer and the
    * loop's span. Each operation is then a span under the loop, and each
    * request a span under its operation. */
  @volatile private var loopTrace: Option[(Tracer, Long)] = None
  private val currentOp = new ThreadLocal[(Long, Long)] // (span id, operation id)
  private val opIds = new AtomicLong

  private def operation[A](name: String)(body: => A): A = loopTrace match {
    case Some((t, loop)) =>
      val op = opIds.incrementAndGet()
      t.span(name, loop, op) { id =>
        currentOp.set((id, op))
        try body finally currentOp.remove()
      }
    case None => body
  }

  private def send(method: String, path: String, timeoutS: Int): (Int, String) = {
    def call() = try {
      val req = HttpRequest.newBuilder(URI.create(base + path))
        .timeout(Duration.ofSeconds(timeoutS))
        .method(method, HttpRequest.BodyPublishers.noBody()).build()
      val r = http.send(req, HttpResponse.BodyHandlers.ofString())
      (r.statusCode, r.body)
    } catch { case e: Exception => (-1, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    (loopTrace, Option(currentOp.get)) match {
      case (Some((t, _)), Some((parent, op))) =>
        t.span(s"http $method ${path.takeWhile(_ != '?')}", parent, op)(_ => call())
      case _ => call()
    }
  }

  private def status(what: String, code: Int, body: String): Option[String] =
    if (code == 200) None else Some(s"$what: HTTP $code ${body.take(200)}")

  /** The page load: reload the home window, then the dashboard and the
    * client list. Returns its latency in ms. */
  private def refreshOp(): Double = {
    val t0 = System.nanoTime()
    val (rc, reloaded) = send("POST", s"/reload?start=${home.start}&end=${home.end}", 150)
    record(status("/reload", rc, reloaded).orElse(
      if (reloaded.contains("\"reloaded\":true")) None else Some(s"/reload answered $reloaded")))
    val reloadMs = (System.nanoTime() - t0) / 1e6
    val (code, html) = send("GET", "/dashboard", 150)
    record(status("/dashboard", code, html).orElse(Checks.dashboard(html, home)))
    val (cc, clients) = send("GET", "/clients", 30)
    record(status("/clients", cc, clients).orElse(Checks.clients(clients, home)))
    val ms = (System.nanoTime() - t0) / 1e6
    log(f"refresh $ms%.0f ms (reload $reloadMs%.0f ms)")
    ms
  }

  /** Progress on stderr, stamped with seconds since JVM start. */
  private def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.1f s] $msg")

  /** One dropdown callback over HTTP; returns its latency in ms. */
  private def figureOp(r: Request): Double = {
    val q = r.client.fold("")(c => "?client=" + java.net.URLEncoder.encode(c, "UTF-8"))
    val t0 = System.nanoTime()
    val (code, body) = send("GET", s"/${r.endpoint}$q", 60)
    val ms = (System.nanoTime() - t0) / 1e6
    record(status(s"/${r.endpoint}", code, body)
      .orElse(Checks.figure(body, r.endpoint, r.client, home)))
    ms
  }

  // ---- closed loops ----

  /** Two closed-loop interactive clients until `seconds` pass; returns
    * each request with its latency (ms), and the wall time in seconds. */
  private def interactLoop(seconds: Double, salt: Int): (Seq[(Request, Double)], Double) = {
    val out = new ConcurrentLinkedQueue[(Request, Double)]()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val mix = new Mix(a.seed, salt, ranked)
    val threads = (0 until 2).map { i =>
      val t = new Thread(() => {
        while (System.nanoTime() < deadline) {
          val r = mix.next()
          out.add(r -> operation(r.endpoint)(figureOp(r)))
        }
      }, s"perfbench-client-$i")
      t.start(); t
    }
    threads.foreach(_.join())
    (out.asScala.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  /** Measured phase of the workload: operation latencies (ms) and wall
    * seconds. Operations start until `seconds` pass; each one started
    * completes. */
  private def measure(seconds: Double, salt: Int): (Seq[Double], Double) =
    if (a.workload == "refresh") {
      val t0 = System.nanoTime()
      val deadline = t0 + (seconds * 1e9).toLong
      val out = Seq.newBuilder[Double]
      while (System.nanoTime() < deadline) out += operation("refresh")(refreshOp())
      (out.result(), (System.nanoTime() - t0) / 1e9)
    } else {
      val (samples, wall) = interactLoop(seconds, salt)
      (samples.map(_._2), wall)
    }

  /** Warm-up before timing the interactive loop: 10 s of the loop. For
    * about that long after set-up, requests run 2-3x slower than later
    * (JIT, codegen) and would make the median depend on how much of that
    * phase a run caught. A refresh run times its first page load instead:
    * one refresh outlasts the run, and a page load is what the user waits
    * for after the server starts. */
  private def warmUp(): Unit = if (a.workload != "refresh") {
    interactLoop(10.0, 99)
    log("warm")
  }

  // ---- process counters ----

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  private def sysCpuS(): Double = {
    val stat = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("/proc/self/stat")))
    stat.substring(stat.lastIndexOf(')') + 2).split(' ')(12).toLong.toDouble / a.clkTck
  }

  /** Host CPU time (all states) and its stolen share, in ticks, from
    * /proc/stat: time the hypervisor gave to other guests. */
  private def hostCpu(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val t = f.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (t.take(8).sum, t(7))
    } finally f.close()
  }

  private def peakRssMb(): Double =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def median(xs: Seq[Double]): Double = {
    val s = xs.filterNot(_.isNaN).sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** A metric of the record; a value that is not a number is written as null. */
  private def metric(v: Double, unit: String): Map[String, Any] =
    Map("value" -> (if (v.isNaN || v.isInfinite) null else v), "unit" -> unit)

  // ---- the run ----

  def run(): ListMap[String, Any] = {
    log(f"servable after $setupS%.2f s")
    val metrics = if (a.trace) traced() else { warmUp(); untraced() }
    ListMap("workload" -> a.workload, "seed" -> a.seed, "cores" -> cores,
      "attempted" -> attempted.get, "failed" -> failedOps.get,
      "failures" -> failures.asScala.toSeq, "metrics" -> metrics)
  }

  private def untraced(): Map[String, Any] = {
    val cpu0 = cpuNs()
    val host0 = hostCpu()
    val (ms, wall) = measure(a.seconds, 0)
    val cpuS = (cpuNs() - cpu0) / 1e9
    val host1 = hostCpu()
    Map(
      "setup_s" -> metric(setupS, "s"),
      "op_ms_p50" -> metric(median(ms), "ms"),
      "ops_per_s" -> metric(ms.size / wall, "1/s"),
      "cpu_s_per_op" -> metric(cpuS / math.max(ms.size, 1), "s"),
      "peak_rss_mb" -> metric(peakRssMb(), "MB"),
      // beside the metrics: their sample count, and the host CPU time
      // stolen by other guests while they were measured
      "_ops" -> ms.size,
      "_host_steal_pct" -> 100.0 * (host1._2 - host0._2) / math.max(host1._1 - host0._1, 1L))
  }

  // ---- the traced run ----

  /** Per-layer metrics, from three phases with spans and both listeners:
    *  1. direct calls into each layer doing the work of one 31-day
    *     refresh, whatever the workload (see `directPass`);
    *  2. probes: 1 + 8 requests of the interactive mix, each made three
    *     ways back to back (a direct slice call on the served cache, and
    *     over HTTP traced and untraced), in an order that rotates from
    *     probe to probe; the first probe is a warm-up and not counted;
    *  3. on interact, the two-client loop, traced, for half the run. It
    *     draws the same requests as the probes, so its n-th request pairs
    *     with the n-th probe's direct call.
    * A traced refresh makes no HTTP refresh: phase 1 did that work, layer
    * by layer. */
  private def traced(): Map[String, Any] = {
    val tracer = new Tracer(spark)
    /** `body` with the listeners on; they have seen all its events when it returns. */
    def listening[A](body: => A): A = {
      tracer.start()
      try body finally { tracer.drain(); tracer.stop() }
    }
    /** `body` traced: its operations and requests are spans under `name`. */
    def section[A](name: String)(body: => A): A = listening {
      tracer.span(name) { id =>
        loopTrace = Some((tracer, id))
        try body finally loopTrace = None
      }
    }
    val pass = listening(directPass(tracer))
    log("direct pass done")

    val ProbeSalt = 50
    val mix = new Mix(a.seed, ProbeSalt, ranked)
    val probes = Seq.fill(9)(mix.next()).map { r =>
      var rows = 0
      val ways: Seq[() => Double] = Seq(
        () => listening {
          val (ms, drawn) = directSlice(tracer, r, if (r.n == 0) "slice.warm" else "slice")
          rows = drawn
          ms
        },
        () => section("http.probe")(operation(r.endpoint)(figureOp(r))),
        () => figureOp(r))
      val ms = new Array[Double](3)
      for (k <- 0 until 3) { val way = (k + r.n) % 3; ms(way) = ways(way)() }
      Probe(r, ms(0), ms(1), ms(2), rows)
    }.drop(1)
    log("probes done")
    val loop = if (a.workload == "refresh") None else {
      val h0 = System.currentTimeMillis()
      val (samples, wall) = section("http.loop")(interactLoop(a.seconds / 2.0, ProbeSalt))
      Some((samples, wall, h0, System.currentTimeMillis()))
    }
    tracer.write(a.spans)

    val spans = tracer.spans.asScala.toSeq
    def one(n: String): Span = spans.find(_.name == n).get
    val out = Map.newBuilder[String, Any]
    def put(name: String, v: Double, unit: String): Unit = out += name -> metric(v, unit)
    def stageSum(s: Span, f: StageRec => Double): Double = tracer.stagesOf(s).map(f).sum
    def planMs(s: Span): Double = tracer.execsOf(s).map(_.planMs).sum

    for (layer <- Seq("sources", "stats", "figures", "cache")) {
      val s = one(layer)
      put(s"$layer.wall_s", s.seconds, "s")
      put(s"$layer.task_s", stageSum(s, _.runMs / 1000.0), "s")
      if (layer != "sources") put(s"$layer.stages", tracer.stagesOf(s).size, "count")
    }
    for (layer <- Seq("stats", "figures")) {
      val s = one(layer)
      put(s"$layer.jobs", tracer.jobsOf(s), "count")
      put(s"$layer.tasks", stageSum(s, _.tasks), "count")
      put(s"$layer.shuffle_mb", stageSum(s, _.shuffleBytes / 1e6), "MB")
      put(s"$layer.result_mb", stageSum(s, _.resultBytes / 1e6), "MB")
      put(s"$layer.plan_ms", planMs(s), "ms")
      put(s"$layer.gc_s", stageSum(s, _.gcMs / 1000.0), "s")
    }
    // what one refresh does: the cache build, the stats and the figures
    val refresh = Seq("cache", "stats", "figures").map(one)
    put("sources.scan_stages", refresh.map(s => tracer.stagesOf(s).count(_.scansSqlite)).sum, "count")
    val execs = refresh.flatMap(tracer.execsOf)
    put("sources.rows_parsed_per_row_kept",
      execs.map(_.rowsParsed).sum.toDouble / math.max(execs.map(_.rowsKept).sum, 1L), "ratio")
    put("sources.sys_cpu_s", pass.sourcesSysS, "s")
    put("cache.rollup_rows", pass.rollupRows.toDouble, "count")

    val slices = spans.filter(_.name == "slice")
    val calls = slices.size.toDouble
    put("slice.ms_p50", median(probes.map(_.directMs)), "ms")
    put("slice.jobs_per_call", slices.map(tracer.jobsOf).sum / calls, "count")
    put("slice.stages_per_call", slices.map(tracer.stagesOf(_).size).sum / calls, "count")
    put("slice.plan_ms_per_call", slices.map(planMs).sum / calls, "ms")
    put("slice.rows_collected_per_call", probes.map(_.rows).sum / calls, "count")

    // a figure request's latency over HTTP beyond the same request as a
    // direct call, both traced: on interact under the loop's two clients
    // (dispatcher queueing and transport), on refresh from the serial
    // probes (transport alone). Utilization is over the workload's
    // operations: the loop, or the direct refresh.
    loop match {
      case Some((samples, wall, h0, h1)) =>
        val direct = probes.map(p => p.request.n -> p.directMs).toMap
        put("http.wait_ms_p50", median(samples.collect {
          case (r, ms) if direct.contains(r.n) => ms - direct(r.n)
        }), "ms")
        val taskMs = tracer.stagesBetween(h0, h1).map(_.runMs.toDouble).sum
        put("spark.utilization", taskMs / (wall * 1000 * cores), "ratio")
      case None =>
        put("http.wait_ms_p50", median(probes.map(p => p.tracedMs - p.directMs)), "ms")
        put("spark.utilization",
          refresh.map(stageSum(_, _.runMs.toDouble)).sum / (refresh.map(_.durNs / 1e6).sum * cores), "ratio")
    }
    val overhead = median(probes.map(p => p.tracedMs - p.plainMs))
    put("trace.overhead_ms_p50", overhead, "ms")
    put("trace.overhead_pct", overhead / median(probes.map(_.plainMs)) * 100, "%")
    out.result()
  }

  /** Direct calls into each layer: what `POST /reload` + `GET /dashboard`
    * of the last 31 days do, split by layer, whatever the workload. */
  private def directPass(tracer: Tracer): Pass = {
    val window = answers.windows(31)
    var sys = 0.0
    var rows = 0L
    tracer.span("direct") { root =>
      val prep = tracer.span("sources", root, group = true) { _ =>
        val s0 = sysCpuS()
        val p = prepOf(window.start, window.end)
        record(if (p.count() == window.total) None
          else Some(s"scan kept a different row count than ${window.total}"))
        sys = sysCpuS() - s0
        p
      }
      val cache = tracer.span("cache", root, group = true)(_ => new ServingCache(prep, 10))
      try {
        val stats = tracer.span("stats", root, group = true)(_ => Engine.computeStats(prep))
        val html = tracer.span("figures", root, group = true) { _ =>
          Figures.statCards(stats) + Figures.dashboard(prep, 10, 10, withStats = false)
        }
        record(Checks.dashboard(html, window))
        rows = cache.hourly.count()
      } finally cache.close()
    }
    Pass(sys, rows)
  }

  /** One interactive figure as a direct slice call on the cache the
    * server holds, as span `name`: its latency (ms) and the rows it drew. */
  private def directSlice(tracer: Tracer, r: Request, name: String): (Double, Int) = {
    val t0 = System.nanoTime()
    val fig = tracer.span(name, group = true) { _ =>
      r.endpoint match {
        case "queries" => served.queriesFigure(r.client)
        case "activity" => served.activityFigure(r.client)
        case _ => served.anomaliesFigure(r.client)
      }
    }
    val ms = (System.nanoTime() - t0) / 1e6
    record(Checks.figure(fig, r.endpoint, r.client, home))
    (ms, Checks.rowsDrawn(fig))
  }
}
