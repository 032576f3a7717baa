package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FilterExec, InputAdapter, RDDScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed call into one layer. `op` groups the spans of one operation;
  * times are epoch milliseconds with a nanosecond-precise duration. */
final case class Span(id: Long, name: String, parent: Long, op: Long,
                      startMs: Long, endMs: Long, durNs: Long) {
  def contains(ms: Long): Boolean = ms >= startMs && ms <= endMs
  def seconds: Double = durNs / 1e9
}

/** Spark-side counters of one stage attempt, summed over its tasks. */
final class StageRec(val stageId: Int, val submitMs: Long) {
  @volatile var tasks = 0
  @volatile var runMs = 0L
  @volatile var gcMs = 0L
  @volatile var shuffleBytes = 0L
  @volatile var resultBytes = 0L
  @volatile var scansSqlite = false
}

/** One SQL execution's Catalyst phases and SQLite scan rows. */
final case class ExecRec(endMs: Long, planMs: Double, rowsParsed: Long, rowsKept: Long)

/** Spans in memory plus the listeners that count jobs, stages, tasks and
  * Catalyst time. Job counters carry the job group the benchmark sets
  * around each call; a job AQE submits without the group is attributed to
  * the span whose time window holds it (direct calls run serially). */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val jobs = new ConcurrentHashMap[Int, (Long, Option[String])]() // job → (start ms, group)
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[Int, StageRec]()
  private val execs = new ConcurrentLinkedQueue[ExecRec]()
  private val syncs = new ConcurrentHashMap[String, Boolean]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobs.put(e.jobId, (e.time, group))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId) match {
        case (_, Some(g)) if g.startsWith("perfbench-sync") => syncs.put(g, true)
        case _ =>
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val info = e.stageInfo
      val rec = stages.computeIfAbsent(info.stageId,
        _ => new StageRec(info.stageId, info.submissionTime.getOrElse(System.currentTimeMillis())))
      rec.scansSqlite = info.rddInfos.exists(_.callSite.contains("SqliteRead"))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        val rec = stages.computeIfAbsent(e.stageId,
          _ => new StageRec(e.stageId, e.taskInfo.launchTime))
        rec.synchronized {
          rec.tasks += 1
          rec.runMs += m.executorRunTime
          rec.gcMs += m.jvmGCTime
          rec.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          rec.resultBytes += m.resultSize
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                           durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val planMs = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs.toDouble).sum
      val (parsed, kept) = scanRows(qe.executedPlan)
      // planning ends inside the action, so it dates the execution to the
      // span that ran it even when this event arrives late
      val at = phases.get("planning").map(_.endTimeMs).getOrElse(System.currentTimeMillis())
      execs.add(ExecRec(at, planMs, parsed, kept))
    }
    override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                           exception: Exception): Unit = ()
  }

  /** Rows the SQLite scans of a finished plan produced, and rows the
    * filter directly above each scan let through. */
  private def scanRows(plan: SparkPlan): (Long, Long) = {
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case q: QueryStageExec => unwrap(q.plan)
      case w: WholeStageCodegenExec => unwrap(w.child)
      case i: InputAdapter => unwrap(i.child)
      case other => other
    }
    def rows(p: SparkPlan): Long = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    def walk(p: SparkPlan): Seq[(Long, Long)] = unwrap(p) match {
      case f: FilterExec if unwrap(f.child).isInstanceOf[RDDScanExec] =>
        Seq((rows(unwrap(f.child)), rows(f)))
      case s: RDDScanExec => Seq((rows(s), rows(s)))
      case other => (other.children ++ other.subqueries).flatMap(walk)
    }
    val pairs = try walk(plan) catch { case _: Exception => Nil }
    (pairs.map(_._1).sum, pairs.map(_._2).sum)
  }

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Time `body` as a span; with `group`, its jobs carry the span's id as
    * their job group (the calling thread's jobs only). */
  def span[A](name: String, parent: Long = 0, op: Long = 0, group: Boolean = false)
             (body: Long => A): A = {
    val id = ids.incrementAndGet()
    if (group) sc.setJobGroup(s"perfbench-$id", name, interruptOnCancel = false)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try body(id)
    finally {
      val dur = System.nanoTime() - n0
      spans.add(Span(id, name, parent, op, t0, t0 + math.max(dur / 1000000, 0), dur))
      if (group) sc.clearJobGroup()
    }
  }

  /** Wait until the listeners have seen every event posted so far: a
    * marker job and a marker query, then block until both arrive. */
  def drain(): Unit = {
    val tag = s"perfbench-sync-${ids.incrementAndGet()}"
    val before = execs.size
    sc.setJobGroup(tag, tag, interruptOnCancel = false)
    try spark.range(1).collect() finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 30000
    while (!syncs.containsKey(tag) && System.currentTimeMillis() < deadline) Thread.sleep(20)
    while (execs.size == before && System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  private def groupOf(stageId: Int): Option[String] =
    Option(stageJob.get(stageId)).flatMap(j => Option(jobs.get(j))).flatMap(_._2)

  /** Stages attributed to `span`: by its job group, else by time window. */
  def stagesOf(span: Span): Seq[StageRec] = {
    val g = s"perfbench-${span.id}"
    stages.values.asScala.filter { s =>
      groupOf(s.stageId) match {
        case Some(other) => other == g
        case None => span.contains(s.submitMs)
      }
    }.toSeq
  }

  def jobsOf(span: Span): Int = {
    val g = s"perfbench-${span.id}"
    jobs.values.asScala.count {
      case (_, Some(other)) => other == g
      case (t, None) => span.contains(t)
    }
  }

  def execsOf(span: Span): Seq[ExecRec] = execs.asScala.filter(e => span.contains(e.endMs)).toSeq

  /** Every stage whose tasks ran inside [fromMs, toMs]. */
  def stagesBetween(fromMs: Long, toMs: Long): Seq[StageRec] =
    stages.values.asScala.filter(s => s.submitMs >= fromMs && s.submitMs <= toMs).toSeq

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.asScala.toSeq.sortBy(_.id).foreach { s =>
      w.println(Harness.Json.writeValueAsString(ListMap("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.op, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "dur_ns" -> s.durNs)))
    } finally w.close()
  }
}
