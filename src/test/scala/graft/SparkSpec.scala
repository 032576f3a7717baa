package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites — one JVM-wide session (Spark
  * sessions are expensive; ScalaTest suites run sequentially here). Built
  * with the as-of planner like every `graft.Session`, so no suite's
  * optimizer depends on which suites ran before it. */
object SharedSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** What a block of code launched on the shared session, as the listener
  * bus reported it ([[SparkSpec.launched]]).
  *
  * @param jobs              each Spark job's description, "-" for none
  * @param sqlExecutions     SQL executions (one per DataFrame action)
  * @param rddJobs           jobs outside any SQL execution
  * @param tasks             tasks started
  * @param rangeSamplingJobs a global sort's range-sampling jobs: result
  *                          tasks of a job whose last RDD is an Exchange's
  */
final case class Launched(jobs: Seq[String], sqlExecutions: Int, rddJobs: Int,
                          tasks: Int, rangeSamplingJobs: Int) {
  /** Driver round-trips: SQL executions plus jobs outside them. Raw job
    * counts inflate under AQE (each query stage is its own job). */
  def actions: Int = sqlExecutions + rddJobs
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
  import scala.jdk.CollectionConverters._

  /** Runs `body` and returns what it launched. The listener is
    * registered and the bus drained to a stable baseline BEFORE the call
    * (events queued by earlier work land there), then drained again
    * after it: the listener bus is async, so both reads poll until the
    * counts stop moving. */
  def launched(body: => Unit): Launched = {
    import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler._
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val jobs = new ConcurrentLinkedQueue[String]
    val (execs, rddJobs, tasks) = (new AtomicInteger, new AtomicInteger, new AtomicInteger)
    val exchangeFinal, sampling = ConcurrentHashMap.newKeySet[Int]
    val listener = new SparkListener {
      override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
        case _: SparkListenerSQLExecutionStart => execs.incrementAndGet()
        case _ => ()
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val props = Option(js.properties)
        jobs.add(props.flatMap(p => Option(p.getProperty(Engine.JobDescription))).getOrElse("-"))
        if (props.forall(_.getProperty("spark.sql.execution.id") == null)) rddJobs.incrementAndGet()
        js.stageInfos.maxByOption(_.stageId).foreach { last =>
          if (last.rddInfos.maxByOption(_.id).exists(_.scope.exists(_.name == "Exchange")))
            exchangeFinal.add(last.stageId)
        }
      }
      override def onTaskStart(t: SparkListenerTaskStart): Unit = tasks.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskType == "ResultTask" && exchangeFinal.contains(t.stageId)) sampling.add(t.stageId)
    }
    def counts = (jobs.size, execs.get, rddJobs.get, tasks.get, sampling.size)
    def settled(): (Int, Int, Int, Int, Int) = {
      var prev = (-1, -1, -1, -1, -1)
      var cur = counts
      var tries = 0
      while (cur != prev && tries < 50) {
        Thread.sleep(100); prev = cur; cur = counts; tries += 1
      }
      cur
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (j0, e0, r0, t0, s0) = settled()
      body
      val (j1, e1, r1, t1, s1) = settled()
      Launched(jobs.asScala.toSeq.slice(j0, j1), e1 - e0, r1 - r0, t1 - t0, s1 - s0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(r => r.toSeq)

  def df(schemaDdl: String, rows: Seq[org.apache.spark.sql.Row]): DataFrame =
    spark.createDataFrame(rows.asJava,
      org.apache.spark.sql.types.StructType.fromDDL(schemaDdl))
}
