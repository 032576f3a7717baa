package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import scala.collection.mutable

/** Ad-hoc profiler: `runMain graft.Profile <sfDir> <query[,query...]> [reps]`
  * times each named SparkEntry query end-to-end over `reps` runs
  * (post-warmup) so optimization work measures the operator, not the JVM,
  * then runs it once more with a listener that prints each Spark job's
  * wall time and each stage's time and task count — to attribute
  * fixed-overhead regressions (job count × scheduling latency vs real
  * task work). Not part of the driver contract — a development tool like
  * [[Explain]]. */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args(1).split(",").toSeq else Seq("d05_simhash_cands")
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = Session.local("graft-profile")
    spark.range(1000).selectExpr("sum(id)").collect()
    // SPARK_GRAFT_WARM_DIR: run each query once against a (tiny) SF first,
    // so timings isolate data-scale work from one-time codegen/JIT compile
    // (the generated code is identical across SF dirs → compiler cache hits)
    sys.env.get("SPARK_GRAFT_WARM_DIR").foreach { wd =>
      names.foreach(n => try SparkEntry.queries(n)(spark, wd).count()
        catch { case e: Throwable => System.err.println(s"[profile] warm $n: $e") })
    }
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      val times = (0 until reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[profile] $name reps=${times.map(t => f"$t%.3f").mkString(",")} min=${times.min}%.3f")

      val jobs = mutable.Map.empty[Int, Long]
      val lines = mutable.ArrayBuffer.empty[String]
      val listener = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
          jobs(j.jobId) = System.nanoTime()
        }
        override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
          jobs.remove(j.jobId).foreach { t0 =>
            lines += f"[job ${j.jobId}] ${(System.nanoTime() - t0) / 1e6}%.1f ms"
          }
        }
        override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
          val si = s.stageInfo
          val ms = (for (c <- si.completionTime; b <- si.submissionTime) yield c - b).getOrElse(-1L)
          lines += s"[stage ${si.stageId}] $ms ms  tasks=${si.numTasks}  ${si.name.takeWhile(_ != '\n').take(70)}"
        }
      }
      spark.sparkContext.addSparkListener(listener)
      fn(spark, sfDir).count()
      Thread.sleep(500) // let the async listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      listener.synchronized(lines.foreach(println))
    }
    spark.stop()
  }
}
