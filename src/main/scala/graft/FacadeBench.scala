package graft

/** The engine half of the reference head-to-head (tools/ref_bench.py is
  * the pandas half): times the full user-facing facade — preprocess +
  * computeStats + plotData materialization + the hourly interactive
  * cache — over the same events rows. Usage:
  *   runMain graft.FacadeBench [sfDir] [reps]
  * Prints one JSON line with the best rep's stage timings (post-warmup,
  * so the comparison measures data-scale work, not JVM/codegen start —
  * the deployment shape of both sides is a warm long-running process).
  */
object FacadeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = Session.local("graft-facade-bench")

    def stage[A](body: => A): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    def runOnce(): Map[String, Double] = {
      var prep: org.apache.spark.sql.DataFrame = null
      val tPrep = stage {
        prep = Preprocess.preprocessEvents(Tables.events(spark, sfDir))
        prep.count() // materialize the scan+derive pass, like preprocess_df
      }
      val tStats = stage(Engine.computeStats(prep))
      val tPlot = stage(Engine.plotData(prep).values.foreach(_.collect()))
      // The interactive-cache stage IS the serving tier since round 10:
      // materialize the persisted hourly rollup + top-client list
      // (ServingCache's constructor work) and render both default
      // figures through the BOUNDED capSeries path — collects are
      // O(~2k points × series), not O(span) (VERDICT r9 item 2; the
      // old full-view collect measured 130.6 s of the 337 s total at
      // 100 M rows — BASELINE.md keeps that row for comparison).
      val tHourly = stage {
        val cache = new graft.serve.ServingCache(prep)
        try {
          cache.queriesFigure(None)
          cache.activityFigure(None)
        } finally cache.close()
      }
      Map("preprocess" -> tPrep, "stats" -> tStats, "plot_data" -> tPlot,
        "hourly_agg" -> tHourly,
        "total" -> (tPrep + tStats + tPlot + tHourly))
    }
    runOnce() // warmup: codegen + JIT
    val best = (0 until reps).map(_ => runOnce()).minBy(_("total"))
    val rows = Tables.events(spark, sfDir).count()
    val qs = Seq("preprocess", "stats", "plot_data", "hourly_agg", "total")
      .map(k => s""""$k":${math.round(best(k) * 1000) / 1000.0}""").mkString(",")
    println(s"""{"impl":"graft-spark","sf":"$sfDir","rows":$rows,"reps":$reps,"best":{$qs}}""")
    spark.stop()
  }
}
