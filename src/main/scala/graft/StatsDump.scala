package graft

/** Dev tool for the reference cross-check (tools/ref_crosscheck.py):
  * writes a deterministic FTL fixture to parquet and Engine.computeStats'
  * result for it to JSON, so the harness can run the REFERENCE pandas
  * implementation on identical rows and diff the two stat dictionaries.
  *
  * Usage: runMain graft.StatsDump <outDir> [seed|path.db] [nRows]
  *
  * When the second argument ends in `.db`, the fixture rows come from
  * that SQLite database through [[Engine.loadSqlite]]'s native reader
  * (WAL replayed) instead of the synthetic generator — the reference's
  * actual invocation shape end-to-end: the pandas side then chews the
  * SAME rows (dumped to parquet for it) and the diff proves the whole
  * `.db` → scan → preprocess → stats chain, not just the stats math.
  */
object StatsDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val n = if (args.length > 2) args(2).toInt else 2000
    val spark = Session.local("graft-stats-dump")

    val fixture =
      if (args.length > 1 && args(1).endsWith(".db"))
        sources.FtlIngest.readSqlite(spark, Seq(args(1)), 0L, Long.MaxValue)
      else FtlFixture.frame(spark, if (args.length > 1) args(1).toInt else 1, n)
    fixture.coalesce(1).write.mode("overwrite").parquet(s"$outDir/fixture")
    val prep = Preprocess.preprocessFtl(fixture)
    val stats = Engine.computeStats(prep)

    def j(v: Any): String = v match {
      case null => "null"
      case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case other => other.toString
    }
    val json = stats.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k": ${j(v)}""" }.mkString("{", ",\n ", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/spark_stats.json"), json)

    // plot-data tables for the same cross-check (tools/plot_crosscheck.py)
    Engine.plotData(prep).foreach { case (name, frame) =>
      frame.coalesce(1).write.mode("overwrite").parquet(s"$outDir/plot_$name")
    }
    println(s"STATS_KEYS=${stats.size}")
    spark.stop()
  }
}
