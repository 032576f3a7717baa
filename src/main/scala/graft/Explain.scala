package graft

/** Dev tool: print formatted physical plans for selected queries —
  * used to audit pushdown (PushedFilters/ReadSchema), broadcast choices,
  * and whole-stage-codegen coverage. Usage:
  *   runMain graft.Explain <sfDir> [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Session.local("graft-explain")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
