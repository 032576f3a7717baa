package graft

/** Dev tool: dump selected SparkEntry queries to parquet for ad-hoc
  * DuckDB oracle prototyping (a fast, single-query alternative to the
  * all-query [[Verify]]). Usage:
  *   runMain graft.Dump <sfDir> <outDir> <name1,name2,...>
  */
object Dump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, names) = args.take(3)
    val spark = Session.local("graft-dump")
    names.split(",").foreach { n =>
      SparkEntry.queries(n)(spark, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$n")
      println(s"[dump] $n -> $outDir/$n")
    }
    // matching oracle subset so tools/check.py runs on a Dump dir too
    // (same escaper as Verify's full dump — SparkEntry.oracleJson)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      SparkEntry.oracleJson(names.split(",").toSeq).getBytes("UTF-8"))
    spark.stop()
  }
}
