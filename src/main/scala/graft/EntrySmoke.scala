package graft

/** Dev tool: drives the driver's t1 smoke gate (SparkEntry.entry on
  * sf0.001, rows > 0) exactly as the driver does. */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.local("graft-entry-smoke")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"ENTRY_ROWS=$n")
    df.show(5, truncate = false)
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
