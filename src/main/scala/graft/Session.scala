package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder in `src/main`: [[local]] for the repo's
  * `main`s, [[serving]] for the deployment entry point
  * [[serve.ServeMain]] (ContractSpec pins this). Every session is built
  * with [[plans.GraftExtensions]], so the as-of planner is part of the
  * session, not installed by the first query that needs it. */
object Session {

  /** Local worker threads and shuffle partitions: `$SPARK_GRAFT_CPUS`,
    * else every available core. */
  private val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `spark.sql.codegen.cache.maxEntries` for every session. The conf is
    * static, default 100 entries: a warmed query set holds several
    * codegen stages per query and overflows it, so measured runs would
    * Janino-recompile what the warmup just compiled (d02 measured 5.0 s
    * in bench context vs 1.4 s isolated before this). A dashboard refresh
    * compiles ~430 classes, so at 100 entries every later refresh of a
    * serving session recompiled them. A long-running engine sizes the
    * class cache to its workload. */
  val CodegenCacheEntries = "5000"

  // ERROR, not WARN: WindowExec/AQE warnings land in the driver's
  // captured output tail and can displace Bench's JSON result line.
  def local(appName: String): SparkSession =
    build(appName, s"local[$cpus]", cpus, "ERROR")

  /** The serving session: `$SPARK_MASTER` (default `local[*]`), 32
    * shuffle partitions, log level WARN. */
  def serving(appName: String): SparkSession =
    build(appName, sys.env.getOrElse("SPARK_MASTER", "local[*]"), 32, "WARN")

  private def build(appName: String, master: String, shufflePartitions: Int,
                    logLevel: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      .master(master)
      .withExtensions(new plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
