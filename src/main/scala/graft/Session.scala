package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder for the repo's `main`s. The deployment
  * entry point, [[serve.ServeMain]], keeps its own: it honours
  * `SPARK_MASTER` (ContractSpec pins both).
  *
  * The session does not install [[functions.GraftExtensions]]; callers
  * that want the rules register them on the returned session. */
object Session {

  /** Local worker threads and shuffle partitions: `$SPARK_GRAFT_CPUS`,
    * else every available core. */
  private val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `spark.sql.codegen.cache.maxEntries` for every session, this
    * factory's and [[serve.ServeMain]]'s. The conf is static, default 100
    * entries: a warmed query set holds several codegen stages per query
    * and overflows it, so measured runs would Janino-recompile what the
    * warmup just compiled (d02 measured 5.0 s in bench context vs 1.4 s
    * isolated before this). A dashboard refresh compiles ~430 classes, so
    * at 100 entries every later refresh of a serving session recompiled
    * them. A long-running engine sizes the class cache to its workload. */
  val CodegenCacheEntries = "5000"

  def local(appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
      .getOrCreate()
    // ERROR, not WARN: WindowExec/AQE warnings land in the driver's
    // captured output tail and can displace Bench's JSON result line.
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
