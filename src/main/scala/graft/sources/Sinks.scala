package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Write-side layout API — the sink half of §2.1. The reference's only
  * sinks are figures/HTML (presentation, out of engine scope); this is
  * the layout `serve.ServeMain` serves from, written so that the
  * read-side pruning this library relies on actually fires:
  * [[writeDatePartitioned]] writes `date=.../` hive partitions →
  * partition PRUNING at planning time (a date-range query never lists,
  * let alone reads, out-of-range files). Rows are sorted by ts WITHIN
  * each partition before writing so parquet row-group min/max stats are
  * tight and time-range predicates skip row groups too.
  *
  * It composes with the small-files guard: `maxRecordsPerFile` bounds
  * file size, and the repartition-by-partition-column before a
  * partitioned write prevents the classic N-tasks × M-partitions
  * small-file explosion.
  */
object Sinks {

  /** Date-partitioned parquet under `path`, one directory per day.
    * `df` must carry a `date` column (the canonical prep relation does).
    * The repartition on date keeps each output directory written by few
    * tasks (no tasks×days file explosion); the within-partition ts sort
    * tightens parquet zone maps for time predicates. */
  def writeDatePartitioned(df: DataFrame, path: String,
                           maxRecordsPerFile: Long = 5000000L): Unit =
    df.repartition(col("date"))
      .sortWithinPartitions("ts")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("date")
      .parquet(path)
}
