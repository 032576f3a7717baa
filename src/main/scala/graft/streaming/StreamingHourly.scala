package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

import graft.{Preprocess, Tables}

/** Structured-Streaming form of the hourly materialized view (A16) — the
  * reference's "reload loop" (app.py:1056-1104 re-runs the whole batch
  * pipeline on demand) re-expressed as an incremental stream: new event
  * files are picked up, bucketed into 1-hour tumbling windows, and the
  * aggregate state is maintained by the engine instead of recomputed.
  *
  * Scale design: the aggregation state is keyed by (window, status_type,
  * client) — bounded by hours × 3 × |clients|; the 2-hour watermark evicts
  * state for closed windows, so long-running streams hold only the open
  * tail. `Trigger.AvailableNow` reproduces the reference's
  * batch-on-demand semantics exactly (drain everything present, then
  * stop) while keeping incremental checkpoints between invocations.
  */
object StreamingHourly {

  /** The streaming A16 plan over an already-preprocessed streaming frame:
    * watermark → tumbling window count. Late rows beyond 2 hours are
    * dropped (the batch reference would instead recompute — a semantics
    * upgrade, not a translation). */
  def hourlyCounts(prep: DataFrame): DataFrame =
    prep.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("status_type"), col("client"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("ts_hour"), col("status_type"), col("client"), col("cnt"))

  /** File-source stream over an events-parquet directory (schema from a
    * static read — file streams require an explicit schema), preprocessed
    * with the same column derivations as the batch path. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    // schema must match the on-disk shape (ts may be a nanos long);
    // the timestamp normalization is applied on top, same as batch
    val schema: StructType = Tables.eventsRaw(spark, dir).schema
    val raw = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "4")
      .option("pathGlobFilter", "events.parquet")
      .parquet(s"$dir")
    Preprocess.preprocessEvents(Tables.normalizeTs(raw))
  }

  /** Drain-everything-then-stop writer (complete mode into a named memory
    * sink for tests/smoke; production would use an update-mode Delta/
    * parquet sink partitioned by window date). */
  def availableNowToMemory(agg: DataFrame, queryName: String,
                           checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    agg.writeStream
      .queryName(queryName)
      .outputMode("complete")
      .format("memory")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
}
