package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.operators.TextAnalysis

/** Streaming duplicate-substring extents — the continuous-ingest form
  * of [[TextAnalysis.dupSpanExtents]] (t12): documents arrive on a
  * stream, each micro-batch marks every sliding-shingle position whose
  * shingle has EVER been seen before (in any earlier batch via the
  * stored shingle table, or at ≥ 2 sites within this batch), merges
  * the marked positions into maximal per-doc extents, emits the extent
  * report for the batch's docs, and appends the batch's distinct
  * shingles to the table.
  *
  * Unlike the keep-first family, the per-arrival verdict here is
  * EXACT, not conditional: a position's shingle occurs ≥ 2 times in
  * the union of everything ingested so far iff it is in the stored
  * table (≥ 1 earlier site) or occurs ≥ 2 times in the batch — so each
  * batch's report equals the BATCH operator run over the
  * union-so-far corpus, restricted to the batch's docs
  * (`StreamingSpec` asserts exactly that). What stays ingest-shaped is
  * that an EARLIER doc's report is frozen at its ingest time: a later
  * arrival repeating its text does not retro-update it — re-running
  * the batch operator over the full corpus is the (re)computation that
  * would.
  *
  * Per-batch cost: shingling + the within-batch count are O(batch);
  * the seen-probe joins the batch's shingles against the stored table
  * (at 100 TB that table is bucketed on the shingle hash so the probe
  * co-locates — here a plain parquet relation).
  * At-least-once: both writes are batchId-keyed overwrites, and the
  * seen-probe reads STRICTLY-earlier shards only, so a crash-replay
  * cannot find its own shingles and inflate its extents. */
object StreamingDupExtents {

  private val segSchema = StructType(Seq(StructField("seg", StringType)))

  /** Start from nothing-seen. To start from an existing corpus, write
    * its distinct shingles here first. */
  def seed(spark: SparkSession, shinglesDir: String): Unit =
    spark.createDataFrame(new java.util.ArrayList[Row](), segSchema)
      .write.mode("overwrite").parquet(s"$shinglesDir/batch_id=-1")

  /** Process ONE micro-batch (or any static frame): mark positions
    * duplicated against history ∪ batch, merge extents, append the
    * batch's shingles. */
  def ingestBatch(batch: DataFrame, batchId: Long, shinglesDir: String,
                  outDir: String, window: Int = 8): Unit = {
    val spark = batch.sparkSession
    spark.catalog.refreshByPath(shinglesDir)
    val sh = TextAnalysis.slidingShingles(batch, window)
    val seen = spark.read.parquet(shinglesDir)
      .filter(col("batch_id") < batchId)
      .select("seg").distinct()
      .withColumn("_seen", lit(true))
    val local = sh.groupBy("seg").agg(count(lit(1)).as("_n"))
    val dup = sh
      .join(local, Seq("seg"))
      .join(seen, Seq("seg"), "left")
      .filter(col("_seen").isNotNull || col("_n") > 1)
      .select("doc_id", "total_tokens", "pos")
    TextAnalysis.mergeExtents(dup, window)
      .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    sh.select("seg").distinct()
      .write.mode("overwrite").parquet(s"$shinglesDir/batch_id=$batchId")
    spark.catalog.refreshByPath(shinglesDir)
    spark.catalog.refreshByPath(outDir)
  }

  /** Run the stream over a document source; drain with
    * `Trigger.AvailableNow()` for a catch-up run. */
  def start(docs: DataFrame, shinglesDir: String, outDir: String,
            checkpointDir: String, window: Int = 8,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(batch, batchId, shinglesDir, outDir, window)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
}
