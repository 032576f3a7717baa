package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Similarity

/** The stored IVF/PQ ANN indexes and their streaming maintenance,
  * giving the ANN tier the same continuous-ingest story
  * [[StreamingNearDup]] gives dedup: new vectors arrive on a stream, and
  * each micro-batch extends the stored index by exactly the work the
  * batch's vectors demand.
  *
  * Shape: the batch body is the append-without-retrain contract —
  * assign/encode ONLY the batch against the STORED
  * centroids/codebooks (a broadcast of k·dim / m·codes driver-scale
  * rows), never re-train and never touch previously indexed vectors.
  * Per-batch cost is O(batch × nCells) / O(batch × m × codes)
  * regardless of index size — the property that makes a 10⁹-vector
  * index maintainable under continuous ingest. Centroid/codebook drift
  * under distribution shift is the standard IVF maintenance trade:
  * re-train on a cadence (a batch job that rewrites the index), not
  * per micro-batch.
  *
  * At-least-once: `foreachBatch` may replay a batch after a crash
  * between the sink write and the checkpoint commit, so every write is
  * a batchId-keyed OVERWRITE (`…/batch_id=N` subdirectory — the
  * idempotent-file-sink recipe, same as [[StreamingNearDup]]): a
  * replay rewrites the same subdirectory and the accumulated index is
  * unchanged. The assignments keep `cell` as a nested partition column
  * under each batch directory, so a probed search still prunes to the
  * probed cells' files across every batch generation.
  */
object StreamingAnnIndex {

  /** Pre-seed the stored IVF index from the initial corpus: TRAIN the
    * centroids here (the once-at-write-time job), assignments under
    * `batch_id=-1`. */
  def seedIvf(emb: DataFrame, dir: String, nCells: Int = 16,
              iterations: Int = 2): Unit = {
    val cents = Similarity.kmeansCentroids(emb, nCells, iterations)
      .select(col("cell"), col("centv"))
    cents.write.mode("overwrite").parquet(s"$dir/centroids")
    Similarity.assignCells(emb, cents).write.mode("overwrite")
      .partitionBy("cell").parquet(s"$dir/assigned/batch_id=-1")
  }

  /** Ingest ONE micro-batch: assign its vectors against the stored
    * centroids, overwrite the batch's own subdirectory. */
  def ingestIvfBatch(batch: DataFrame, batchId: Long, dir: String): Unit = {
    val spark = batch.sparkSession
    Similarity.assignCells(batch, Similarity.readIvfCentroids(spark, dir))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/assigned/batch_id=$batchId")
    spark.catalog.refreshByPath(s"$dir/assigned")
  }

  /** Run the IVF maintenance stream over a vector source ((vec_id,
    * embedding) rows). Drain with `Trigger.AvailableNow()` for a
    * catch-up run; default micro-batch trigger for continuous ingest. */
  def startIvf(vecs: DataFrame, dir: String, checkpointDir: String,
               trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    vecs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestIvfBatch(batch, batchId, dir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** The accumulated assignment table (batch_id surfaces as a partition
    * column and is dropped — the (vec_id, embedding, vn, cell) relation
    * [[Similarity.assignCells]] produces, so [[Similarity.searchIvf]]
    * consumes it unchanged). */
  def ivfAssignments(spark: SparkSession, dir: String): DataFrame = {
    spark.catalog.refreshByPath(s"$dir/assigned")
    spark.read.parquet(s"$dir/assigned").select("vec_id", "embedding", "vn", "cell")
  }

  /** Search the streamed index — the [[Similarity.searchIvf]] plan the
    * in-process [[Similarity.knnIvfTrained]] runs, over the stored
    * relations. */
  def knnIvf(spark: SparkSession, dir: String, queries: DataFrame,
             k: Int, nProbe: Int = 4): DataFrame =
    Similarity.searchIvf(ivfAssignments(spark, dir),
      Similarity.readIvfCentroids(spark, dir), queries, k, nProbe)

  /** Pre-seed the stored PQ index: train the codebooks from the initial
    * corpus, codes under `batch_id=-1`. */
  def seedPq(emb: DataFrame, dir: String, m: Int = 4, codes: Int = 16,
             iterations: Int = 2): Unit = {
    val books = Similarity.pqCodebooks(emb, m, codes, iterations)
    books.write.mode("overwrite").parquet(s"$dir/codebooks")
    Similarity.pqEncode(emb, books, m).write.mode("overwrite")
      .parquet(s"$dir/codes/batch_id=-1")
  }

  /** Ingest ONE micro-batch: encode against the stored codebooks,
    * overwrite the batch's own subdirectory. */
  def ingestPqBatch(batch: DataFrame, batchId: Long, dir: String,
                    m: Int = 4): Unit = {
    val spark = batch.sparkSession
    Similarity.pqEncode(batch, Similarity.readPqCodebooks(spark, dir), m)
      .write.mode("overwrite").parquet(s"$dir/codes/batch_id=$batchId")
    spark.catalog.refreshByPath(s"$dir/codes")
  }

  /** Run the PQ maintenance stream. */
  def startPq(vecs: DataFrame, dir: String, checkpointDir: String, m: Int = 4,
              trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    vecs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestPqBatch(batch, batchId, dir, m)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** The accumulated codes table — the (vec_id, subspace, code)
    * relation [[Similarity.pqEncode]] produces. */
  def pqCodes(spark: SparkSession, dir: String): DataFrame = {
    spark.catalog.refreshByPath(s"$dir/codes")
    spark.read.parquet(s"$dir/codes").select("vec_id", "subspace", "code")
  }

  /** Search the streamed PQ index — the [[Similarity.searchPq]] plan the
    * in-process [[Similarity.knnPq]] runs. `corpus` supplies the
    * shortlist's embeddings for the exact re-rank. */
  def knnPq(spark: SparkSession, dir: String, queries: DataFrame,
            corpus: DataFrame, k: Int, m: Int = 4,
            shortlist: Int = 50): DataFrame =
    Similarity.searchPq(pqCodes(spark, dir),
      Similarity.readPqCodebooks(spark, dir), queries, corpus, k, m, shortlist)
}
