package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Dedup

/** Streaming near-dup ingest — the continuous form of the d11 daily
  * append: new documents arrive on a stream, and each micro-batch
  * extends THREE production tables — the corpus, the banded-signature
  * index, and the verified-pairs table — by exactly the work the
  * batch's documents demand.
  *
  * Shape: the batch body is [[Dedup.incrementalVerifiedPairsIndexed]] —
  * shingle/sign ONLY the batch (O(batch)), probe the STORED banded
  * index (never re-sign the corpus), re-shingle only old docs that
  * appear in candidate pairs (broadcast-semi fetch from the corpus
  * table). Per-batch cost is O(batch + candidates) regardless of corpus
  * size — the property that makes a 100 TB continuous ingest viable,
  * where the previous corpus-rebuild form degraded linearly in the
  * accumulated corpus.
  *
  * Correctness rides the pinned d11 invariant
  * `pairs(old ∪ new) = pairs(old) ∪ incremental(new)`: band keys are
  * per-doc, so old×old candidates are untouched by new arrivals, and a
  * cross-batch pair is discovered by exactly one batch — the one that
  * ingested the LATER doc. The batches therefore append DISJOINT pair
  * sets whose union equals the from-scratch
  * [[Dedup.writeVerifiedPairs]] (`StreamingSpec` pins this across a
  * 2-batch split).
  *
  * At-least-once: `foreachBatch` may replay a batch after a crash
  * between sink writes and the checkpoint commit, so ALL THREE writes
  * are batchId-keyed overwrites (the idempotent-file-sink recipe the
  * Structured Streaming guide prescribes); a replay rewrites the same
  * subdirectories — including the index shard, whose bands the probe
  * then sees twice (its own and the stored copy), collapsing in the
  * candidate `distinct`.
  */
object StreamingNearDup {

  /** Pre-seed the corpus + index + pairs tables from the initial
    * corpus — the "yesterday's tables" a continuous ingest starts from.
    * Seed rows live under `batch_id=-1` so each directory stays one
    * partition-discovered parquet table. */
  def seed(docs: DataFrame, corpusDir: String, indexDir: String,
           pairsDir: String, threshold: Double,
           k: Int = 16, bands: Int = 4): Unit = {
    docs.write.mode("overwrite").parquet(s"$corpusDir/batch_id=-1")
    Dedup.writeBandedSignatures(docs, s"$indexDir/batch_id=-1", k, bands)
    Dedup.writeVerifiedPairs(docs, s"$pairsDir/batch_id=-1", threshold, k, bands)
  }

  /** Ingest ONE micro-batch (or any static frame): append its docs to
    * the corpus table, probe the stored index for the verified pairs
    * touching them, then append the batch's own bands to the index. */
  def ingestBatch(batch: DataFrame, batchId: Long, corpusDir: String,
                  indexDir: String, pairsDir: String, threshold: Double,
                  k: Int = 16, bands: Int = 4): Unit = {
    val spark = batch.sparkSession
    val cols = batch.columns.toSeq
    batch.write.mode("overwrite").parquet(s"$corpusDir/batch_id=$batchId")
    // the session-wide FileStatusCache serves STALE listings for a path
    // read before (metadataCacheTTL defaults to forever), so without
    // these refreshes the reads below would miss partition directories
    // written by this or previous batches
    spark.catalog.refreshByPath(corpusDir)
    spark.catalog.refreshByPath(indexDir)
    val corpus = spark.read.parquet(corpusDir).select(cols.map(col): _*)
    val index = Dedup.readBandedSignatures(spark, indexDir)
    Dedup.incrementalVerifiedPairsIndexed(corpus, index, batch, threshold, k, bands)
      .select("i", "j")
      .write.mode("overwrite").parquet(s"$pairsDir/batch_id=$batchId")
    Dedup.writeBandedSignatures(batch, s"$indexDir/batch_id=$batchId", k, bands)
    spark.catalog.refreshByPath(pairsDir)
    spark.catalog.refreshByPath(indexDir)
  }

  /** Run the stream over a document source. Drain with
    * `Trigger.AvailableNow()` for a catch-up run; leave the default
    * micro-batch trigger for continuous ingest. */
  def start(docs: DataFrame, corpusDir: String, indexDir: String,
            pairsDir: String, checkpointDir: String, threshold: Double,
            k: Int = 16, bands: Int = 4,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(batch, batchId, corpusDir, indexDir, pairsDir, threshold, k, bands)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** The accumulated verified-pairs table (batch_id surfaces as a
    * partition column and is dropped — downstream consumers read the
    * same (i, j) relation [[Dedup.writeVerifiedPairs]] writes). */
  def pairsTable(spark: SparkSession, pairsDir: String): DataFrame = {
    spark.catalog.refreshByPath(pairsDir) // see ingestBatch's cache note
    spark.read.parquet(pairsDir).select("i", "j")
  }
}
