package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing — the "concatenate the corpus, cut it into fixed-size
  * context windows" step an LLM training pipeline runs between curation
  * and tokenized-shard writing. Each document is assigned the training
  * bin (context window) where its first token lands, given deterministic
  * doc_id order and a token budget of `capacity` per bin; documents
  * straddle bin boundaries (GPT-style packing: no padding, a document may
  * continue into the next window).
  *
  * Per doc: `bin_id` = floor(cum_tokens_before / capacity),
  * `bin_offset` = cum_tokens_before % capacity, and `bins_spanned` =
  * how many windows the document touches.
  *
  * The interesting part at 100 TB is the GLOBAL PREFIX SUM: a window
  * cumsum over `ORDER BY doc_id` serializes the corpus through one task
  * (the W1-W4 problem). [[packSequences]] uses the same two-pass
  * range-partition machinery as `Streaks.parallelRunsBy`: pass 1 collects
  * one token-subtotal per partition (O(partitions) driver bytes), a
  * driver fold turns them into per-partition starting offsets, and pass 2
  * assigns bins partition-parallel from the broadcast bases. Both passes
  * reuse one range shuffle's files. [[packSequencesWindow]] is the
  * single-window semantic spec the scalable form is tested equal to.
  */
object Packing {

  val DefaultCapacity = 2048L

  /** ws-token count expression — identical shape to
    * `TextAnalysis.tokenCounts`' ws_tokens so oracle SQL mirrors with
    * `len(string_split(text, ' '))`. Never 0: split("") = [""]. */
  private def wsTokens(text: Column): Column = size(split(text, " ")).cast("long")

  // `div`, not `/`: Spark's Divide on longs goes through double, which
  // loses exactness past 2^53 — reachable by a global token offset at
  // full corpus scale. `div`/`%` stay in integer arithmetic.
  private def withBinColumns(df: DataFrame, capacity: Long): DataFrame =
    df.withColumn("bin_id", expr(s"_cum_before div ${capacity}L"))
      .withColumn("bin_offset", col("_cum_before") % capacity)
      .withColumn("bins_spanned",
        expr(s"(bin_offset + n_tokens - 1) div ${capacity}L + 1L"))
      .select(col("doc_id"), col("n_tokens"), col("bin_id"),
        col("bin_offset"), col("bins_spanned"))
      .orderBy("doc_id")

  /** Semantic spec: one global-order window cumsum. Correct, and the
    * form the DuckDB oracle mirrors — but the Window serializes onto a
    * single task, so it exists as the equality baseline for
    * [[packSequences]], not the production path. */
  private[graft] def packSequencesWindow(docs: DataFrame,
                                         capacity: Long = DefaultCapacity): DataFrame = {
    val w = Window.orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = docs.select(col("doc_id"), wsTokens(col("text")).as("n_tokens"))
      .withColumn("_cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
    withBinColumns(cum, capacity)
  }

  /** Production path: global prefix sum via two range-partitioned passes,
    * no Window operator and no single-task stage (the `Streaks`
    * treatment applied to a running SUM instead of a running change
    * count). Degenerate inputs (empty, single partition) fall out of the
    * same code path. */
  def packSequences(docs: DataFrame, capacity: Long = DefaultCapacity,
                    numPartitions: Int = 0): DataFrame = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs.select(col("doc_id"), wsTokens(col("text")).as("n_tokens"))
    val nParts =
      if (numPartitions > 0) numPartitions
      else math.max(32, base.queryExecution.toRdd.getNumPartitions)
    // physical InternalRows, not Dataset.rdd: no per-row external
    // conversion (GenericRow per corpus row) in either pass — the Streaks
    // round-9 treatment applied to the prefix-sum scan
    val rdd = base
      .repartitionByRange(nParts, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .queryExecution.toRdd
    // pass 1: one token subtotal per partition — O(partitions) driver data
    val subtotals = rdd.mapPartitionsWithIndex { (pid, rows) =>
      var s = 0L
      rows.foreach(r => s += r.getLong(1))
      Iterator.single((pid, s))
    }.collect().sortBy(_._1)
    // driver fold: partition p starts at the sum of all earlier subtotals
    val bases = Map.newBuilder[Int, Long]
    var total = 0L
    subtotals.foreach { case (pid, s) => bases += pid -> total; total += s }
    val bc = spark.sparkContext.broadcast(bases.result())
    // pass 2: running offset within each partition from its broadcast
    // base; reuses pass 1's shuffle files (same lineage). LAZY map, not a
    // buffered collection: the output is row-scale, so materializing the
    // partition here would hold |partition| rows on heap for no reason.
    // The tuple Dataset re-enters SQL through the codegen'd product
    // encoder (primitive field writes, no boxing converter per field).
    val cumRdd = rdd.mapPartitionsWithIndex { (pid, rows) =>
      var cum = bc.value.getOrElse(pid, 0L)
      rows.map { r =>
        val before = cum
        cum += r.getLong(1)
        (r.getLong(0), r.getLong(1), before)
      }
    }
    val cum = spark.createDataset(cumRdd)
      .toDF("doc_id", "n_tokens", "_cum_before")
    withBinColumns(cum, capacity)
  }

  /** The consumer view: per-bin manifest — how many documents start in
    * each window and how full it is (the last bin is partial, and bins a
    * long document fully covers contain zero starts but full token
    * occupancy). `tokens_started` counts tokens of docs STARTING in the
    * bin, so it can exceed capacity exactly when a doc spills over. */
  def binManifest(docs: DataFrame, capacity: Long = DefaultCapacity,
                  numPartitions: Int = 0): DataFrame =
    packSequences(docs, capacity, numPartitions)
      .groupBy("bin_id")
      .agg(count(lit(1)).as("docs_started"),
        sum(col("n_tokens")).as("tokens_started"),
        min(col("doc_id")).as("first_doc"),
        max(col("bins_spanned")).as("max_span"))
      .orderBy("bin_id")

  /** RAG/context-window chunking (beyond-reference): split every
    * document into overlapping `window`-token chunks, one starting every
    * `stride` tokens — the per-document sibling of [[packSequences]]'s
    * cross-document packing (retrieval and fine-tuning pipelines chunk
    * WITHIN a document so each piece stays self-attributable). The last
    * chunk is the first one whose window reaches the end of the
    * document, so every token is covered and no chunk is empty
    * (`window >= stride` enforced). Emits the chunk's md5 rather than
    * its text: verification-strong, dump-small.
    *
    * Scale shape: pure projection + explode — NO shuffle, the chunker
    * rides the parquet scan with a row-expansion factor of
    * ~ n_tokens/stride, and chunks of a document land in the same
    * partition as the document (locality downstream writers rely on).
    * All expressions are codegen'd builtins (`sequence`/`slice`/
    * `concat_ws`/`md5`). Chunking is stateless, so the same relation
    * rides a document stream map-only (no watermark, no state store);
    * `StreamingSpec` pins stream ≡ batch.
    */
  private[graft] def chunkRel(docs: DataFrame, window: Int, stride: Int): DataFrame = {
    require(stride > 0 && window >= stride,
      s"need window >= stride > 0, got window=$window stride=$stride")
    // n_chunks - 1 = ceil((n_tokens - window) / stride), floored at 0;
    // `div` keeps it integral (truncation vs floor differs only below
    // the greatest(0, _) cut, where both normalize to 0).
    docs.select(col("doc_id"), col("lang"), split(col("text"), " ").as("w"))
      .withColumn("_cn", explode(sequence(lit(0),
        greatest(lit(0), expr(s"(size(w) - $window + $stride - 1) div $stride")))))
      // int, not the bigint `div` emits: a >2^31-chunk DOCUMENT cannot
      // exist, and the oracle's INTEGER must match the dumped schema
      .withColumn("chunk_no", col("_cn").cast("int"))
      // alias the slice ONCE: both consumers read the alias, and
      // CollapseProject keeps a multiply-referenced non-cheap expression
      // in its own projection instead of inlining the array copy twice
      // per chunk row (this chunker rides the scan at corpus scale)
      .select(col("doc_id"), col("lang"), col("chunk_no"),
        slice(col("w"), col("chunk_no") * stride + 1, lit(window)).as("chunk_w"))
      .select(col("doc_id"), col("lang"), col("chunk_no"),
        size(col("chunk_w")).as("n_tokens"),
        md5(concat_ws(" ", col("chunk_w"))).as("chunk_hash"))
  }

  def chunkDocs(docs: DataFrame, window: Int = 64, stride: Int = 48): DataFrame =
    chunkRel(docs, window, stride).orderBy("doc_id", "chunk_no")

  /** Corpus chunk statistics per language — the aggregate consumer of
    * [[chunkDocs]] (and its bench-honest form: the distinct-hash count
    * structurally depends on every chunk's content, so `count()` cannot
    * prune the chunk construction). The duplicate-chunk gap
    * (`n_chunks - n_distinct_chunks`) is the chunk-level dedup signal a
    * RAG index build keys on. */
  def chunkStats(docs: DataFrame, window: Int = 64, stride: Int = 48): DataFrame =
    chunkRel(docs, window, stride)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("chunk_hash")).as("n_distinct_chunks"),
        round(avg(col("n_tokens")), 6).as("avg_chunk_tokens"),
        max(col("chunk_no")).as("max_chunk_no"))
      .orderBy("lang")
}
