package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines. Random sampling
  * (`df.sample`) is non-reproducible across runs/engines and useless for
  * A/B-stable corpus construction; these operators sample by CONTENT HASH,
  * so the same document lands in the same split on every engine, at every
  * scale, regardless of partitioning or row order.
  *
  * Scale design:
  *   - the predicate is a pure projection (md5 + substr compare) — fully
  *     codegen'd, map-side only, no shuffle, no driver state; at 100 TB it
  *     rides the scan and costs one hash per row;
  *   - rate control is hex-prefix range: the first 2 hex chars partition
  *     the hash space into 256 uniform buckets, so rate = buckets/256 —
  *     deterministic, composable (a 1/4 sample CONTAINS the 1/8 sample:
  *     prefix < '20' ⊂ prefix < '40'), and engine-portable (md5 is
  *     bit-identical everywhere, unlike xxhash/rand seeds);
  *   - stratification is the same predicate grouped by stratum — no
  *     per-group reservoir state, so it distributes trivially (compare:
  *     reservoir sampling needs a single-pass sequential scan per group).
  */
object Sampling {

  /** Hash-bucket membership: true iff the doc's md5 bucket (first 2 hex
    * chars = 256 buckets) falls below `buckets`. Keyed on doc_id, not
    * text, so exact-duplicate texts can still land in different splits
    * (dedup is its own operator, not a sampling side effect). */
  def hashBucketPred(keyCol: Column, buckets: Int): Column = {
    require(buckets >= 1 && buckets <= 256, s"buckets must be 1..256, got $buckets")
    // 256 = keep-everything; the general formula would render a 3-char
    // bound "100" that lexicographically sorts BELOW most 2-char hex
    // prefixes and silently inverted the predicate
    if (buckets == 256) lit(true)
    else substring(md5(keyCol.cast("string")), 1, 2) < lit(f"$buckets%02x")
  }

  /** P6: deterministic uniform sample — keep docs whose md5(doc_id)
    * prefix falls in the first `buckets`/256 of the hash space
    * (buckets=64 → 25% expected rate). Returns the sampled rows. */
  def hashSample(docs: DataFrame, buckets: Int = 64): DataFrame =
    docs.filter(hashBucketPred(col("doc_id"), buckets))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id")

  /** P20: leakage-safe train/val/test split — near-duplicate documents
    * must land in the SAME split, or eval scores silently measure
    * memorized training near-copies. Each doc is assigned its verified
    * near-dup cluster's min-label representative ([[Dedup
    * .verifiedClusters]] — memoized, so d07/p09 and this query share
    * one LSH+verify+CC materialization); singletons represent
    * themselves; the deterministic md5 bucket is then taken on the
    * REPRESENTATIVE, so a whole cluster moves as one unit. Split
    * fractions are hash-space prefixes (test = first `testBuckets`/256,
    * val the next `valBuckets`/256) — reproducible, engine-portable,
    * and composable with [[hashBucketPred]]'s guarantees. Map-only past
    * the cluster join: the cluster sliver broadcasts (near-dup docs are
    * a sliver of any real corpus). */
  def leakageSafeSplit(docs: DataFrame, threshold: Double = 0.8,
                       testBuckets: Int = 32, valBuckets: Int = 32): DataFrame = {
    require(testBuckets >= 0 && valBuckets >= 0 && testBuckets + valBuckets < 256,
      s"test+val buckets must fit below 256, got $testBuckets + $valBuckets")
    val clusters = Dedup.verifiedClusters(docs, threshold)
      .select(col("doc_id"), col("cluster_id"))
    val rep = docs.select(col("doc_id"))
      .join(broadcast(clusters), Seq("doc_id"), "left")
      .withColumn("rep_id", coalesce(col("cluster_id"), col("doc_id")))
    // the bucket predicate IS hashBucketPred on the representative —
    // one definition of the hash-space prefix, shared with p06/p07
    def below(n: Int): Column =
      if (n == 0) lit(false) else hashBucketPred(col("rep_id"), n)
    rep.select(col("doc_id"), col("rep_id"),
        when(below(testBuckets), "test")
          .when(below(testBuckets + valBuckets), "val")
          .otherwise("train").as("split"))
      .orderBy("doc_id")
  }

  /** P21: [[leakageSafeSplit]] extended to SPAN-level leakage —
    * round 9's form moves near-dup *clusters* as one unit, but two
    * documents sharing only a repeated boilerplate *span* (the t11
    * relation) are far below any Jaccard threshold and could still
    * straddle train/test, leaking the shared span verbatim into eval.
    * Here the split graph is the UNION of two edge sets:
    *
    *   - the verified near-dup pairs ([[Dedup.verifiedPairs]] — the
    *     memoized sliver d07/p09/p20 already share), and
    *   - span-sharing edges from the t11 span relation
    *     ([[TextAnalysis.spanRel]]): docs sharing any `window`-word
    *     span connect. The edge set is the STAR form — each doc links
    *     to its shared span's min-doc_id owner, not to every co-holder
    *     — which has the same connected components as the clique but
    *     O(span occurrences) edges instead of O(occurrences²) per
    *     boilerplate span: a universal footer shared by 10⁶ docs emits
    *     10⁶ edges, not 10¹². Owner resolution is a `groupBy(seg)` min
    *     — map-side combined, skew-neutral, the t11 keeper shape.
    *
    * Connected components over the union ([[ConnectedComponents
    * .minLabelOverEndpoints]] — endpoint-only, runs on the sliver), the
    * md5 bucket taken on the component representative: any two docs
    * connected through ANY chain of near-dups or shared spans land in
    * the same split. Oracle p21 (recursive CTE over the union graph);
    * span-cohesion + dominance-over-p20 pinned in SamplingSpec. */
  def leakageSafeSplitSpans(docs: DataFrame, threshold: Double = 0.8,
                            window: Int = 8,
                            testBuckets: Int = 32, valBuckets: Int = 32): DataFrame = {
    require(testBuckets >= 0 && valBuckets >= 0 && testBuckets + valBuckets < 256,
      s"test+val buckets must fit below 256, got $testBuckets + $valBuckets")
    val dupEdges = Dedup.verifiedPairs(docs, threshold).select("i", "j")
    // FULL windows only: spanRel also emits each doc's trailing partial
    // chunk (down to one word — t11 wants that, C4 scrubs tails too),
    // but as LEAKAGE EDGES short tails are hubs: every doc ending in
    // "thanks" would chain into one giant split component through a
    // 1-word "span" that leaks nothing
    val segs = TextAnalysis.spanRel(docs, window).select("doc_id", "seg")
      .filter(size(split(col("seg"), " ")) === window)
    val owner = segs.groupBy("seg").agg(min("doc_id").as("i"))
    val spanEdges = segs.join(owner, Seq("seg"))
      .filter(col("doc_id") =!= col("i"))
      .select(col("i"), col("doc_id").as("j"))
      .distinct()
    val labels = ConnectedComponents
      .minLabelOverEndpoints(dupEdges.unionByName(spanEdges))
      .select(col("node").as("doc_id"), col("label"))
    // NO broadcast hint, unlike p20: near-dup clusters are a corpus
    // sliver, but span-sharing docs need not be — a universal footer
    // puts most of a boilerplate-heavy corpus into `labels`. Let AQE
    // pick broadcast when it IS small
    val rep = docs.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("rep_id", coalesce(col("label"), col("doc_id")))
    def below(n: Int): Column =
      if (n == 0) lit(false) else hashBucketPred(col("rep_id"), n)
    rep.select(col("doc_id"), col("rep_id"),
        when(below(testBuckets), "test")
          .when(below(testBuckets + valBuckets), "val")
          .otherwise("train").as("split"))
      .orderBy("doc_id")
  }

  /** P7: stratified sampling ACCOUNTING — per-stratum totals, sampled
    * counts, and realized rates for the same hash predicate. One scan,
    * one tiny aggregate; the conditional count is map-side combined. */
  def stratifiedSummary(docs: DataFrame, buckets: Int = 64): DataFrame =
    docs.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("total"),
        count(when(hashBucketPred(col("doc_id"), buckets), 1)).as("sampled"))
      .withColumn("rate",
        round(col("sampled").cast("double") / col("total"), 6))
      .orderBy("lang")

  /** P17: source-mix balancing — cap each source's contribution to the
    * training corpus at `perSource` documents, keeping its
    * HIGHEST-QUALITY ones ([[TextAnalysis.qualityScoreExpr]], ties by
    * doc_id asc). The standard data-mix lever: one over-crawled source
    * must not drown the mixture.
    *
    * Scale shape: the rank-window form shuffles every scored document on
    * `source` and sorts each source's partition (a hot source = one huge
    * sorted partition); this uses the native top-k heap aggregate
    * ([[graft.functions.TopKByScore]]) instead — per-source heaps
    * partial-aggregate MAP-SIDE, so exactly `perSource` rows per source
    * per partition cross the shuffle regardless of how many documents a
    * source has. Skew-immune by construction. */
  def capPerSource(docs: DataFrame, perSource: Int = 15): DataFrame =
    docs.select(col("doc_id"), col("source"),
      TextAnalysis.qualityScoreExpr(col("text")).as("q"))
      .groupBy("source")
      .agg(graft.functions.topk_by_score(col("q"), col("doc_id"), perSource).as("top"))
      .select(col("source"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("source"), (col("pos") + 1).cast("int").as("rank"),
        col("p.id").as("doc_id"), col("p.score").as("quality_score"))
      .orderBy("source", "rank")

  /** Temperature-based group rebalancing (the multilingual-pretraining
    * α-sampling recipe — resample groups toward `share^α`, α < 1
    * flattening the distribution so rare languages/sources stop being
    * drowned): with group counts n_g, the keep-rate is
    * `r_g = (n_g / n_min)^(α−1)` — the rarest group keeps everything,
    * a group k× larger keeps k^(α−1) of itself; the kept corpus's group
    * shares are then ∝ n_g^α, the temperature-T = 1/α softmax of the
    * original shares. Rates round to 6dp (engine-portable pow) and
    * membership is the md5-uniform u < r_g test — deterministic,
    * reproducible, composable with every other md5-keyed stage.
    *
    * Scale: the rate table is |groups| rows (broadcast); membership is
    * a pure projection riding the scan. One tiny aggregate, no
    * corpus-scale shuffle. */
  def temperatureRates(docs: DataFrame, groupCol: String = "lang",
                       alpha: Double = 0.3): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha in (0,1], got $alpha")
    val counts = docs.groupBy(groupCol).agg(count(lit(1)).as("n"))
    val nmin = counts.agg(min("n").as("nmin"))
    counts.crossJoin(broadcast(nmin))
      .select(col(groupCol), col("n"),
        round(pow(col("n").cast("double") / col("nmin"), alpha - 1.0), 6)
          .as("rate"))
  }

  /** Per-group audit of the α-sample (the docs whose md5-uniform draw
    * falls under their group's temperature rate): total, kept, and the
    * rate — the oracle-checked summary relation. Computed from the
    * PRE-filter join (conditional count), so a group the draw empties
    * still reports its kept=0 row instead of vanishing. */
  def temperatureSummary(docs: DataFrame, groupCol: String = "lang",
                         alpha: Double = 0.3): DataFrame = {
    val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("double") + 0.5) / 4294967296.0
    docs.join(broadcast(temperatureRates(docs, groupCol, alpha)), groupCol)
      .groupBy(groupCol).agg(first("n").as("total"),
        count(when(u < col("rate"), 1)).as("kept"), first("rate").as("rate"))
      .orderBy(groupCol)
  }

  /** Deterministic per-document shuffle key: md5 over (seed, doc key) —
    * reproducible across engines/runs (unlike rand(seed), whose stream
    * depends on partitioning), re-seedable per epoch, and ORDER-SAFE:
    * fixed-length hex compares lexicographically exactly as the 128-bit
    * number it encodes. */
  def shuffleKey(keyCol: Column, seed: Long): Column =
    md5(concat_ws(":", lit(seed), keyCol.cast("string")))

  /** P18: reproducible global shuffle for a training export — the order
    * a dataloader should read the corpus in for epoch `seed`. Each doc
    * gets a [[shuffleKey]] and a shard (first hex byte mod `shards`);
    * the epoch order is (shard, shuffle_key). Pure projection — no
    * shuffle, no global sort, no per-row state: at 100 TB the key
    * assignment rides the scan. */
  def shuffledOrder(docs: DataFrame, seed: Long = 0, shards: Int = 16): DataFrame = {
    require(shards >= 1 && shards <= 256, s"shards must be 1..256, got $shards")
    docs.select(col("doc_id"), shuffleKey(col("doc_id"), seed).as("shuffle_key"))
      .withColumn("shard",
        (conv(substring(col("shuffle_key"), 1, 2), 16, 10).cast("int") % shards).cast("int"))
      .select(col("shard"), col("shuffle_key"), col("doc_id"))
      .orderBy("shard", "shuffle_key")
  }

  /** DSIR-style importance SCORING (Data Selection for Language Models
    * via Importance Resampling, Xie et al. 2023 — the hashed-n-gram
    * form): each document is scored by the log-likelihood ratio of its
    * hashed unigram+bigram bag under the TARGET distribution (documents
    * matching `targetPred`) vs the raw corpus distribution —
    * `score(x) = Σ_f c_f(x) · [ln p̂_tgt(f) − ln p̂_raw(f)]`, with both
    * distributions Laplace-smoothed over the fixed 4096-bucket hash
    * space. Features are md5-prefix buckets of space-tokenized
    * lowercase 1/2-grams, so the score is bit-reproducible across
    * engines (no murmur seeds, no float feature vectors).
    *
    * NOT lazy: estimating the model EXECUTES a Spark job at call time —
    * the ≤ 4096-row (bucket, rawc, tgtc) distribution is collected to
    * the driver so the log-ratio table enters the returned plan as a
    * broadcast LocalRelation (see [[scoreOf]]; keeping the model
    * in-plan cost a third full gram-aggregate pass). Callers that need
    * deferred execution should persist [[dsirDistribution]] once and
    * score batches with [[dsirScoreAgainst]].
    *
    * Scale shape: one explode + ONE (doc_id, bucket) count aggregate
    * over the gram stream (combiner-friendly: grams repeat within a
    * doc); the distribution table is ≤ 4096 rows — it and the 1-row
    * totals broadcast back, so the per-doc score join is map-side. At
    * 100 TB nothing but the doc-keyed aggregate shuffles, and that is
    * |doc × distinct-bucket| ≤ |tokens|. */
  def dsirScores(docs: DataFrame, targetPred: Column): DataFrame = {
    // localCheckpoint: `bb` feeds BOTH the distribution estimate (which
    // executes immediately — distOf collects ≤ 4096 rows to localize
    // the model) and the returned scoring plan. Without pinning it, the
    // gram explode + md5 bucketing + (doc, bucket) aggregate — the one
    // corpus-scale stage in the DSIR path — ran twice per call, once
    // under each consumer. bb is |doc × distinct-bucket| rows (tiny
    // next to the gram stream), the materialize-the-sliver shape p25
    // already uses for its survivor set.
    //
    // Trade-offs this localCheckpoint accepts (deliberately): (1) the
    // call is now EAGER — the bucket-count job runs here, not when the
    // returned plan first executes; (2) checkpoint blocks live on
    // executor storage with lineage truncated, so losing an executor
    // before the caller consumes the plan fails the query instead of
    // recomputing. Both are fine for a bounded sliver consumed within
    // the same call chain; a long-lived deferred plan should use
    // dsirDistribution + dsirScoreAgainst (the frozen-model pair).
    val bb = bucketCounts(docs, targetPred).localCheckpoint()
    scoreOf(bb, distOf(bb))
  }

  /** The estimated language-model side alone: (bucket, rawc, tgtc)
    * counts over the fixed 4096-bucket hash space — ≤ 4096 rows for ANY
    * corpus size, the artifact a streaming ingest persists once at seed
    * time ([[graft.streaming.StreamingDsir]]) and every later batch
    * scores against. */
  def dsirDistribution(docs: DataFrame, targetPred: Column): DataFrame =
    distOf(bucketCounts(docs, targetPred))

  /** Score `docs` against an ALREADY-ESTIMATED distribution table (the
    * frozen-model form — the ANN layer's append-without-retrain story
    * applied to DSIR: scoring new arrivals must not silently re-estimate
    * the model, or earlier scores stop being comparable). Buckets the
    * seed never saw take the Laplace default
    * `ln((rtot+B)/(ttot+B))` — the smoothed LLR of a zero-count
    * feature; in the self-scored batch form every bucket is present, so
    * [[dsirScores]] is unchanged by this generalization. */
  def dsirScoreAgainst(docs: DataFrame, dist: DataFrame): DataFrame =
    scoreOf(bucketCounts(docs, lit(false)), dist)

  private val DsirBuckets = 4096

  private def bucketOf(c: Column): Column =
    (conv(substring(md5(c), 1, 8), 16, 10).cast("long") % DsirBuckets)

  /** P24: CCNet/Gopher-style LANGUAGE-MODEL QUALITY FILTER — score every
    * document by its log-perplexity under an interpolated hashed-bigram
    * LM trained on a reference slice (`refPred`), keep the fluent ones.
    * Per adjacent token pair (w₁, w₂):
    *   lp = ln( λ·(c₂(w₁w₂)+1)/(c₁(w₁)+B) + (1−λ)·(c₁(w₂)+1)/(T+B) )
    * with c₂/c₁ the reference bigram/unigram counts over the same
    * 4096-bucket md5 hash space DSIR uses (B = 4096, T = reference token
    * total) — the bigram term backs off to the unigram through the
    * interpolation, and every probability is Laplace-smoothed so unseen
    * buckets stay finite. A document's `nll` is the mean −lp over its
    * pairs (log-perplexity; `ppl = e^nll`), `keep = nll ≤ keepBelow`.
    * Docs with fewer than two tokens have no pairs and no row (they
    * carry no LM evidence either way) — same contract as the span/gram
    * operators.
    *
    * Like [[dsirScores]], estimating the model EXECUTES jobs at call
    * time: the two ≤ 4096-row count tables collect to the driver and
    * enter the scoring plan as broadcast LocalRelations, so scoring
    * itself is one explode + three broadcast joins + one per-doc
    * aggregate — nothing but the (doc, pair) stream shuffles, and that
    * only into its own doc-keyed aggregate. At 100 TB the model stays
    * ≤ 4096 rows NO MATTER the corpus (the hashing is the bound), which
    * is what makes this a broadcast, not a join.
    *
    * The verdict column follows CCNet's head/middle/tail: documents are
    * EXACT perplexity TERCILES of the scored pool ((nll, doc_id) rank —
    * fully tie-broken, engine-portable), `keep = bucket ≠ 'tail'`. The
    * global rank is the p22 two-pass range-partitioned prefix sum, NOT
    * a window — no single-task sort at any scale. A fixed absolute
    * threshold would be the production choice only after a held-out
    * calibration; terciles are self-calibrating and exercise every
    * branch on any corpus. */
  def lmPerplexity(docs: DataFrame, refPred: Column,
                   lambda: Double = 0.7): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val scored = lmScoreAgainst(docs, lmModel(docs, refPred), lambda)
    // exact terciles via the p22 rank shape: range exchange + per-
    // partition prefix offsets from the count job (which also yields n)
    val sorted = scored
      .repartitionByRange(col("nll"), col("doc_id"))
      .sortWithinPartitions(col("nll"), col("doc_id"))
      .select(col("doc_id"), col("n_pairs"), col("nll"), col("ppl"))
      .as[(Long, Long, Double, Double)]
    val srdd = sorted.rdd
    val counts = srdd.sparkContext.runJob(srdd,
      (it: Iterator[(Long, Long, Double, Double)]) => {
        var n = 0L; while (it.hasNext) { it.next(); n += 1 }; n
      })
    val offsets = counts.scanLeft(0L)(_ + _)
    val n = offsets.last
    val (c1, c2) = (math.ceil(n / 3.0).toLong, math.ceil(2.0 * n / 3.0).toLong)
    srdd.mapPartitionsWithIndex { (pi, it) =>
        var r = offsets(pi)
        it.map { case (id, np, nll, ppl) =>
          r += 1
          (id, np, nll, ppl, if (r <= c1) "head" else if (r <= c2) "middle" else "tail")
        }
      }.toDF("doc_id", "n_pairs", "nll", "ppl", "ppl_bucket")
      .withColumn("keep", col("ppl_bucket") =!= "tail")
      .orderBy("doc_id")
  }

  /** The reference LM alone: unigram + bigram bucket counts over the
    * 4096-bucket hash space as ONE (kind, bucket, c) relation — ≤ 8192
    * rows for ANY corpus, the artifact a streaming ingest persists at
    * seed time ([[graft.streaming.StreamingPerplexity]]) and every
    * later batch scores against (the [[dsirDistribution]] pattern). */
  def lmModel(docs: DataFrame, refPred: Column): DataFrame = {
    val toks = split(lower(col("text")), " ")
    // ONE scan + explode of the reference slice, not one per gram order
    // (the union form scanned and tokenized `ref` twice): 1-grams and
    // 2-grams ride the same exploded stream, and the gram order is
    // recovered exactly from the joiner — a 1-gram is a single
    // space-split token (never contains ' '), a 2-gram always carries
    // the ' ' word_ngrams joins with. Same (kind, bucket, c) rows.
    docs.filter(refPred)
      .select(explode(concat(graft.functions.word_ngrams(toks, 1),
        graft.functions.word_ngrams(toks, 2))).as("g"))
      .groupBy(when(col("g").contains(" "), "bi").otherwise("uni").as("kind"),
        bucketOf(col("g")).as("bucket"))
      .agg(count(lit(1)).as("c"))
      .select("kind", "bucket", "c")
  }

  /** Score `docs` against an ALREADY-ESTIMATED model (frozen-model form —
    * scores stay comparable across batches, the [[dsirScoreAgainst]]
    * contract): per-doc (n_pairs, nll, ppl), no tercile verdict — a
    * bucket cut is a decision over the ACCUMULATED score table, not a
    * per-batch one. Localizes the ≤ 8192-row model to broadcast
    * LocalRelations (one collect; the scoring plan itself is one
    * explode + three broadcast joins + a doc-keyed aggregate). */
  def lmScoreAgainst(docs: DataFrame, model: DataFrame,
                     lambda: Double = 0.7): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rows = model.select(col("kind"), col("bucket").cast("long"),
      col("c").cast("long")).as[(String, Long, Long)].collect()
    val tTot = rows.collect { case ("uni", _, c) => c }.sum.toDouble
    val B = DsirBuckets.toDouble
    // the model as two DENSE 4096-long array LITERALS, indexed in-row
    // with element_at: the bucket space is fixed and tiny, so the three
    // broadcast hash joins the sparse form needed (one per bucketed
    // column, each a probe + coalesce over the corpus-scale pair
    // stream) collapse into pure projection arithmetic — absent
    // buckets hold 0, exactly what coalesce(c, 0) produced.
    val c1Arr = new Array[Long](DsirBuckets)
    val c2Arr = new Array[Long](DsirBuckets)
    // guard the dense-array write: models built by [[lmModel]] only emit
    // buckets in [0, DsirBuckets), but this is a PUBLIC frozen-model API
    // — an externally stored/edited model row with an out-of-range
    // bucket must be IGNORED (exactly what the pre-r14 broadcast join
    // did: a key that matches nothing contributes nothing), not crash
    // the driver with ArrayIndexOutOfBounds
    rows.foreach {
      case ("uni", b, c) if b >= 0 && b < DsirBuckets => c1Arr(b.toInt) = c
      case ("bi", b, c) if b >= 0 && b < DsirBuckets => c2Arr(b.toInt) = c
      case _ => ()
    }
    def look(arr: Array[Long], bucket: Column): Column =
      element_at(lit(arr), (bucket + 1).cast("int"))
    val toks = split(lower(col("text")), " ")
    // word_bigram_structs emits (gram, prev, cur) in one native pass, so
    // no re-`split` of the gram string it was concatenated from runs in
    // the exploded hot path
    val pairs = docs
      .select(col("doc_id"),
        explode(graft.functions.word_bigram_structs(toks)).as("bi"))
      .select(col("doc_id"),
        bucketOf(col("bi.gram")).as("b2"),
        bucketOf(col("bi.prev")).as("bprev"),
        bucketOf(col("bi.cur")).as("bcur"))
    val lp = pairs
      .select(col("doc_id"),
        log(lit(lambda) * (look(c2Arr, col("b2")) + 1.0)
            / (look(c1Arr, col("bprev")) + B)
          + lit(1.0 - lambda) * (look(c1Arr, col("bcur")) + 1.0)
            / (tTot + B)).as("lp"))
    lp.groupBy("doc_id")
      .agg(count(lit(1)).as("n_pairs"), round(-sum(col("lp")) / count(lit(1)), 6).as("nll"))
      // ppl at 2dp: exp() of the two engines can differ in the last ulp,
      // and at e^8 ≈ 3000 a 6dp quantum sits close enough to that ulp to
      // straddle occasionally — 2dp leaves 10 orders of margin
      .withColumn("ppl", round(exp(col("nll")), 2))
  }

  /** (doc_id, _tgt, bucket, c): md5-prefix-hashed lowercase 1/2-gram
    * counts — the one corpus-scale aggregate in the DSIR path. */
  private def bucketCounts(docs: DataFrame, targetPred: Column): DataFrame = {
    val toks = split(lower(col("text")), " ")
    docs
      .select(col("doc_id"), targetPred.as("_tgt"),
        explode(concat(graft.functions.word_ngrams(toks, 1),
          graft.functions.word_ngrams(toks, 2))).as("gram"))
      // bucketOf is THE hash-space definition: DSIR and the p24 LM
      // scorer must bucket identically (their oracles assume one space)
      .select(col("doc_id"), col("_tgt"), bucketOf(col("gram")).as("bucket"))
      .groupBy("doc_id", "_tgt", "bucket").agg(count(lit(1)).as("c"))
  }

  private def distOf(bb: DataFrame): DataFrame =
    bb.groupBy("bucket")
      .agg(sum("c").as("rawc"), sum(when(col("_tgt"), col("c"))).as("tgtc"))

  /** The model side LOCALIZES: `dist` is ≤ 4096 rows by construction, so
    * it is collected once and the log-ratio table enters the scoring
    * plan as a broadcast LocalRelation (an O(4096) driver sketch, not a
    * data collect). Keeping it in-plan
    * cost three full gram-aggregate passes over the corpus (dist, its
    * totals, and scoring each re-derived the explode+count); localized,
    * self-scoring is two corpus passes and a streaming batch scores in
    * ONE. */
  private def scoreOf(bb: DataFrame, dist: DataFrame): DataFrame = {
    val B = DsirBuckets.toDouble
    val rows = dist.select(col("bucket").cast("long"),
      col("rawc").cast("long"), coalesce(col("tgtc"), lit(0L)).cast("long"))
      .collect()
    val rtot = rows.map(_.getLong(1)).sum.toDouble
    val ttot = rows.map(_.getLong(2)).sum.toDouble
    val default = math.log((rtot + B) / (ttot + B))
    // dense 4096-double array literal indexed with element_at — the
    // broadcast-join + coalesce form probed a hash relation per bb row;
    // the fixed bucket space makes the lookup pure projection
    // arithmetic. Buckets the distribution never saw hold the Laplace
    // default, exactly what the join's null branch produced.
    val logrArr = Array.fill(DsirBuckets)(default)
    // bounds guard for the PUBLIC frozen-model path (dsirScoreAgainst
    // accepts externally stored dist frames): an out-of-range bucket row
    // is ignored, matching the pre-r14 broadcast join's no-match branch
    rows.foreach { r =>
      val b = r.getLong(0)
      if (b >= 0 && b < DsirBuckets)
        logrArr(b.toInt) =
          math.log((r.getLong(2) + 1.0) / (ttot + B)) -
            math.log((r.getLong(1) + 1.0) / (rtot + B))
    }
    bb.withColumn("_lr", element_at(lit(logrArr), (col("bucket") + 1).cast("int")))
      .groupBy("doc_id")
      .agg(sum("c").as("n_feats"),
        round(sum(col("c") * col("_lr")), 6).as("score"))
  }

  /** P22: DSIR importance RESAMPLING — keep the top `fraction` of the
    * corpus by Gumbel-perturbed importance score (the Gumbel-top-k
    * trick: adding i.i.d. Gumbel noise to log-weights and taking the
    * top k IS sampling-without-replacement ∝ the weights, so the
    * selection is diverse rather than a hard score cutoff; the noise is
    * md5-derived from (seed, doc_id), fully reproducible). The global
    * rank over the perturbed key is `zipWithIndex` over a
    * range-partitioned sort — the Packing two-pass prefix-sum shape
    * (O(partitions) driver bytes, no single-task Window); at 100 TB
    * it's one range exchange, the price of any exact global top-f.
    * `fraction` is of the SCORED pool (docs with ≥ 1 hashed gram —
    * featureless docs carry no importance weight and are absent from
    * the output either way), so k comes from the rank pass's own
    * per-partition counts and the corpus is never re-scanned to size it.
    * Output: per-doc (n_feats, score, gumbel_key, rank, selected),
    * doc_id-ordered; keys rounded to 6dp BEFORE ranking so the order is
    * engine-portable, ties broken by doc_id. */
  def dsirResample(docs: DataFrame, targetPred: Column,
                   fraction: Double = 0.25, seed: Long = 0): DataFrame = {
    require(fraction > 0 && fraction <= 1, s"fraction in (0,1], got $fraction")
    val spark = docs.sparkSession
    import spark.implicits._
    val u = (conv(substring(
      md5(concat_ws(":", lit(seed), col("doc_id").cast("string"))), 1, 8),
      16, 10).cast("double") + 0.5) / 4294967296.0
    val keyed = dsirScores(docs, targetPred)
      .withColumn("gumbel_key", round(col("score") - log(-log(u)), 6))
    val sorted = keyed
      .repartitionByRange(col("gumbel_key").desc, col("doc_id"))
      .sortWithinPartitions(col("gumbel_key").desc, col("doc_id"))
      .select(col("doc_id"), col("n_feats"), col("score"), col("gumbel_key"))
      .as[(Long, Long, Double, Double)]
    // Hand-rolled zipWithIndex (the Packing two-pass prefix sum): the
    // count job's per-partition sizes give BOTH the rank offsets and the
    // scored-pool total, so k costs no extra corpus action (the old
    // docs.count() was a third full pass). Both jobs derive from this
    // ONE RDD instance, so the scoring stages up to the range exchange
    // compute once and the second job reads the existing shuffle files
    // (skipped stages); no persist needed.
    val srdd = sorted.rdd
    val counts = srdd.sparkContext.runJob(srdd,
      (it: Iterator[(Long, Long, Double, Double)]) => {
        var n = 0L; while (it.hasNext) { it.next(); n += 1 }; n
      })
    val offsets = counts.scanLeft(0L)(_ + _)
    val k = math.ceil(fraction * offsets.last).toLong
    val ranked = srdd.mapPartitionsWithIndex { (pi, it) =>
      var r = offsets(pi)
      it.map { case (id, nf, sc, gk) => r += 1; (id, nf, sc, gk, r) }
    }.toDF("doc_id", "n_feats", "score", "gumbel_key", "rank")
    ranked.withColumn("selected", col("rank") <= k).orderBy("doc_id")
  }
}
