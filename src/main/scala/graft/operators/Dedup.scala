package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication suite over `documents(doc_id, text, ...)` — the
  * training-data-pipeline layer (no reference counterpart). Four families:
  * exact (hash groupBy), MinHash+LSH (shingle → signature → band →
  * bucket-join), SimHash (bit-majority fingerprint), and exact n-gram
  * Jaccard verification over the LSH candidates.
  *
  * Hash choice: md5 — not for speed but because it is bit-identical across
  * engines, which makes every stage DuckDB-oracle-checkable. At production
  * scale you'd swap in xxhash64 (Spark-codegen'd, ~20× faster) behind the
  * same plan shapes; the shuffle structure below is the part that matters.
  *
  * Scale design:
  *   - shingling explodes each doc into ~len(text) rows — embarrassingly
  *     parallel, no shuffle until the per-doc signature aggregate;
  *   - the MinHash signature is ONE groupBy(doc_id) computing all k mins
  *     (single shuffle, map-side partial min);
  *   - LSH banding turns all-pairs O(n²) into a self-join on (band, key):
  *     only near-dup docs collide, so the join output is ~|dup pairs|, and
  *     the shuffle key (band_key) is uniform unless the corpus is
  *     pathologically self-similar;
  *   - exact Jaccard runs only on LSH candidates — the verify step touches
  *     |candidates| × shingle rows, never n².
  */
object Dedup {

  /** The dedup DAGs are diamonds: the shingle/signature relation feeds
    * 3-5 downstream branches, and Catalyst does NOT reuse non-identical
    * exchanges — without this, the md5-heavy subtree recomputes per
    * branch (verified via Explain: 12 scans, 0 ReusedExchange). At
    * production scale the signatures are MATERIALIZED to storage
    * (SCALE.md); `persist` is the in-process analog. The relations are
    * per-doc-scale (≪ corpus bytes), so MEMORY_AND_DISK is safe. */
  private val liveCaches = new scala.collection.mutable.ArrayBuffer[DataFrame]

  private def shared(df: DataFrame): DataFrame = liveCaches.synchronized {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    liveCaches += p
    p
  }

  /** Evict the PREVIOUS pipeline's persisted TRANSIENT relations. Called
    * at the start of each top-level pipeline builder (clear-then-build),
    * never from inside `shared`, so a pipeline can never evict its own
    * relations mid-construction; at most one pipeline's ~3 small
    * relations stay live in a long-running session. (Unpersisting a
    * frame a caller still holds is safe — it just recomputes.)
    *
    * Deliberately does NOT touch [[pairsMemo]]: the memoized verified
    * pairs are the cross-query shared sliver (d07's clustering and p09's
    * curation both read it, with arbitrary other dedup queries running in
    * between), so only the explicit [[releaseCaches]] hook evicts it. */
  private def freshPipeline(): Unit = liveCaches.synchronized {
    liveCaches.foreach(_.unpersist(blocking = false))
    liveCaches.clear()
  }

  /** Release ALL persisted dedup state: the transient pipeline
    * intermediates, the memoized chain relations, and the memoized
    * verified-pairs relations. */
  def releaseCaches(): Unit = {
    freshPipeline()
    // separate sync blocks: never hold two locks at once (verifiedPairs
    // takes pairsMemo → liveCaches; a combined block here would invert)
    chainMemo.synchronized {
      chainMemo.valuesIterator.foreach(c =>
        Seq(c.sh, c.sig, c.cands).foreach(_.unpersist(blocking = false)))
      chainMemo.clear()
    }
    pairsMemo.synchronized {
      pairsMemo.valuesIterator.foreach(_.unpersist(blocking = false))
      pairsMemo.clear()
    }
    bloomMemo.synchronized(bloomMemo.clear()) // driver objects, no unpersist
    labelsMemo.synchronized {
      labelsMemo.valuesIterator.foreach(_.unpersist(blocking = false))
      labelsMemo.clear()
    }
    simMemo.synchronized {
      simMemo.valuesIterator.foreach(c =>
        Seq(c.sig, c.cands).foreach(_.unpersist(blocking = false)))
      simMemo.clear()
    }
  }

  /** Distinct word 3-gram shingles per doc — the default unit for MinHash.
    * ~6× fewer rows than char 5-grams on prose (one shingle per word, not
    * per char), which directly scales down every downstream hash/join.
    *
    * Set semantics with ZERO shuffle: the shingle array is built and
    * deduplicated INSIDE one projection (the native
    * [[graft.functions.DistinctShingles]] expression — one codegen'd
    * pass, LinkedHashSet dedup), then exploded — a doc's duplicate
    * shingles are co-located in its own row by construction, so no
    * exchange is needed to remove them. This dominates all three earlier
    * shapes: the corpus-wide `.distinct()` (round 3) paid a full shuffle
    * of the shingle relation; the multiset form (round 4) skipped the
    * shuffle but re-hashed every OCCURRENCE of every shingle (d03
    * regressed 2.5×); and the builtin `array_distinct(transform(...))`
    * composition (rounds 5-8, kept as [[wordShinglesHof]]) ran the
    * trigram lambda INTERPRETED per element — measured at 60% of a
    * 500k-doc decontamination run, a 5× stage / 3.4× query win for the
    * native expression. The md5 stage still hashes each distinct shingle
    * exactly once AND no shuffle happens. The DuckDB oracle mirrors the
    * same trigrams with its 1-based lists. */
  def wordShingles(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(
      graft.functions.distinct_shingles(split(col("text"), " "), 3)).as("s"))

  /** The builtin-composed spec [[wordShingles]] replaced: higher-order
    * `transform` is interpreted per element (lambdas never enter
    * whole-stage codegen), and at 25M shingles that interpretation was
    * 60% of the whole decontamination run. Kept for the equality test in
    * `DedupSpec` — the native expression must match it row-for-row. */
  private[graft] def wordShinglesHof(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(array_distinct(
        transform(sequence(lit(0), size(col("w")) - 3),
          i => concat_ws(" ",
            element_at(col("w"), i + 1),
            element_at(col("w"), i + 2),
            element_at(col("w"), i + 3))))).as("s"))

  /** Exact duplicate groups by content hash: md5(text) → group size +
    * canonical (min) doc_id. `n_copies > 1` rows are the duplicate sets;
    * the summary row count equals countDistinct(text). */
  def exactGroups(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))
      .orderBy("text_hash")

  /** Exact-dedup summary: total docs, distinct texts, docs removed. */
  def exactSummary(docs: DataFrame): DataFrame =
    docs.agg(count(lit(1)).as("total_docs"),
        countDistinct(md5(col("text"))).as("distinct_texts"))
      .select(col("total_docs"), col("distinct_texts"),
        (col("total_docs") - col("distinct_texts")).as("removed"))

  /** MinHash signature from a precomputed shingle relation. k hash
    * functions from k/4 md5 evaluations: each 128-bit md5 is sliced into
    * four DISJOINT 8-hex-char (32-bit) substrings, and each slice is an
    * independent hash function of the shingle (unlike the Kirsch-
    * Mitzenmacher linear combination in [[kmSignaturesFrom]], whose
    * argmins correlate and inflate band collisions ~50×). Fixed-width
    * lowercase hex means lexicographic min == numeric min, so the whole
    * thing stays engine-portable. 4× fewer md5 calls and 4× narrower min
    * strings than the one-md5-per-hash formulation. */
  private def signaturesFrom(sh: DataFrame, k: Int): DataFrame = {
    require(k % 4 == 0, s"k must be a multiple of 4 (got $k)")
    val hashed = sh.select(col("doc_id") +:
      (0 until k / 4).map(m => md5(concat(lit(s"$m:"), col("s"))).as(s"m$m")): _*)
    // min over the 8-hex-char STRING slice, knowingly planned as a
    // SortAggregate (min(string) has an immutable buffer, so the
    // aggregate cannot stay in HashAggregate). Round 14 tried the
    // "obvious" fix — min over cast(conv(slice,16,10) as bigint), which
    // hash-aggregates and re-renders to identical hex — and MEASURED the
    // full d14 pipeline ~25-40% SLOWER on every rep: the per-shingle-row
    // conv parse (16 radix conversions × 8 chars) costs more than the
    // sort it saves, because the shingle stream arrives DOC-CLUSTERED
    // from the explode (each doc's rows are consecutive), so the
    // map-side sort runs on nearly-sorted data and the partial
    // SortAggregate collapses each doc before the exchange. Zero-copy
    // substring slices + an adaptive sort beat numeric mins + parsing;
    // keep the string form.
    val mins = (0 until k).map { i =>
      min(substring(col(s"m${i / 4}"), (i % 4) * 8 + 1, 8)).as(s"h$i")
    }
    hashed.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** MinHash signature: k independent hash mins per doc in ONE aggregate
    * pass. h_i(s) = the (i mod 4)-th 8-hex-char slice of
    * md5("<i/4>:" || s), minimized lexicographically — a string-valued
    * MinHash, engine-portable. */
  def minhashSignatures(docs: DataFrame, k: Int = 16): DataFrame =
    signaturesFrom(wordShingles(docs), k)

  private val KmPrime = 2305843009213693951L // 2^61 - 1

  /** A FASTER signature via Kirsch-Mitzenmacher: ONE md5 per shingle
    * parsed into two 56-bit halves (hex chars 1-14 and 18-31), then k
    * derived hashes g_i = (h1 + i·h2) mod (2^61−1) as pure long
    * arithmetic. 4× fewer md5 calls than the slice-based
    * [[minhashSignatures]], long mins instead of string mins, still
    * engine-portable (DuckDB
    * parses the same hex slices with ('0x'||…)::BIGINT; the modular
    * arithmetic is exact, i·h2 ≤ 15·2^56 < 2^60).
    *
    * Measured trade-off (sf0.1, 5000 docs): hash stage ~3× faster, BUT
    * candidate pairs inflate ~50× (256 → 12.6k) — the derived mins are
    * CORRELATED (every g_i's argmin interpolates between argmin(h1) and
    * argmin(h2)), so bands collide far more often than with independent
    * hashes. Use this path only when the verify stage is cheap relative
    * to hashing; the true production swap is k INDEPENDENT xxhash64
    * seeds (same plan shape as [[minhashSignatures]], no portability),
    * which keeps d02's selectivity at xxhash speed. */
  private def kmSignaturesFrom(sh: DataFrame, k: Int): DataFrame = {
    val h1 = expr("cast(conv(substr(md5(s), 1, 14), 16, 10) as bigint)")
    val h2 = expr("cast(conv(substr(md5(s), 18, 14), 16, 10) as bigint)")
    val hashed = sh.select(col("doc_id"), h1.as("h1"), h2.as("h2"))
    val mins = (0 until k).map(i =>
      min(pmod(col("h1") + lit(i.toLong) * col("h2"), lit(KmPrime))).as(s"g$i"))
    hashed.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** The PRODUCTION signature: k INDEPENDENT xxhash64 seeds (seed varied
    * by prefixing the index, exactly like the md5 family), so banding
    * selectivity matches [[minhashSignatures]] at xxhash speed — no hex
    * strings anywhere, min over longs, fully codegen'd. Not DuckDB-
    * mirrorable (no xxhash64 there) → no driver query; `DedupSpec`
    * asserts plan-shape equality with the md5 family and that exact
    * duplicates always become candidates. */
  private def xxSignaturesFrom(sh: DataFrame, k: Int): DataFrame = {
    val mins = (0 until k).map(i => min(xxhash64(lit(i), col("s"))).as(s"x$i"))
    sh.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** LSH candidates over the xxhash64 signatures — the plan twin of
    * [[lshCandidates]] with the portable hash swapped out. */
  def lshCandidatesXx(docs: DataFrame, k: Int = 16, bands: Int = 4): DataFrame = {
    freshPipeline()
    val rows = k / bands
    val sig = shared(xxSignaturesFrom(wordShingles(docs), k))
    val bandStructs = (0 until bands).map { b =>
      val slice = (0 until rows).map(r => col(s"x${b * rows + r}"))
      struct(lit(b).as("band_idx"), xxhash64(slice: _*).as("band_key"))
    }
    val banded = sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("band"))
      .select(col("doc_id"), col("band.band_idx").as("band_idx"), col("band.band_key").as("band_key"))
    val a = banded.select(col("band_idx"), col("band_key"), col("doc_id").as("i"))
    val b = banded.select(col("band_idx"), col("band_key"), col("doc_id").as("j"))
    a.join(b, Seq("band_idx", "band_key")).filter(col("i") < col("j"))
      .select("i", "j").distinct().orderBy("i", "j")
  }

  /** LSH candidates over the K-M fast signatures — same banding shape as
    * [[lshCandidates]] (band key = md5 of the band's decimal-rendered
    * slice; longs print identically on every engine). */
  def lshCandidatesFast(docs: DataFrame, k: Int = 16, bands: Int = 4): DataFrame = {
    freshPipeline()
    val rows = k / bands
    val sig = shared(kmSignaturesFrom(wordShingles(docs), k))
    val bandStructs = (0 until bands).map { b =>
      val slice = (0 until rows).map(r => col(s"g${b * rows + r}"))
      struct(lit(b).as("band_idx"), md5(concat_ws(",", slice: _*)).as("band_key"))
    }
    val banded = sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("band"))
      .select(col("doc_id"), col("band.band_idx").as("band_idx"), col("band.band_key").as("band_key"))
    val a = banded.select(col("band_idx"), col("band_key"), col("doc_id").as("i"))
    val b = banded.select(col("band_idx"), col("band_key"), col("doc_id").as("j"))
    a.join(b, Seq("band_idx", "band_key")).filter(col("i") < col("j"))
      .select("i", "j").distinct().orderBy("i", "j")
  }

  /** (doc_id, band_idx, band_key) from a signature relation — one row per
    * (doc, band). A pure projection + explode over `sig` (no shuffle), so
    * it is derived on demand rather than persisted: the signature is the
    * expensive part and THAT is what the chain memo holds. */
  private def bandedFromSig(sig: DataFrame, k: Int, bands: Int): DataFrame = {
    val rows = k / bands
    val bandStructs = (0 until bands).map { b =>
      val slice = (0 until rows).map(r => col(s"h${b * rows + r}"))
      struct(lit(b).as("band_idx"), md5(concat_ws(",", slice: _*)).as("band_key"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("band"))
      .select(col("doc_id"), col("band.band_idx").as("band_idx"), col("band.band_key").as("band_key"))
  }

  /** Unordered candidate pairs from a banded relation — the form every
    * downstream JOIN consumes ([[jaccardVerified]], [[dupClusters]],
    * [[editVerified]]): a global sort before a hash join is a wasted
    * range shuffle, so the ordering lives only on the public query
    * surface ([[lshCandidates]]). */
  private def candidatesFromBanded(banded: DataFrame): DataFrame = {
    val a = banded.select(col("band_idx"), col("band_key"), col("doc_id").as("i"))
    val b = banded.select(col("band_idx"), col("band_key"), col("doc_id").as("j"))
    a.join(b, Seq("band_idx", "band_key")).filter(col("i") < col("j"))
      .select("i", "j").distinct()
  }

  /** The shared MinHash chain for one (corpus, k, bands): the shingle
    * relation, the per-doc signature, and the LSH candidate pairs. Every
    * md5-family consumer — d02's candidates, d03/d07/p09's verify chain,
    * d06's clustering, d08's edit verify, d11's incremental probe — reads
    * THESE three relations; memoizing the chain (not just the verified
    * pairs) is what stops the sweep tail from re-hashing the corpus once
    * per query. */
  private final case class Chain(sh: DataFrame, sig: DataFrame, cands: DataFrame)

  /** Build-or-reuse the chain. File-backed corpora memoize per
    * (source snapshot, k, bands) with the relations persisted OUTSIDE
    * [[liveCaches]] (a later query's clear-then-build must not evict
    * them); non-file-backed frames build transient relations under the
    * caller's pipeline. Callers run [[freshPipeline]] BEFORE calling this
    * (clear-then-build), never after — in the memoized path the previous
    * pipeline's transients are dropped while the chain survives. */
  private def chainOf(docs: DataFrame, k: Int, bands: Int): Chain =
    fileBackedKey(docs) match {
      case None =>
        val sh = shared(wordShingles(docs))
        val sig = shared(signaturesFrom(sh, k))
        Chain(sh, sig, shared(candidatesFromBanded(bandedFromSig(sig, k, bands))))
      case Some(srcKey) => chainMemo.synchronized {
        val key = (srcKey, k, bands)
        chainMemo.get(key) match {
          case Some(c) if c.cands.storageLevel !=
              org.apache.spark.storage.StorageLevel.NONE =>
            chainMemo.remove(key); chainMemo(key) = c // LRU touch
            c
          case _ =>
            def p(df: DataFrame) =
              df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            val sh = p(wordShingles(docs))
            val sig = p(signaturesFrom(sh, k))
            val c = Chain(sh, sig, p(candidatesFromBanded(bandedFromSig(sig, k, bands))))
            chainMemo(key) = c
            // bounded: evict the least-recently-used chain beyond the cap
            // (a long-running session over many corpora must not pin one
            // persisted chain per corpus forever)
            while (chainMemo.size > ChainMemoMax) {
              val (_, old) = chainMemo.head
              chainMemo.remove(chainMemo.head._1)
              Seq(old.sh, old.sig, old.cands).foreach(_.unpersist(blocking = false))
            }
            c
        }
      }
    }

  private val ChainMemoMax = 4
  private val chainMemo =
    new scala.collection.mutable.LinkedHashMap[(String, Int, Int), Chain]

  /** LSH banding: k mins split into `bands` bands of k/bands rows; band
    * key = md5 of the concatenated band slice. Docs sharing ANY band key
    * are candidates. */
  def lshCandidates(docs: DataFrame, k: Int = 16, bands: Int = 4): DataFrame = {
    freshPipeline()
    chainOf(docs, k, bands).cands.orderBy("i", "j")
  }

  /** Exact n-gram Jaccard over the LSH candidate pairs (the verify stage
    * of the MinHash pipeline). Jaccard is a ratio of integers — exact
    * across engines, no float rounding concerns. The shingle relation is
    * computed ONCE and shared by the signature, size, and intersection
    * branches. */
  def jaccardVerified(docs: DataFrame, threshold: Double, k: Int = 16, bands: Int = 4): DataFrame =
    verifiedRelation(docs, threshold, k, bands).orderBy("i", "j")

  /** The unordered verify chain — consumers that JOIN the result
    * ([[verifiedPairs]]) skip the public surface's global sort. Callers
    * handle cache lifecycle ([[freshPipeline]]) themselves. The shingle
    * and candidate relations come from the shared [[chainOf]] memo —
    * wordShingles is per-doc DISTINCT with no shuffle (array_distinct
    * inside the projection), so it serves both as signature input and as
    * the Jaccard set with no distinct anywhere in this pipeline. */
  private def jaccardCore(docs: DataFrame, threshold: Double, k: Int, bands: Int): DataFrame = {
    val c = chainOf(docs, k, bands)
    verifyCandidates(c.sh, c.cands, threshold)
  }

  /** The Jaccard VERIFY stage over an arbitrary candidate relation —
    * shared by the full chain ([[jaccardCore]]) and the incremental one
    * ([[incrementalVerifiedPairs]]). */
  private def verifyCandidates(shAll: DataFrame, cands: DataFrame,
                               threshold: Double): DataFrame = {
    // Verification only ever reads CANDIDATE docs' shingles, but Catalyst
    // cannot infer that: without this broadcast semi-filter the (j, s)
    // intersection join below shuffles the WHOLE shingle relation on a
    // wide string key. Candidate docs are ~|dup pairs|-scale (a sliver of
    // the corpus at any SF), so the semi-join is a broadcast and every
    // downstream shuffle — the sizes aggregate, the intersection —
    // shrinks to the candidates' shingles.
    val candDocs = cands.select(col("i").as("doc_id"))
      .unionByName(cands.select(col("j").as("doc_id"))).distinct()
    val shC = shAll.join(broadcast(candDocs), Seq("doc_id"), "left_semi")
    val sizes = shC.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val common = cands
      .join(shC.select(col("doc_id").as("i"), col("s")), Seq("i"))
      .join(shC.select(col("doc_id").as("j"), col("s")), Seq("j", "s"))
      .groupBy("i", "j").agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("doc_id").as("i"), col("n").as("ni")), Seq("i"))
      .join(sizes.select(col("doc_id").as("j"), col("n").as("nj")), Seq("j"))
      .select(col("i"), col("j"), col("common"),
        round(col("common").cast("double") / (col("ni") + col("nj") - col("common")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** INCREMENTAL near-dup verification for a growing corpus: candidate
    * pairs that TOUCH at least one doc in `newDocIds` (band join of the
    * new docs' signatures against the full banded relation), Jaccard-
    * verified. The invariant that makes it safe (pinned in DedupSpec):
    * band keys are per-doc, so old×old candidates are untouched by new
    * arrivals — `pairs(old ∪ new) = pairs(old) ∪ incremental(new)`,
    * exactly.
    *
    * This is the batch-append production shape at 100 TB: yesterday's
    * verified pairs live in storage ([[writeVerifiedPairs]]); today's
    * ingest runs THIS — cost ~|new docs| × bands band-join probes plus a
    * candidates-only verify — and appends, instead of re-verifying the
    * corpus square. The new-ids side is a sliver, so it broadcasts. */
  def incrementalVerifiedPairs(allDocs: DataFrame, newDocIds: DataFrame,
                               threshold: Double, k: Int = 16,
                               bands: Int = 4): DataFrame = {
    freshPipeline()
    // the full corpus's shingles + signatures come from the shared chain
    // (the same relations the batch verify built); only the new-docs band
    // probe and its candidates-only verify are fresh work
    val c = chainOf(allDocs, k, bands)
    val banded = bandedFromSig(c.sig, k, bands)
    val ids = newDocIds.select(col(newDocIds.columns.head).as("doc_id"))
    val newBanded = banded.join(broadcast(ids), Seq("doc_id"), "left_semi")
    val a = newBanded.select(col("band_idx"), col("band_key"), col("doc_id").as("n"))
    val b = banded.select(col("band_idx"), col("band_key"), col("doc_id").as("m"))
    val cands = shared(a.join(b, Seq("band_idx", "band_key"))
      .filter(col("n") =!= col("m"))
      .select(least(col("n"), col("m")).as("i"), greatest(col("n"), col("m")).as("j"))
      .distinct())
    verifyCandidates(c.sh, cands, threshold).orderBy("i", "j")
  }

  /** Verified near-dup pairs (i, j) at `threshold` — THE shared relation
    * both downstream consumers read: cluster resolution
    * ([[verifiedClusters]], d07) and corpus curation
    * ([[graft.operators.Pipeline.curate]], p09). Memoized per (source
    * files, plan shape, threshold, k, bands), persisted on first use: in
    * one session the LSH → Jaccard-verify chain runs ONCE and every
    * consumer reads the materialized result. This is the in-process analog
    * of the production shape at 100 TB — compute verified pairs in one
    * batch job, WRITE them to storage, and have every downstream job
    * (clustering, curation, audits) read that table instead of re-running
    * the candidate+verify chain (SCALE.md "materialize the expensive
    * sliver" pattern).
    *
    * Safety: the memo key binds the exact source file paths AND the
    * canonicalized plan structure, so different corpora or different
    * upstream transforms can never alias; non-file-backed sources
    * (in-memory frames, views over sockets) skip memoization entirely and
    * rebuild — reuse is an optimization, never a semantics change. An
    * entry whose persisted relation was evicted ([[releaseCaches]])
    * degrades to a clean rebuild. */
  def verifiedPairs(docs: DataFrame, threshold: Double,
                    k: Int = 16, bands: Int = 4): DataFrame =
    verifiedRelation(docs, threshold, k, bands).select("i", "j")

  /** The memoized FULL verified relation (i, j, common, jaccard) — the
    * one materialization behind all three public consumers
    * ([[jaccardVerified]] = sorted view, [[verifiedPairs]] = (i, j)
    * projection for clustering/curation). */
  private def verifiedRelation(docs: DataFrame, threshold: Double,
                               k: Int, bands: Int): DataFrame = pairsMemo.synchronized {
    fileBackedKey(docs) match {
      case None =>
        freshPipeline()
        shared(jaccardCore(docs, threshold, k, bands))
      case Some(srcKey) =>
        val key = (srcKey, threshold, k, bands)
        pairsMemo.get(key) match {
          case Some(p) if p.storageLevel != org.apache.spark.storage.StorageLevel.NONE =>
            pairsMemo.remove(key); pairsMemo(key) = p // LRU touch
            p
          case _ =>
            freshPipeline()
            // persisted OUTSIDE liveCaches: other dedup queries' clear-
            // then-build must not evict the cross-query verified relation
            // (only the explicit releaseCaches hook does)
            val p = jaccardCore(docs, threshold, k, bands)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            pairsMemo(key) = p
            // bounded, LRU: a long session over many (corpus, threshold)
            // combinations must not pin one persisted relation each forever
            while (pairsMemo.size > PairsMemoMax) {
              val oldKey = pairsMemo.head._1
              pairsMemo.remove(oldKey).foreach(_.unpersist(blocking = false))
            }
            p
        }
    }
  }

  private val PairsMemoMax = 8
  private val pairsMemo =
    new scala.collection.mutable.LinkedHashMap[(String, Double, Int, Int), DataFrame]

  /** See [[SnapshotKey.of]] — shared with the similarity trainers. */
  private def fileBackedKey(df: DataFrame): Option[String] = SnapshotKey.of(df)

  /** Duplicate CLUSTERS from the LSH candidate pairs: connected
    * components (min-label propagation, [[ConnectedComponents]]) so that
    * transitive chains a~b~c resolve to ONE group with one canonical
    * keeper — pair-at-a-time dedup would keep both ends of a chain.
    * Emits (doc_id, cluster_id, n_docs) for non-singleton clusters;
    * cluster_id = min doc_id in the component. */
  def dupClusters(docs: DataFrame, k: Int = 16, bands: Int = 4,
                  maxIter: Int = 20): DataFrame = {
    freshPipeline()
    val pairs = chainOf(docs, k, bands).cands
    // endpoint-only CC: non-candidate docs are singletons by
    // construction and the n_docs > 1 filter below drops them anyway —
    // the label iteration runs over the dup sliver, never the corpus
    val labels = shared(ConnectedComponents.minLabelOverEndpoints(pairs, maxIter))
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("n_docs"))
    labels.join(sizes, Seq("label")).filter(col("n_docs") > 1)
      .select(col("node").as("doc_id"), col("label").as("cluster_id"), col("n_docs"))
      .orderBy("cluster_id", "doc_id")
  }

  /** Edit-distance verification of the LSH candidates — the character-
    * level alternative to n-gram Jaccard ([[jaccardVerified]]): pairs
    * whose full texts are within `maxDist` Levenshtein edits. Exact
    * integer DP on both engines, so oracle-comparable. O(|a|·|b|) per
    * pair is why it runs on CANDIDATES only (≈|dup pairs|), never on the
    * corpus cross product; the two text joins are broadcast-size because
    * the candidate list is. */
  def editVerified(docs: DataFrame, maxDist: Int = 20,
                   k: Int = 16, bands: Int = 4): DataFrame = {
    freshPipeline()
    val pairs = chainOf(docs, k, bands).cands
    val t = docs.select(col("doc_id"), col("text"))
    pairs
      .join(t.select(col("doc_id").as("i"), col("text").as("_ti")), Seq("i"))
      .join(t.select(col("doc_id").as("j"), col("text").as("_tj")), Seq("j"))
      .select(col("i"), col("j"), levenshtein(col("_ti"), col("_tj")).as("edit_dist"))
      .filter(col("edit_dist") <= maxDist)
      .orderBy("i", "j")
  }

  /** The COMPLETE dedup resolution pipeline in one operator: LSH
    * candidates → exact Jaccard verification at `threshold` → connected
    * components over the verified pairs → non-singleton clusters with a
    * canonical keeper. This is the production shape — clustering raw LSH
    * candidates ([[dupClusters]]) merges false-positive band collisions;
    * clustering only verified pairs cannot. */
  def verifiedClusters(docs: DataFrame, threshold: Double,
                       k: Int = 16, bands: Int = 4,
                       maxIter: Int = 20): DataFrame = {
    // the pairs relation AND the resolved labels are memoized/persisted
    // shared slivers — within one session d07's clustering and p09/p16's
    // curation read the same materializations instead of re-running the
    // LSH+verify chain or replaying the CC driver loop
    val labels = verifiedLabels(docs, threshold, k, bands, maxIter)
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("n_docs"))
    labels.join(sizes, Seq("label")).filter(col("n_docs") > 1)
      .select(col("node").as("doc_id"), col("label").as("cluster_id"), col("n_docs"))
      .orderBy("cluster_id", "doc_id")
  }

  /** Memoized min-label relation over the verified pairs. The CC
    * iteration is a DRIVER-LOOPED multi-job computation that runs during
    * plan CONSTRUCTION (each round localCheckpoints), so memoizing only
    * the pairs still replayed ~2·diameter small jobs on every warm
    * consumer execution — measured as most of d07/p09's warm cost at
    * sf0.1. Keyed, persisted, LRU-bounded and released exactly like
    * [[pairsMemo]]; the labels relation is O(docs-in-pairs) rows — the
    * same sliver scale as the pairs themselves. Non-file-backed inputs
    * skip memoization (no stable identity), like every other memo. */
  private def verifiedLabels(docs: DataFrame, threshold: Double, k: Int,
                             bands: Int, maxIter: Int): DataFrame =
    labelsMemo.synchronized {
      fileBackedKey(docs) match {
        case None =>
          shared(ConnectedComponents.minLabelOverEndpoints(
            verifiedPairs(docs, threshold, k, bands), maxIter))
        case Some(srcKey) =>
          val key = (srcKey, threshold, k, bands, maxIter)
          labelsMemo.get(key) match {
            case Some(l) if l.storageLevel != org.apache.spark.storage.StorageLevel.NONE =>
              labelsMemo.remove(key); labelsMemo(key) = l // LRU touch
              l
            case _ =>
              val l = ConnectedComponents.minLabelOverEndpoints(
                verifiedPairs(docs, threshold, k, bands), maxIter)
                .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
              labelsMemo(key) = l
              while (labelsMemo.size > PairsMemoMax) {
                val oldKey = labelsMemo.head._1
                labelsMemo.remove(oldKey).foreach(_.unpersist(blocking = false))
              }
              l
          }
      }
    }

  private val labelsMemo =
    new scala.collection.mutable.LinkedHashMap[(String, Double, Int, Int, Int), DataFrame]

  /** Cluster resolution over an ALREADY-COMPUTED pairs relation —
    * composes with [[verifiedPairs]] in-process or with
    * [[readVerifiedPairs]] when the pairs were produced by an earlier
    * batch job. Endpoint-only CC (see [[dupClusters]]); the label
    * iteration reads the given relation as-is, so no consumer
    * re-executes the verify chain. */
  def clustersOfPairs(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val labels = shared(ConnectedComponents.minLabelOverEndpoints(pairs, maxIter))
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("n_docs"))
    labels.join(sizes, Seq("label")).filter(col("n_docs") > 1)
      .select(col("node").as("doc_id"), col("label").as("cluster_id"), col("n_docs"))
      .orderBy("cluster_id", "doc_id")
  }

  /** The PRODUCTION shape of [[verifiedPairs]] at 100 TB: run the
    * candidate+verify chain once as a batch job and WRITE the verified
    * pairs to storage, so every downstream job — clustering, curation,
    * audits, incremental re-dedup — reads a table instead of re-running
    * the chain (SCALE.md "materialize the expensive sliver"). The output
    * is ~|near-dup pairs| rows: microscopic next to the corpus. */
  def writeVerifiedPairs(docs: DataFrame, path: String, threshold: Double,
                         k: Int = 16, bands: Int = 4): Unit = {
    freshPipeline()
    jaccardCore(docs, threshold, k, bands).select("i", "j")
      .write.mode("overwrite").parquet(path)
  }

  /** Read back a [[writeVerifiedPairs]] table. */
  def readVerifiedPairs(spark: org.apache.spark.sql.SparkSession,
                        path: String): DataFrame =
    spark.read.parquet(path)

  /** Daily-ingest append: verify ONLY the pairs touching `newDocIds`
    * ([[incrementalVerifiedPairs]]) and append them to the pairs table.
    * After the append the table equals `writeVerifiedPairs(allDocs)`
    * run from scratch — the invariant DedupSpec pins. */
  def appendVerifiedPairs(allDocs: DataFrame, newDocIds: DataFrame,
                          path: String, threshold: Double,
                          k: Int = 16, bands: Int = 4): Unit =
    incrementalVerifiedPairs(allDocs, newDocIds, threshold, k, bands)
      .select("i", "j").write.mode("append").parquet(path)

  /** The persistent banded-signature INDEX of the incremental story:
    * (doc_id, band_idx, band_key) — O(docs × bands) rows, microscopic
    * next to the corpus. At 100 TB this table lives in storage, each
    * ingest batch APPENDS its own rows, and incremental dedup probes it
    * instead of re-shingling/re-signing the whole corpus
    * ([[incrementalVerifiedPairsIndexed]]). */
  def bandedSignatures(docs: DataFrame, k: Int = 16, bands: Int = 4): DataFrame =
    bandedFromSig(signaturesFrom(wordShingles(docs), k), k, bands)

  def writeBandedSignatures(docs: DataFrame, path: String,
                            k: Int = 16, bands: Int = 4): Unit =
    bandedSignatures(docs, k, bands).write.mode("overwrite").parquet(path)

  def readBandedSignatures(spark: org.apache.spark.sql.SparkSession,
                           path: String): DataFrame =
    spark.read.parquet(path).select("doc_id", "band_idx", "band_key")

  /** INCREMENTAL near-dup verification against a STORED banded index —
    * the per-batch cost model a 100 TB continuous ingest needs:
    * [[incrementalVerifiedPairs]] still re-builds the FULL corpus chain
    * (shingle + sign every document) before its cheap probe, which is
    * fine for a daily batch job over a memoized chain but wrong for a
    * stream. This form touches the corpus only where candidates demand
    * it:
    *
    *   - shingle/sign the NEW docs only (O(batch));
    *   - band-probe the stored index (plus the batch's own bands, so
    *     new×new pairs are found; a replayed batch whose bands were
    *     already appended dedups through the `distinct`);
    *   - re-shingle ONLY the old docs that appear in candidate pairs —
    *     fetched from the corpus table by a broadcast semi-join on the
    *     candidate ids (map-only; with the corpus bucketed/Z-ordered on
    *     doc_id the fetch prunes instead of scanning).
    *
    * Equal to [[incrementalVerifiedPairs]] on the same inputs (pinned in
    * DedupSpec), and the d11 union invariant carries over: batches
    * append DISJOINT pair sets whose union is the from-scratch table.
    * Probe BEFORE appending the batch's bands to the index (or after —
    * self-pairs are excluded and duplicates collapse; the order only
    * changes which relation finds new×new). */
  def incrementalVerifiedPairsIndexed(corpus: DataFrame, bandedIndex: DataFrame,
                                      newDocs: DataFrame, threshold: Double,
                                      k: Int = 16, bands: Int = 4): DataFrame = {
    freshPipeline()
    val shNew = shared(wordShingles(newDocs))
    val newBanded = shared(bandedFromSig(signaturesFrom(shNew, k), k, bands))
    val a = newBanded.select(col("band_idx"), col("band_key"), col("doc_id").as("n"))
    val b = bandedIndex.unionByName(newBanded)
      .select(col("band_idx"), col("band_key"), col("doc_id").as("m"))
    val cands = shared(a.join(b, Seq("band_idx", "band_key"))
      .filter(col("n") =!= col("m"))
      .select(least(col("n"), col("m")).as("i"), greatest(col("n"), col("m")).as("j"))
      .distinct())
    val candDocs = cands.select(col("i").as("doc_id"))
      .unionByName(cands.select(col("j").as("doc_id"))).distinct()
    val newIds = newDocs.select(col("doc_id"))
    val oldCandTexts = corpus
      .join(broadcast(candDocs), Seq("doc_id"), "left_semi")
      .join(broadcast(newIds), Seq("doc_id"), "left_anti")
    val shCand = wordShingles(oldCandTexts).unionByName(shNew)
    verifyCandidates(shCand, cands, threshold).orderBy("i", "j")
  }

  /** SimHash fingerprint: 64-bit bit-majority over md5(token) hashes,
    * emitted as 16 hex chars. Near-identical docs differ in few bits. */
  def simhash(docs: DataFrame): DataFrame =
    simChainOf(docs).sig.orderBy("doc_id")

  /** The unsorted signature relation — what the candidates pipeline
    * persists and self-joins. The public [[simhash]] adds the output
    * ordering; baking a global sort into the cached join input would
    * cost a range shuffle for nothing (hash joins don't care). */
  private def simhashSig(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .select(col("doc_id"), md5(col("w")).as("h"))
    // nibble value of hex char p (0-indexed). Decoded with ascii
    // arithmetic, not conv(,16,10): md5 emits lowercase hex, so
    // '0'-'9' → 48-57 and 'a'-'f' → 97-102, and the branch-free
    // subtraction stays in whole-stage codegen as int ops — conv's
    // per-char string parse was the hot projection in d04/d05
    // (16 calls per token row). Same values, cheaper evaluation.
    val nib = (p: Int) => expr(
      s"ascii(substr(h, ${p + 1}, 1)) - 48 - if(ascii(substr(h, ${p + 1}, 1)) >= 97, 39, 0)")
    val withNibs = tok.select(
      col("doc_id") +: (0 until 16).map(p => nib(p).as(s"n$p")): _*)
    // per (hex pos, bit): sum of ±1 votes
    val votes = for (p <- 0 until 16; b <- 3 to 0 by -1)
      yield sum(when(expr(s"(shiftright(n$p, $b) & 1) = 1"), 1).otherwise(-1)).as(s"v${p}_$b")
    val agg = withNibs.groupBy("doc_id").agg(votes.head, votes.tail: _*)
    // reassemble: majority bit per position, 4 bits → hex digit via lookup
    val digits = (0 until 16).map { p =>
      val d = (3 to 0 by -1).map { b =>
        when(col(s"v${p}_$b") > 0, 1 << b).otherwise(0): Column
      }.reduce(_ + _)
      lower(conv(d.cast("string"), 10, 16))
    }
    agg.select(col("doc_id"), concat(digits: _*).as("simhash"))
  }

  /** The simhash twin of [[chainOf]]'s memo: (signature, banded
    * candidates) built once per file-backed corpus snapshot and reused
    * by d04/d05/d10 — without it every simhash query re-tokenizes the
    * corpus and re-runs the 64-vote aggregate, the measured dominant
    * cost of the family (the minhash chain got this in round 7; the
    * simhash chain recomputed per query until round 8). Same staleness
    * contract: the key binds the file-index snapshot, so an appended
    * corpus keys differently and can never serve stale signatures. */
  private final case class SimChain(sig: DataFrame, cands: DataFrame)
  private val SimMemoMax = 4
  private val simMemo =
    new scala.collection.mutable.LinkedHashMap[String, SimChain]

  private def simChainOf(docs: DataFrame): SimChain =
    fileBackedKey(docs) match {
      case None =>
        val sig = shared(simhashSig(docs))
        SimChain(sig, shared(simhashCandsFrom(sig)))
      case Some(srcKey) => simMemo.synchronized {
        simMemo.get(srcKey) match {
          case Some(c) if c.sig.storageLevel !=
              org.apache.spark.storage.StorageLevel.NONE =>
            simMemo.remove(srcKey); simMemo(srcKey) = c // LRU touch
            c
          case _ =>
            def p(df: DataFrame) =
              df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            val sig = p(simhashSig(docs))
            val c = SimChain(sig, p(simhashCandsFrom(sig)))
            simMemo(srcKey) = c
            while (simMemo.size > SimMemoMax) {
              val (k0, old) = simMemo.head
              simMemo.remove(k0)
              Seq(old.sig, old.cands).foreach(_.unpersist(blocking = false))
            }
            c
        }
      }
    }

  /** SimHash candidate pairs: docs agreeing on at least one of 4 hex
    * chunks (4 chars = 16 bits). Hamming ≤ 3 guarantees some chunk is
    * equal (pigeonhole) — the banding trick again, on bit-chunks. */
  def simhashCandidates(docs: DataFrame): DataFrame = {
    freshPipeline()
    simChainOf(docs).cands.orderBy("i", "j")
  }

  /** Unordered chunk-collision pairs — [[simhashVerified]] joins these,
    * so the global sort lives only on the public [[simhashCandidates]]. */
  private def simhashCandsFrom(sig: DataFrame): DataFrame = {
    val chunks = (0 until 4).map(cn =>
      struct(lit(cn).as("chunk_idx"), expr(s"substr(simhash, ${cn * 4 + 1}, 4)").as("chunk")))
    val chunked = sig.select(col("doc_id"), explode(array(chunks: _*)).as("c"))
      .select(col("doc_id"), col("c.chunk_idx").as("chunk_idx"), col("c.chunk").as("chunk"))
    val a = chunked.select(col("chunk_idx"), col("chunk"), col("doc_id").as("i"))
    val b = chunked.select(col("chunk_idx"), col("chunk"), col("doc_id").as("j"))
    a.join(b, Seq("chunk_idx", "chunk")).filter(col("i") < col("j"))
      .select("i", "j").distinct()
  }

  /** The SimHash VERIFY stage: exact Hamming distance over the candidate
    * pairs, keeping those within `maxHamming` bits — the cheap
    * fingerprint-space verification (64-bit XOR + popcount per pair,
    * vs Jaccard's shingle-intersection join; use [[jaccardVerified]]
    * when the verdict must reflect content, this when fingerprint
    * distance suffices). The 16-hex signature is compared as two 32-bit
    * halves: each parses into a non-negative BIGINT on every engine
    * (one 64-bit parse would overflow signed range), and
    * bit_count(xor()) stays whole-stage-codegen'd — no UDF. Banding
    * guarantees (pigeonhole) that NO pair within maxHamming=3 is
    * missed: 4 chunks, ≤3 flipped bits → some chunk untouched. */
  def simhashVerified(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    freshPipeline()
    val chain = simChainOf(docs)
    val sig = chain.sig
    val cands = chain.cands
    def halves(side: String) = sig.select(col("doc_id").as(side),
      expr("cast(conv(substr(simhash, 1, 8), 16, 10) as bigint)").as(s"_h1$side"),
      expr("cast(conv(substr(simhash, 9, 8), 16, 10) as bigint)").as(s"_h2$side"))
    // ONE broadcast: the candidate pairs (~|near-dups|) build against the
    // streaming corpus-scale signature relation. The second lookup's
    // strategy is left to AQE — its left input is the first join's output
    // (still candidates-scale), which AQE sees at runtime and broadcasts;
    // hinting it statically would force a driver materialization of a
    // relation whose size scales with the corpus duplication rate (on a
    // dup-heavy corpus, a driver OOM).
    broadcast(cands).join(halves("i"), Seq("i"))
      .join(halves("j"), Seq("j"))
      .select(col("i"), col("j"),
        (bit_count(col("_h1i").bitwiseXOR(col("_h1j"))) +
         bit_count(col("_h2i").bitwiseXOR(col("_h2j")))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .orderBy("i", "j")
  }

  /** Benchmark decontamination (beyond-reference training-data op): flag
    * corpus documents whose word-shingle sets overlap an evaluation
    * set's. Standard LLM-pretraining hygiene: any training document
    * sharing >= `minOverlap` distinct n-grams with the held-out
    * benchmark set is quarantined before training, so eval scores
    * measure generalization rather than memorization. Here the
    * `source = evalSource` slice of the corpus plays the benchmark set.
    *
    * Scale shape: an eval set is benchmark-sized (MBs) while the corpus
    * is the 100 TB side, so the eval set's DISTINCT shingles are
    * `broadcast` and the corpus shingle relation streams map-side
    * through the broadcast hash join — the big side is never shuffled.
    * A left join (not inner) lets ONE `groupBy(doc_id)` pass count both
    * the per-doc shingle total (`count(*)`) and the eval hits
    * (`count(_hit)`), so the overlap fraction costs no second corpus
    * scan. Shuffle volume is |corpus docs|, not |shingles|.
    */
  def decontaminate(docs: DataFrame, evalSource: String = "src0",
                    minOverlap: Long = 2): DataFrame =
    decontaminateAgainst(
      docs.filter(col("source") =!= evalSource),
      evalShingleSet(docs.filter(col("source") === evalSource)),
      minOverlap)
      .orderBy("doc_id")

  /** The eval side's distinct shingles — compute ONCE (and persist, in a
    * long-lived pipeline) per benchmark set; every corpus batch then
    * probes the same broadcast. */
  def evalShingleSet(evalDocs: DataFrame): DataFrame =
    wordShingles(evalDocs).select(col("s")).distinct()

  /** Decontamination against an eval shingle set of unknown provenance —
    * the public batch surface (d12). Applies a defensive distinct first:
    * a duplicated eval shingle would fan the left join out and inflate
    * BOTH counts (quarantining clean docs with no error); the eval side
    * is MB-scale, so the one extra exchange is noise in a one-shot
    * batch. Callers that prebuilt the set with [[evalShingleSet]] (which
    * is already distinct) and run per micro-batch should call
    * [[decontaminateAgainstPrepared]] instead — paying the distinct on
    * every batch is the avoidable cost there. */
  def decontaminateAgainst(corpus: DataFrame, evalShingles: DataFrame,
                           minOverlap: Long = 2): DataFrame =
    decontaminateAgainstPrepared(corpus, evalShingles.distinct(), minOverlap)

  /** Decontamination core against a set the caller GUARANTEES distinct
    * ([[evalShingleSet]]'s output) — shared by the batch surface above
    * and the streaming per-micro-batch form
    * ([[graft.streaming.StreamingDecontam]]), which probes the same
    * prebuilt broadcast every batch without a per-batch distinct
    * exchange. Unordered: ordering (and the eval-source split) live on
    * the public batch surface. */
  def decontaminateAgainstPrepared(corpus: DataFrame, distinctEvalShingles: DataFrame,
                                   minOverlap: Long = 2): DataFrame =
    wordShingles(corpus)
      .join(broadcast(distinctEvalShingles.withColumn("_hit", lit(1))), Seq("s"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"), count(col("_hit")).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
      .withColumn("overlap_frac", round(col("n_overlap") / col("n_shingles"), 6))

  /** d14: FUZZY decontamination — NEAR-duplicate leakage between the
    * training corpus and the eval slice. [[decontaminate]] (d12) counts
    * exact shared shingles, which catches verbatim inclusion; a
    * paraphrased or lightly-edited eval document needs a similarity
    * ranking, and at corpus scale the train×eval comparison must be
    * blocking-pruned, never all-pairs. The blocking is the d02 banded
    * MinHash applied ACROSS corpora: signatures on both sides, band
    * keys exploded, candidates = band-key JOIN between the sides
    * (not a self-join), then exact Jaccard verify on the candidate
    * sliver only. Output: (train doc, eval doc, common, sizes, jac)
    * for every pair with Jaccard ≥ `threshold`.
    *
    * Scale shape: the eval side is benchmark-sized, so its banded
    * relation broadcasts; the train side's signatures ride one
    * aggregate pass over the shingle stream (the d02 plan); verify
    * touches candidate docs' shingles only (broadcast semi-filter, as
    * in the self-join family). Exactly the same asymmetry d12/d13
    * exploit — the 100 TB side is never shuffled on anything wider
    * than its own doc ids. */
  def fuzzyDecontaminate(docs: DataFrame, evalSource: String = "src0",
                         threshold: Double = 0.5, k: Int = 16,
                         bands: Int = 4): DataFrame = {
    val (evalBands, evalShingles) =
      evalFuzzyIndex(docs.filter(col("source") === evalSource), k, bands)
    // NOT localCheckpoint'ed, measured twice now: the eval subtree does
    // repeat under each consumer in the printed plan (band join + both
    // semi-filtered verify legs), but a round-14 A/B (3 reps each way,
    // one JVM) put the checkpointed form dead even to slightly slower —
    // the eager materialization jobs cost what the recomputes cost, and
    // exchange reuse already serves the identical aggregate subtrees at
    // runtime (matching the earlier sf1 finding recorded on `cands`
    // below).
    fuzzyDecontaminateAgainst(docs.filter(col("source") =!= evalSource),
      evalBands, evalShingles, threshold, k, bands)
  }

  /** The PREBUILT eval side of fuzzy decontamination: the banded
    * MinHash index (band_idx, band_key, eval_id) plus the eval shingle
    * relation (eval_id, s) — built once per benchmark set (both are
    * benchmark-sized, so a streaming caller persists and broadcasts
    * them) and probed by every arriving train batch
    * ([[graft.streaming.StreamingFuzzyDecontam]], the d11
    * probe-stored-index pattern applied to the d14 cross-corpus join). */
  def evalFuzzyIndex(evalDocs: DataFrame, k: Int = 16,
                     bands: Int = 4): (DataFrame, DataFrame) = {
    val shE = wordShingles(evalDocs)
    val eb = bandedFromSig(signaturesFrom(shE, k), k, bands)
      .select(col("band_idx"), col("band_key"), col("doc_id").as("eval_id"))
    (eb, shE.select(col("doc_id").as("eval_id"), col("s")))
  }

  /** d14's verdict for exactly the docs in `batch` against a prebuilt
    * eval index: batch-side signatures (O(batch)), band-key join with
    * the BROADCAST eval bands, exact Jaccard verify on the candidate
    * sliver. A train doc's row depends only on its own shingles and the
    * static eval side, so stream ≡ batch regardless of how docs split
    * across micro-batches (StreamingSpec pins it) — and per-batch cost
    * is O(batch + candidates) no matter how large the accumulated
    * corpus has grown. */
  def fuzzyDecontaminateAgainst(batch: DataFrame, evalBands: DataFrame,
                                evalShingles: DataFrame, threshold: Double = 0.5,
                                k: Int = 16, bands: Int = 4): DataFrame = {
    val shT = wordShingles(batch)
    // `cands` feeds three consumers; measured (sf1 cut): pinning it with
    // localCheckpoint does NOT move the query — exchange reuse already
    // serves the repeated subplan, and the floor is the md5 signature
    // aggregate itself (the oracle-mirrorable hash; d09 is the xxhash64
    // fast twin for callers who don't need the DuckDB mirror).
    val cands = bandedFromSig(signaturesFrom(shT, k), k, bands)
      .join(broadcast(evalBands), Seq("band_idx", "band_key"))
      .select(col("doc_id"), col("eval_id")).distinct()
    val shTc = shT.join(broadcast(cands.select("doc_id").distinct()),
      Seq("doc_id"), "left_semi")
    val shEc = evalShingles.join(broadcast(cands.select("eval_id").distinct()),
      Seq("eval_id"), "left_semi")
    val nT = shTc.groupBy("doc_id").agg(count(lit(1)).as("n_train"))
    val nE = shEc.groupBy("eval_id").agg(count(lit(1)).as("n_eval"))
    val common = cands
      .join(shTc, Seq("doc_id"))
      .join(shEc, Seq("eval_id", "s"))
      .groupBy("doc_id", "eval_id").agg(count(lit(1)).as("common"))
    common.join(nT, Seq("doc_id")).join(nE, Seq("eval_id"))
      .select(col("doc_id"), col("eval_id"), col("common"), col("n_train"),
        col("n_eval"),
        round(col("common").cast("double") /
          (col("n_train") + col("n_eval") - col("common")), 6).as("jac"))
      .filter(col("jac") >= threshold)
      .orderBy("doc_id", "eval_id")
  }

  /** PRODUCTION twin of [[decontaminateAgainst]]: both sides join on
    * `xxhash64(shingle)` — 8-byte keys instead of ~20-char strings cut
    * the broadcast probe + per-doc aggregate ~30% (whole query 15%,
    * 9.4 s → 7.9 s at the 500k-doc/25M-shingle replica; SCALE.md, "Dedup /
    * similarity at corpus scale").
    * A corpus↔eval cross-collision would inflate n_overlap by one:
    * odds ~|corpus shingles|·|eval shingles|/2^64 ≈ 1e-9 at benchmark
    * scale — the [[lshCandidatesXx]] trade. Not DuckDB-mirrorable (no
    * xxhash64 there) → no driver query; `DedupSpec` pins it equal to
    * the exact form. */
  def decontaminateAgainstHashed(corpus: DataFrame, evalShingles: DataFrame,
                                 minOverlap: Long = 2): DataFrame =
    wordShingles(corpus)
      .select(col("doc_id"), xxhash64(col("s")).as("_h"))
      .join(broadcast(evalShingles.select(xxhash64(col("s")).as("_h"))
        .distinct().withColumn("_hit", lit(1))), Seq("_h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"), count(col("_hit")).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
      .withColumn("overlap_frac", round(col("n_overlap") / col("n_shingles"), 6))

  // ───────────────────────── Bloom-filter decontamination ─────────────────────

  // eval-side Bloom filters keyed on (eval SnapshotKey, fpp) — driver
  // objects (~1.8 bytes/shingle at fpp 1e-3), LRU-bounded like the
  // trained-artifact memos in Similarity; cleared by [[releaseCaches]]
  private val BloomMemoMax = 4
  private val bloomMemo =
    new scala.collection.mutable.LinkedHashMap[(String, Double), org.apache.spark.util.sketch.BloomFilter]

  /** Bloom filter over the eval side's distinct shingles — the
    * decontamination form for when the eval set OUTGROWS an exact
    * broadcast: a broadcast hash relation costs ~50-100 bytes per entry
    * (string + map overhead) while the filter costs ~`1.44·log2(1/fpp)`
    * BITS per item (~1.8 bytes at fpp 1e-3) — ~40× smaller, so an eval
    * suite of hundreds of millions of shingles still fits executor
    * memory. The price is a bounded false-positive rate, which for
    * hygiene errs in the SAFE direction: a false positive can only
    * over-quarantine a clean doc, never leak a contaminated one
    * (Bloom filters have NO false negatives).
    *
    * Built once per benchmark set (two jobs over the MB-scale eval side:
    * an exact distinct count to size the filter, then the build
    * aggregate); every corpus batch then probes the same broadcast
    * value. At production scale size with `approx_count_distinct`
    * instead of the exact count. Deterministic: Spark's sketch uses
    * seedless Murmur3 over the UTF-8 bytes, so the same eval set always
    * builds the same filter. */
  def evalShingleBloom(evalDocs: DataFrame, fpp: Double = 0.001)
      : org.apache.spark.util.sketch.BloomFilter =
    evalShingleBloomOf(evalShingleSet(evalDocs), fpp)

  /** Build the filter from an ALREADY-PREPARED distinct-shingle set
    * (`s` column) — the entry for callers that hold the relation
    * (d13's checked composition shares one set across sizing, build,
    * and the exact join). */
  def evalShingleBloomOf(distinctShingles: DataFrame, fpp: Double = 0.001)
      : org.apache.spark.util.sketch.BloomFilter = {
    val n = distinctShingles.count()
    // zero-row build: stat.bloomFilter's aggregate has no buffer to
    // merge on an empty relation — return the matches-nothing filter
    // directly (same verdicts: no shingle can hit an empty eval set)
    if (n == 0L) org.apache.spark.util.sketch.BloomFilter.create(1L, fpp)
    else distinctShingles.stat.bloomFilter("s", n, fpp)
  }

  /** Persist the eval-set filter — the build-once production shape (the
    * [[evalShingleBloom]] build costs two jobs over the eval side;
    * every later corpus batch, or another cluster entirely, loads the
    * bits instead). Hadoop FS API so the same call addresses local
    * disk, HDFS, or S3; the sketch's stream format is version-tagged
    * and engine-portable across Spark versions. */
  def writeEvalBloom(spark: org.apache.spark.sql.SparkSession,
                     bf: org.apache.spark.util.sketch.BloomFilter,
                     path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try bf.writeTo(out) finally out.close()
  }

  /** Load a stored [[writeEvalBloom]] filter for [[decontaminateBloom]]. */
  def readEvalBloom(spark: org.apache.spark.sql.SparkSession,
                    path: String): org.apache.spark.util.sketch.BloomFilter = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try org.apache.spark.util.sketch.BloomFilter.readFrom(in) finally in.close()
  }

  /** Decontamination probe against a prebuilt [[evalShingleBloom]] —
    * MAP-ONLY over the corpus: each doc's distinct-shingle array is
    * probed in place (init-once broadcast deserialization per
    * partition), so unlike [[decontaminateAgainst]] the corpus never
    * explodes into a (doc, shingle) relation and there is no join and
    * no per-doc aggregate shuffle at all — one row in, one row out,
    * the plan is a projection. `n_bloom_overlap` over-counts the exact
    * overlap by the filter's false positives only (≥ exact, never <). */
  def decontaminateBloom(corpus: DataFrame,
                         bf: org.apache.spark.util.sketch.BloomFilter,
                         minOverlap: Long = 2): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(bf)
    corpus
      // null-text docs have no shingle relation on the exact path
      // (explode of null drops the row); mirror that here instead of
      // handing the typed map a null Seq
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.functions.distinct_shingles(split(col("text"), " "), 3).as("ss"))
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        val f = bc.value
        it.map { case (id, ss) =>
          var hits = 0L
          ss.foreach(s => if (f.mightContainString(s)) hits += 1L)
          (id, ss.size.toLong, hits)
        }
      }
      .toDF("doc_id", "n_shingles", "n_bloom_overlap")
      .filter(col("n_bloom_overlap") >= minOverlap)
  }

  /** The oracle-checkable composition (d13): run the EXACT d12 path for
    * the row set and counts (DuckDB reproduces those), probe the Bloom
    * filter alongside, and emit the filter's two contracts as booleans
    * the oracle asserts TRUE on every row — `bloom_no_false_neg`
    * (bloom count ≥ exact count, the no-false-negative guarantee) and
    * `bloom_flagged` (every exactly-contaminated doc is also
    * Bloom-flagged, the hygiene-safety corollary). Same shape as the
    * checked HLL/CMS/quantile queries: the sketch's contract, not its
    * internal bits, is what crosses the engine boundary. */
  def decontaminateBloomChecked(docs: DataFrame, evalSource: String = "src0",
                                minOverlap: Long = 2,
                                fpp: Double = 0.001): DataFrame = {
    freshPipeline()
    val corpus = docs.filter(col("source") =!= evalSource)
    val evalDocs = docs.filter(col("source") === evalSource)
    // ONE shingle relation serves the filter sizing, the filter build,
    // and the exact join (it previously rebuilt three times); `shared`
    // persists it and releaseCaches() reclaims it with the other
    // pipeline slivers
    val set = shared(evalShingleSet(evalDocs))
    // Trained-artifact memo (SnapshotKey discipline — the same rule as
    // the centroid/codebook/chain memos): the filter is "built once per
    // benchmark set" by its own doc, and it is a pure function of the
    // eval snapshot + fpp (seedless Murmur3, exact-count sizing), so a
    // memo hit returns bit-identical verdicts. Previously every
    // execution re-ran the two eval-side build jobs (sizing count +
    // build aggregate); now they run once per (eval snapshot, fpp) and
    // land in the cold pass like every other trained artifact. The
    // SnapshotKey includes the file listing, so an eval suite that
    // changes under the same path keys differently — never stale.
    val memoKey = SnapshotKey.of(evalDocs).map((_, fpp))
    val memoHit = memoKey.flatMap { mk =>
      bloomMemo.synchronized {
        bloomMemo.get(mk).map { f =>
          bloomMemo.remove(mk); bloomMemo(mk) = f // LRU touch
          f
        }
      }
    }
    val bf = memoHit.getOrElse {
      val built = evalShingleBloomOf(set, fpp)
      memoKey.foreach { mk =>
        bloomMemo.synchronized {
          bloomMemo(mk) = built
          while (bloomMemo.size > BloomMemoMax) bloomMemo.remove(bloomMemo.head._1)
        }
      }
      built
    }
    val exact = decontaminateAgainstPrepared(corpus, set, minOverlap)
    val bloom = decontaminateBloom(corpus, bf, minOverlap)
      .select(col("doc_id"), col("n_bloom_overlap"))
    exact
      .join(bloom, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"), col("n_overlap"),
        (coalesce(col("n_bloom_overlap"), lit(0L)) >= col("n_overlap"))
          .as("bloom_no_false_neg"),
        col("n_bloom_overlap").isNotNull.as("bloom_flagged"))
      .orderBy("doc_id")
  }
}
