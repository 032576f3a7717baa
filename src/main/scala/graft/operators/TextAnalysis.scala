package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents(doc_id, text, lang, ...)` —
  * language ID, quality scoring, token counting, fingerprinting. All pure
  * `Column` expressions (regexp_count / split / md5 / arithmetic): no UDFs,
  * every operator stays in whole-stage codegen and the scan reads only
  * (doc_id, text). Each computation is a single map-side pass — no shuffle
  * except the final tiny aggregate where one exists.
  */
object TextAnalysis {

  /** Language-marker patterns: stopword alternations (word-bounded) per
    * language + a CJK codepoint class. Both Java regex and RE2 (DuckDB)
    * support \b and \x{...} identically for these. */
  val LangPatterns: Seq[(String, String)] = Seq(
    "en" -> """\b(the|a|of|and|to|in|is|that|it|was)\b""",
    "de" -> """\b(der|die|das|und|ist|nicht|mit|ein|zu|den)\b""",
    "fr" -> """\b(le|la|les|et|est|pas|pour|que|une|dans)\b""",
    "es" -> """\b(el|los|las|de|que|y|en|un|es|por)\b""",
    "zh" -> """[\x{4e00}-\x{9fff}]"""
  )

  /** T1: n-gram/stopword language-ID heuristic — hit counts per language
    * plus a deterministic argmax (zh wins on any CJK presence; then a
    * fixed en→de→es→fr preference chain on ties). */
  def langId(docs: DataFrame): DataFrame = {
    val lowered = lower(col("text"))
    val hits = LangPatterns.map { case (l, p) => regexp_count(lowered, lit(p)).as(s"${l}_hits") }
    val pred =
      when(col("zh_hits") >= greatest(col("en_hits"), col("de_hits"), col("fr_hits"), col("es_hits"))
        && col("zh_hits") > 0, "zh")
        .when(col("en_hits") >= greatest(col("de_hits"), col("fr_hits"), col("es_hits")), "en")
        .when(col("de_hits") >= greatest(col("fr_hits"), col("es_hits")), "de")
        .when(col("es_hits") >= col("fr_hits"), "es")
        .otherwise("fr")
    docs.select(col("doc_id") +: hits: _*)
      .withColumn("pred_lang", pred)
      .orderBy("doc_id")
  }

  /** T1's corpus rollup — and its honest BENCH form: [[langId]] is a
    * row-preserving projection, so `.count()` over it prunes every
    * regexp away and times a bare scan (the j05/j08 mirage, projection
    * flavor). This aggregate CONSUMES the hit counts and the argmax, so
    * the bench pays the real language-ID cost. */
  def langDistribution(docs: DataFrame): DataFrame =
    langId(docs)
      .groupBy("pred_lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("en_hits") + col("de_hits") + col("fr_hits") +
          col("es_hits") + col("zh_hits")).as("total_hits"))
      .orderBy("pred_lang")

  /** quality_score as a pure expression over a text column — lets
    * consumers (Pipeline.curate) score rows in place instead of joining
    * back to a second scan of the corpus. Op order is fixed: both
    * [[qualityScore]] and the DuckDB oracle replay it, so the doubles are
    * bit-identical everywhere.
    *
    * floor-truncate instead of round: the weighted sum of small
    * rationals lands EXACTLY on round-half boundaries (e.g. 0.5529365),
    * where Spark's and DuckDB's round() disagree; floor of bit-identical
    * doubles (identical op order) cannot. */
  def qualityScoreExpr(text: Column): Column = {
    val nTokens  = size(split(text, " "))
    val punctCnt = regexp_count(text, lit("[.,!?;:]"))
    val stopHits = regexp_count(lower(text), lit(LangPatterns.head._2))
    val raw = least(nTokens.cast("double"), lit(200.0)) / 200.0 * 0.4 +
      least(stopHits.cast("double") / greatest(nTokens, lit(1)) * 5.0,
        lit(1.0)) * 0.3 +
      (lit(1.0) - least(punctCnt.cast("double")
        / greatest(nTokens, lit(1)) * 10.0, lit(1.0))) * 0.3
    floor(raw * 1e6).cast("double") / 1e6
  }

  /** T2: quality scoring — length/punctuation/stopword-density features
    * and a bounded composite score. The formula is arbitrary but fixed;
    * the point is the feature extraction shape (all codegen'd scalar
    * expressions over one scan; duplicated subtrees between the feature
    * columns and [[qualityScoreExpr]] collapse under codegen
    * subexpression elimination). */
  def qualityScore(docs: DataFrame): DataFrame = {
    val nTokens = size(split(col("text"), " "))
    val punctCnt = regexp_count(col("text"), lit("[.,!?;:]"))
    val stopHits = regexp_count(lower(col("text")), lit(LangPatterns.head._2))
    val nChars = length(col("text"))
    docs.select(
      col("doc_id"),
      nChars.as("n_chars_m"),
      nTokens.as("n_tokens"),
      punctCnt.as("punct_cnt"),
      stopHits.as("stop_hits"),
      qualityScoreExpr(col("text")).as("quality_score"))
      .withColumn("avg_word_len",
        round((col("n_chars_m") - (col("n_tokens") - 1)).cast("double")
          / greatest(col("n_tokens"), lit(1)), 6))
      .withColumn("stop_ratio",
        round(col("stop_hits").cast("double") / greatest(col("n_tokens"), lit(1)), 6))
      .orderBy("doc_id")
  }

  /** T3: token counting — whitespace tokens and a BPE-ish lexer count
    * (letter runs + digit runs + single non-alnum-non-space chars), per
    * doc. The three classes are disjoint, so three single-class regex
    * counts sum to exactly the alternation's count — at a fraction of
    * the cost (no per-position alternative backtracking). */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(split(col("text"), " ")).as("ws_tokens"),
      (regexp_count(col("text"), lit("[a-zA-Z]+"))
        + regexp_count(col("text"), lit("[0-9]+"))
        + regexp_count(col("text"), lit("""[^a-zA-Z0-9\s]"""))).as("re_tokens"))
      .orderBy("doc_id")

  /** T3 corpus totals: one-row rollup of the per-doc counts. */
  def corpusTokenTotals(docs: DataFrame): DataFrame =
    tokenCounts(docs).agg(
      count(lit(1)).as("n_docs"),
      sum("ws_tokens").as("total_ws_tokens"),
      sum("re_tokens").as("total_re_tokens"),
      round(avg("re_tokens"), 6).as("avg_re_tokens"))

  /** T4: content fingerprint = md5 of the whitespace-normalized,
    * lowercased text; groups = near-trivially-duplicate docs (case /
    * spacing variants). */
  /** Text normalization — the stage that runs BEFORE any exact/near
    * dedup so that byte-different-but-equal texts (decomposed vs
    * composed unicode, case, whitespace runs) collapse: NFC canonical
    * composition (the custom codegen expression
    * [[graft.functions.NfcNormalize]] — Spark has no builtin), lowercase,
    * whitespace runs → single space, trim. Pure per-row projection, rides
    * the scan at any scale; DuckDB mirrors every step (nfc_normalize /
    * lower / regexp_replace 'g' / trim), so the whole stage — and the
    * dedup grouping on its md5 — is oracle-checked. */
  def normalizeText(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      trim(regexp_replace(
        lower(graft.functions.nfc_normalize(col("text"))),
        "\\s+", " ")).as("norm_text"))

  /** Normalization-aware exact-dedup rollup: group sizes + canonical
    * keeper by md5(norm_text) — the d01 shape, robust to the byte-level
    * variation [[normalizeText]] erases. */
  def normalizedDupGroups(docs: DataFrame): DataFrame =
    normalizeText(docs)
      .groupBy(md5(col("norm_text")).as("norm_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"),
        min(length(col("norm_text"))).as("norm_len"))
      .orderBy("norm_hash")

  def fingerprintGroups(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      md5(lower(regexp_replace(trim(col("text")), "\\s+", " "))).as("fp"))
      .groupBy("fp").agg(count(lit(1)).as("n_docs"), min("doc_id").as("keep_id"))
      .orderBy("fp")

  /** T6: TF-IDF top terms per document. tf = term occurrences in the doc
    * (whitespace tokens); df = number of docs containing the term,
    * computed over the WHOLE corpus even when the output is restricted
    * to a doc_id range; score = tf · ln(N/df).
    *
    * Scale shape: df is `tf.groupBy(term).count()` — a map-side-combined
    * aggregate, skew-neutral — NOT a `count(*) over (partition by term)`
    * window: WindowExec buffers each term partition in one task, and a
    * stopword's partition is ~|docs| rows (a straggler/OOM at corpus
    * scale; this was the last WindowExec over a corpus-scale relation in
    * the repo, pinned gone in PlanSpec). The tf relation appears in both
    * the df branch and the output branch; Catalyst resolves the diamond
    * the right way around — the `doc_id < maxDocId` output filter pushes
    * through the tf aggregate into a PRUNED second scan (tiny, parquet
    * range-filtered), while the corpus-wide df branch tokenizes once
    * behind its own exchange. The filtered tf side is broadcast into the
    * df join, so no corpus-scale relation is ever re-shuffled on term.
    * Ranking is a per-doc window over at most |doc vocabulary| rows —
    * partitioned by doc_id, never global. Ties rank by term for
    * cross-engine determinism; exact score ties arise from equal
    * (tf, df) pairs, which both engines compute bit-identically from
    * integers. */
  def tfidfTopTerms(docs: DataFrame, maxDocId: Int = 50, topK: Int = 3): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(desc("score"), asc("term"))
    df.join(broadcast(tf.filter(col("doc_id") < maxDocId)), "term")
      .crossJoin(n)
      .withColumn("score", col("tf") * log(col("n_docs").cast("double") / col("df")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= topK)
      .select(col("doc_id"), col("rn").as("rank"), col("term"),
        col("tf"), col("df"), round(col("score"), 6).as("tfidf"))
      .orderBy("doc_id", "rank")
  }

  /** T5: Rabin-Karp rolling-hash fingerprint via the native
    * [[graft.functions.RollingHash]] codegen expression (driver records
    * rows-only — the hash has no DuckDB equivalent; ScalaTest pins exact
    * values). */
  def rollingFingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), graft.functions.rolling_hash(col("text")).as("rh"))
      .orderBy("doc_id")

  /** T8: Gopher-style repetition/quality rules — the filter battery a
    * pretraining pipeline runs before anything model-based. Unlike T2's
    * per-row scalar features, the repetition signals need DISTRIBUTIONAL
    * stats of each document (top-word share, duplicate-bigram share), so
    * the shape is explode → per-(doc, term) count → per-doc aggregate:
    * two shuffles keyed by doc_id, both map-side combined, merged by a
    * co-partitioned join. Thresholds are the Gopher paper's adapted to
    * this corpus; `keep` is their conjunction. Every fraction is an
    * integer ratio rounded identically on both engines. */
  def repetitionRules(docs: DataFrame): DataFrame = {
    val words = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), col("ws"), explode(col("ws")).as("w"))
    val wordStats = words.filter(length(col("w")) > 0)
      .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(
        sum("cnt").as("n_words"),
        count(lit(1)).as("n_distinct"),
        max("cnt").as("top_word_cnt"),
        (sum(length(col("w")) * col("cnt")).cast("double") / sum("cnt")).as("mwl"),
        sum(when(col("w").isin("the", "a"), col("cnt")).otherwise(lit(0L))).as("stop_cnt"))
    val bigrams = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"),
        // native codegen'd n-grams (duplicates kept — the whole point of
        // the dup-bigram share); the transform() lambda it replaces ran
        // interpreted per element
        explode(graft.functions.word_ngrams(col("ws"), 2)).as("bg"))
    val bigramStats = bigrams.groupBy("doc_id").agg(
      count(lit(1)).as("n_bigrams"),
      countDistinct(col("bg")).as("n_distinct_bigrams"))
    val topFrac = col("top_word_cnt").cast("double") / col("n_words")
    val stopFrac = col("stop_cnt").cast("double") / col("n_words")
    val dupBgFrac = lit(1.0) -
      col("n_distinct_bigrams").cast("double") / col("n_bigrams")
    wordStats.join(bigramStats, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"), col("n_distinct"),
        round(col("mwl"), 6).as("mean_word_len"),
        round(topFrac, 6).as("top_word_frac"),
        round(stopFrac, 6).as("stop_frac"),
        round(coalesce(dupBgFrac, lit(0.0)), 6).as("dup_bigram_frac"),
        (col("n_words").between(10, 1000) &&
          col("mwl").between(2.0, 10.0) &&
          topFrac <= 0.12 &&
          coalesce(dupBgFrac, lit(0.0)) <= 0.2).as("keep"))
      .orderBy("doc_id")
  }

  /** PII patterns for [[piiScrub]] — deliberately conservative and
    * RE2-compatible (`\b`, `\d`, bounded classes only) so the DuckDB
    * oracle executes the SAME regexes: a false positive in either
    * engine flips the scrubbed hash. */
  val EmailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  val Ipv4Re = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""
  val PhoneRe = """\b\d{3}[- .]\d{3}[- .]\d{4}\b"""

  /** T9: PII scrubbing — the redaction pass a training-data pipeline
    * runs before a corpus ships: emails → `<EMAIL>`, IPv4 → `<IP>`,
    * phone-shaped digit groups → `<PHONE>`. Scrub order is fixed
    * (emails first, so an address's host part is never half-eaten by
    * the IP rule; phones last); each stage's count is measured on the
    * text the stage actually sees, i.e. the number of replacements it
    * makes. Pure map-side column expressions — the scrub rides the
    * scan, no shuffle; output carries the redaction counts plus the
    * md5 of the scrubbed text (the publishable-corpus content hash,
    * and a cross-engine no-false-positives assertion on clean text). */
  def piiScrub(docs: DataFrame): DataFrame = {
    val afterEmail = regexp_replace(col("text"), EmailRe, "<EMAIL>")
    val afterIp = regexp_replace(col("_t1"), Ipv4Re, "<IP>")
    val afterPhone = regexp_replace(col("_t2"), PhoneRe, "<PHONE>")
    docs
      .withColumn("n_emails", size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))))
      .withColumn("_t1", afterEmail)
      .withColumn("n_ips", size(regexp_extract_all(col("_t1"), lit(Ipv4Re), lit(0))))
      .withColumn("_t2", afterIp)
      .withColumn("n_phones", size(regexp_extract_all(col("_t2"), lit(PhoneRe), lit(0))))
      .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_phones"),
        md5(afterPhone).as("scrub_hash"))
      .orderBy("doc_id")
  }

  /** C4-style cross-document span dedup (t11): segment every document
    * into fixed non-overlapping `window`-word spans, keep only the
    * globally FIRST occurrence of each span (smallest (doc_id, pos)),
    * scrub every repeat, and reassemble each document from its kept
    * spans — the "remove repeated boilerplate spans, keep one" pass an
    * LLM pretraining pipeline runs corpus-wide (C4 did it with
    * three-sentence spans; the span unit here is word windows because
    * the corpus is flat word text).
    *
    * Scale shape: segmentation is projection + explode (rides the scan,
    * spans stay co-partitioned with their doc); keeper resolution is a
    * `groupBy(seg)` min/count — map-side combined and SKEW-NEUTRAL,
    * where the tempting `row_number over (partition by seg)` would
    * buffer a universal boilerplate span's millions of occurrences in
    * one window partition; the keeper verdict joins back on the span (a
    * shuffle join AQE can skew-split); reassembly is one `groupBy
    * (doc_id)` with an in-row sort of the kept spans. The occurrence
    * key packs (doc_id, pos) into one long (`pos < 10^6` — a >10^6-span
    * document cannot exist under the token caps) so the argmin is a
    * plain `min`, portable to the oracle. A fully-scrubbed duplicate
    * document hashes NULL, not md5("") — the empty reassembly is "no
    * content", matching the oracle's null-skipping string_agg. */
  def spanDedup(docs: DataFrame, window: Int = 8): DataFrame = {
    val segs = spanRel(docs, window)
    val keeper = segs.groupBy("seg").agg(min("occ_key").as("keep_key"))
    assembleSpans(segs.join(keeper, Seq("seg"))
      // occ == keeper covers the unique-span case too (its only
      // occurrence IS the min), so no occurrence-count column is needed
      .withColumn("keep", col("occ_key") === col("keep_key")))
  }

  /** The span relation [[spanDedup]] and its streaming twin share:
    * (doc_id, chunk_no, seg, occ_key) — occ_key packs (doc_id, pos)
    * into one portable long. Projection + explode, no shuffle. */
  private[graft] def spanRel(docs: DataFrame, window: Int): DataFrame = {
    require(window > 0, s"window must be positive, got $window")
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("chunk_no", explode(sequence(lit(0),
        greatest(lit(0), expr(s"(size(w) - 1) div $window")))))
      .select(col("doc_id"), col("chunk_no"),
        concat_ws(" ", slice(col("w"), col("chunk_no") * window + 1, lit(window))).as("seg"))
      .withColumn("occ_key", col("doc_id") * lit(1000000L) + col("chunk_no"))
  }

  /** Reassemble marked spans (doc_id, chunk_no, seg, keep) into the
    * per-doc verdict relation: one `groupBy(doc_id)` with an in-row
    * sort of the kept spans. */
  private[graft] def assembleSpans(marked: DataFrame): DataFrame =
    marked
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_segs"),
        count(when(col("keep"), 1)).as("n_kept"),
        md5(array_join(transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("chunk_no"), col("seg"))))),
          x => x.getField("seg")), " ")).as("_h"))
      .select(col("doc_id"), col("n_segs"), col("n_kept"),
        when(col("n_kept") > 0, col("_h")).as("clean_hash"))
      .orderBy("doc_id")

  /** t12: duplicate-substring EXTENTS — the exact-substring duplication
    * report (Lee et al.'s "Deduplicating Training Data Makes Language
    * Models Better" framing), distinct from [[spanDedup]]'s
    * fixed-chunk form: shingles SLIDE over every token position, so a
    * repeated passage is found at ANY alignment and reported as one
    * maximal extent, where the chunked form only sees repeats that land
    * on its stride. Pipeline: sliding `window`-token shingles at every
    * position → global occurrence count per shingle (a position is
    * "duplicated" iff its shingle occurs at ≥ 2 (doc, pos) sites
    * anywhere, within-doc repeats included) → per-doc gaps-and-islands
    * merge of duplicated positions whose token coverage
    * [pos, pos+window−1] is contiguous (gap > window breaks) → one row
    * per doc carrying span count, longest extent, covered tokens and
    * the ppm fraction. Docs with no duplicated span emit no row.
    *
    * Scale shape: shingling is projection + explode (rides the scan);
    * the only corpus-wide shuffle is the shingle-count `groupBy` —
    * map-side combined and skew-neutral (the `row_number over
    * (partition by seg)` alternative would buffer a boilerplate span's
    * millions of sites in one window partition); the island merge is a
    * window PARTITIONED BY doc (never global). */
  def dupSpanExtents(docs: DataFrame, window: Int = 8): DataFrame =
    dupExtentsFrom(slidingShingles(docs, window), window)

  /** (doc_id, total_tokens, pos, seg) at every position 0..len−window. */
  private[graft] def slidingShingles(docs: DataFrame, window: Int): DataFrame = {
    require(window > 0)
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= window)
      .select(col("doc_id"), size(col("w")).as("total_tokens"),
        explode(transform(sequence(lit(0), size(col("w")) - window),
          p => struct(p.as("pos"),
            concat_ws(" ", slice(col("w"), p + 1, lit(window))).as("seg")))).as("ps"))
      .select(col("doc_id"), col("total_tokens"),
        col("ps.pos").as("pos"), col("ps.seg").as("seg"))
  }

  private def dupExtentsFrom(sh: DataFrame, window: Int): DataFrame = {
    val dupSegs = sh.groupBy("seg").agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") > 1)
    mergeExtents(sh.join(dupSegs, Seq("seg")), window)
  }

  /** Merge duplicated positions (doc_id, total_tokens, pos) into
    * maximal extents and aggregate the per-doc report — the island
    * stage [[dupSpanExtents]] and its streaming twin share. */
  private[graft] def mergeExtents(dup: DataFrame, window: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val spans = dup
      // coverage [pos, pos+window−1]: a gap > window in positions
      // leaves an uncovered token between the two intervals
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(byDoc) > window, 1).otherwise(0))
      .withColumn("run_id", sum("brk").over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "total_tokens", "run_id")
      .agg(min("pos").as("start_pos"),
        (max(col("pos")) + lit(window - 1)).as("end_pos"))
    spans
      .groupBy("doc_id", "total_tokens")
      .agg(count(lit(1)).as("n_dup_spans"),
        max(col("end_pos") - col("start_pos") + 1).cast("long").as("max_span_tokens"),
        sum(col("end_pos") - col("start_pos") + 1).cast("long").as("dup_tokens"))
      .withColumn("dup_frac_ppm",
        expr("dup_tokens * CAST(1000000 AS BIGINT) div total_tokens"))
      .orderBy("doc_id")
  }
}
