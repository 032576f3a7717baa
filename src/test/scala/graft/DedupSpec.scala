package graft

import org.apache.spark.sql.Row
import graft.operators.{Dedup, Similarity, TextAnalysis}

class DedupSpec extends SparkSpec {

  private val docsDdl = "doc_id BIGINT, text STRING"
  private def docs(texts: (Long, String)*) =
    df(docsDdl, texts.map { case (i, t) => Row(i, t) })

  private val corpus = docs(
    0L -> "the quick brown fox jumps over the lazy dog near the river bank today",
    1L -> "the quick brown fox jumps over the lazy dog near the river bank today", // exact dup of 0
    2L -> "the quick brown fox jumps over the lazy dog near the river bend today", // near dup
    3L -> "completely different content about spark query engines and big data systems",
    4L -> "short text")

  test("exact dedup: groups and summary") {
    val s = Dedup.exactSummary(corpus).head
    assert(s.getLong(0) == 5 && s.getLong(1) == 4 && s.getLong(2) == 1)
    val g = Dedup.exactGroups(corpus).filter("n_copies > 1").head
    assert(g.getLong(1) == 2 && g.getLong(2) == 0) // keep_id = min(0,1)
  }

  test("minhash/LSH finds exact and near dups, not unrelated docs") {
    val cands = rowsOf(Dedup.lshCandidates(corpus)).map(r => (r(0), r(1))).toSet
    assert(cands.contains((0L, 1L)))          // identical → all bands match
    assert(!cands.exists { case (i, j) => i == 3L || j == 3L }) // unrelated never pairs
  }

  test("long-min signature re-rendering equals the string-min form byte-for-byte") {
    // round 14 evaluated moving the MinHash aggregate from
    // min(8-hex-char string) to min(parsed 32-bit long) — this pins the
    // EQUIVALENCE both forms must satisfy (numeric min of the slice ==
    // lexicographic min of its fixed-width lowercase-hex rendering), so
    // a future swap in either direction cannot silently shift band keys.
    // The string form is the one shipped: the long form hash-aggregates
    // but its per-row conv parse measured slower end-to-end (see
    // signaturesFrom's doc).
    import org.apache.spark.sql.functions._
    val k = 16
    val sh = Dedup.wordShingles(corpus)
    val hashed = sh.select(col("doc_id") +:
      (0 until k / 4).map(m => md5(concat(lit(s"$m:"), col("s"))).as(s"m$m")): _*)
    val longMins = (0 until k).map { i =>
      min(expr(s"cast(conv(substr(m${i / 4}, ${(i % 4) * 8 + 1}, 8), 16, 10) as bigint)")
        ).as(s"l$i")
    }
    val longForm = hashed.groupBy("doc_id").agg(longMins.head, longMins.tail: _*)
      .select(col("doc_id") +: (0 until k).map(i =>
        lpad(lower(hex(col(s"l$i"))), 8, "0").as(s"h$i")): _*)
      .orderBy("doc_id").collect().map(_.toSeq)
    val current = Dedup.minhashSignatures(corpus)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(current.toSeq == longForm.toSeq)
  }

  test("xxhash64 candidate path: plan twin of the md5 family, exact dups always pair") {
    val xx = rowsOf(Dedup.lshCandidatesXx(corpus)).map(r => (r(0), r(1))).toSet
    assert(xx.contains((0L, 1L)))             // identical signatures under ANY hash
    assert(!xx.exists { case (i, j) => i == 3L || j == 3L })
    // same physical plan shape as the portable family: the hash swap
    // must not change join/aggregate structure
    def shape(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.executedPlan.collect { case p => p.nodeName }
        .filterNot(_.contains("WholeStageCodegen"))
    assert(shape(Dedup.lshCandidatesXx(corpus)) == shape(Dedup.lshCandidates(corpus)))
  }

  test("jaccard verification: identical docs score 1.0") {
    val v = Dedup.jaccardVerified(corpus, 0.5).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    assert(v((0L, 1L)) == 1.0)
    v.get((0L, 2L)).foreach(j => assert(j > 0.5 && j < 1.0))
  }

  test("incremental verify: pairs(old ∪ new) == pairs(old) ∪ incremental(new)") {
    // grow the corpus: doc 5 near-dups doc 2, doc 6 exact-dups doc 3 —
    // incremental must find exactly the pairs touching {5, 6}, and the
    // full recompute must equal old-pairs ∪ incremental (band keys are
    // per-doc, so old×old candidates cannot change when docs arrive)
    val grown = corpus.unionByName(docs(
      5L -> "the quick brown fox jumps over the lazy dog near the river bend again",
      6L -> "completely different content about spark query engines and big data systems"))
    val newIds = df("doc_id BIGINT", Seq(Row(5L), Row(6L)))
    def pairSet(d: org.apache.spark.sql.DataFrame) =
      d.select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = pairSet(Dedup.jaccardVerified(grown, 0.5))
    val old = pairSet(Dedup.jaccardVerified(corpus, 0.5))
    val incr = pairSet(Dedup.incrementalVerifiedPairs(grown, newIds, 0.5))
    assert(incr.nonEmpty && incr.forall { case (i, j) => i >= 5L || j >= 5L })
    assert(full == old ++ incr, s"full=$full old=$old incr=$incr")
    assert(incr.contains((3L, 6L))) // the exact dup always pairs

    // the storage shape end-to-end: write(old) + append(new) == write(full)
    val dir = java.nio.file.Files.createTempDirectory("graft_incr").resolve("pairs")
    Dedup.writeVerifiedPairs(corpus, dir.toString, 0.5)
    Dedup.appendVerifiedPairs(grown, newIds, dir.toString, 0.5)
    assert(pairSet(Dedup.readVerifiedPairs(spark, dir.toString)) == full)

    // the INDEXED incremental (shingle/sign the batch only, probe the
    // stored banded index, candidate-fetch old texts) equals the
    // chain-rebuild incremental on the same inputs
    val newDocs = grown.join(newIds, Seq("doc_id"), "left_semi")
    val index = Dedup.bandedSignatures(corpus)
    val indexed = pairSet(
      Dedup.incrementalVerifiedPairsIndexed(grown, index, newDocs, 0.5))
    assert(indexed == incr, s"indexed=$indexed incr=$incr")
    // replay regime: an index that ALREADY contains the batch's bands
    // yields the same pairs (duplicates collapse in the candidate
    // distinct, self-pairs are excluded)
    val replayIndex = index.unionByName(Dedup.bandedSignatures(newDocs))
    assert(pairSet(Dedup.incrementalVerifiedPairsIndexed(
      grown, replayIndex, newDocs, 0.5)) == incr)
  }

  test("verified pairs round-trip storage: written table drives identical clusters") {
    // the production shape: pairs computed once by a batch job, written,
    // and cluster resolution reads the TABLE — results must be identical
    // to the in-process chain
    val dir = java.nio.file.Files.createTempDirectory("graft_pairs").resolve("pairs")
    Dedup.writeVerifiedPairs(corpus, dir.toString, 0.5)
    val fromStorage = Dedup.clustersOfPairs(Dedup.readVerifiedPairs(spark, dir.toString))
    assert(rowsOf(fromStorage) == rowsOf(Dedup.verifiedClusters(corpus, 0.5)))
    // and the table really is the sliver: only the verified pairs
    assert(Dedup.readVerifiedPairs(spark, dir.toString).columns.toSeq == Seq("i", "j"))
  }

  test("simhash: identical docs share fingerprints; format is 16 hex chars") {
    val fp = Dedup.simhash(corpus).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(0L) == fp(1L))
    assert(fp.values.forall(_.matches("[0-9a-f]{16}")))
    assert(fp(0L) != fp(3L))
    val cands = rowsOf(Dedup.simhashCandidates(corpus)).map(r => (r(0), r(1))).toSet
    assert(cands.contains((0L, 1L)))
  }

  test("rolling hash: exact Rabin-Karp values, codegen path") {
    val expected = corpus.collect().map { r =>
      val bytes = r.getString(1).getBytes("UTF-8")
      r.getLong(0) -> bytes.foldLeft(0L)((h, b) => (h * 31 + (b & 0xff)) % 1000000007L)
    }.toMap
    val got = TextAnalysis.rollingFingerprint(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("knn: brute returns exactly k ranked neighbors; LSH is a subset scored identically") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val brute = Similarity.knnBrute(emb, 3, 5)
    val perQuery = brute.groupBy("query_id").count().collect().map(_.getLong(1))
    assert(perQuery.length == 3 && perQuery.forall(_ == 5))
    // ranks are 1..5 and cos is non-increasing within each query
    val byQ = brute.orderBy("query_id", "rank").collect().groupBy(_.getLong(0))
    byQ.values.foreach { rs =>
      assert(rs.map(_.getInt(3)).toSeq == (1 to 5))
      val cs = rs.map(_.getDouble(2)).toSeq
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
    // LSH candidates score identically to brute force for same pairs
    val lsh = Similarity.knnLsh(emb, 3, 5, planes = 2)
      .select("query_id", "neighbor_id", "cos")
    val joined = lsh.join(brute.select(col("query_id"), col("neighbor_id"),
        col("cos").as("bcos")), Seq("query_id", "neighbor_id"))
    assert(joined.filter(col("cos") =!= col("bcos")).count() == 0)
  }

  test("nfc normalization: composed ≡ decomposed, case/whitespace collapse, dedup-visible") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Row
    val composed = "café au lait"          // é as single codepoint
    val decomposed = "café au lait"       // e + combining acute
    val spaced = "  Café   AU \t lait "    // case + whitespace noise
    val docs = df("doc_id BIGINT, text STRING", Seq(
      Row(1L, composed), Row(2L, decomposed), Row(3L, spaced), Row(4L, "unrelated")))
    val norm = TextAnalysis.normalizeText(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(norm(1L) == norm(2L), "NFC must unify composed/decomposed forms")
    assert(norm(3L) == norm(1L), "case + whitespace runs must collapse")
    assert(norm(1L) == "café au lait")
    // the normalization-aware dedup sees one group of 3
    val groups = TextAnalysis.normalizedDupGroups(docs)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(groups == Set((3L, 1L), (1L, 4L)))
  }

  test("topk aggregate knn is row-identical to the rank-window form") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val win = Similarity.knnBrute(emb, 4, 7)
    val agg = Similarity.knnBruteAgg(emb, 4, 7)
    assert(win.count() > 0)
    assert(agg.exceptAll(win).count() == 0 && win.exceptAll(agg).count() == 0)
  }

  test("topk_by_score: heap semantics — k bound, score-desc id-asc order, null skip, merge") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Row
    // 2 groups, ties on score, a null score, and a null id; force several
    // partitions so partial heaps actually merge
    val rows = Seq(
      Row("g1", 0.9, 7L), Row("g1", 0.9, 3L), Row("g1", 0.5, 1L),
      Row("g1", 0.99, 9L), Row("g1", null, 2L), Row("g1", 0.7, null),
      Row("g2", 0.1, 4L))
    val in = df("g STRING, s DOUBLE, id BIGINT", rows).repartition(4)
    val out = in.groupBy("g")
      .agg(graft.functions.topk_by_score(col("s"), col("id"), 3).as("top"))
      .collect().map(r => r.getString(0) ->
        r.getSeq[Row](1).map(p => (p.getDouble(0), p.getLong(1)))).toMap
    // g1: best 3 of {(.9,7),(.9,3),(.5,1),(.99,9)} — ties by smaller id first
    assert(out("g1") == Seq((0.99, 9L), (0.9, 3L), (0.9, 7L)))
    assert(out("g2") == Seq((0.1, 4L)))
    // duplicate rows: exactly one of two equal entries at the capacity
    // edge survives, as row_number() ranks one of them k and the other k+1
    val dup = df("g STRING, s DOUBLE, id BIGINT",
        Seq(Row("g", 5.0, 10L), Row("g", 5.0, 10L), Row("g", 9.0, 1L))).repartition(2)
      .groupBy("g").agg(graft.functions.topk_by_score(col("s"), col("id"), 2).as("top"))
      .head.getSeq[Row](1).map(p => (p.getDouble(0), p.getLong(1)))
    assert(dup == Seq((9.0, 1L), (5.0, 10L)))
  }

  test("s09 LSH-blocked near-dups: exact duplicates always pair; pairs are a subset of brute") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    // exact duplicates share every plane sign → recall 1 on them
    val dup = emb.orderBy("vec_id").limit(1).select(lit(90001L).as("vec_id"),
      col("embedding"), col("label"))
    val withDup = emb.unionByName(dup)
    val pairs = Similarity.nearDupPairsLsh(withDup, 0.4)
      .select("i", "j", "cos").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val origId = emb.orderBy("vec_id").limit(1).select("vec_id").head.getLong(0)
    assert(pairs.get((origId, 90001L)).contains(1.0))
    // blocking only ever DROPS pairs relative to the all-pairs form
    val brute = withDup.alias("a").join(withDup.alias("b"),
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"),
        round(Similarity.cosine(col("a.embedding"), col("b.embedding")), 6).as("cos"))
      .filter(col("cos") > 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.keySet.subsetOf(brute))
  }

  test("s09 banded blocking dominates round-9's single-table form (recall never drops)") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    // the exact-dup fixture the verdict names: an exact copy must pair
    // under BOTH blockings (it agrees on every plane of every table)
    val dup = emb.orderBy("vec_id").limit(1).select(lit(90001L).as("vec_id"),
      col("embedding"), col("label"))
    val withDup = emb.unionByName(dup)
    def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = pairsOf(Similarity.nearDupPairsLsh(withDup, 0.4))
    val single = pairsOf(Similarity.nearDupPairsSingleTable(withDup, 0.4))
    // table 0's planes ARE the single-table planes, so the banded
    // candidate set is a superset by construction — verified pairs too
    assert(single.subsetOf(banded),
      s"banded must dominate: missing ${(single -- banded).take(5)}")
    val origId = emb.orderBy("vec_id").limit(1).select("vec_id").head.getLong(0)
    assert(banded.contains((origId, 90001L)) && single.contains((origId, 90001L)))
  }

  test("fuzzy decontamination: near-dup eval leakage caught across corpora, clean docs pass") {
    import org.apache.spark.sql.functions.col
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = df("doc_id BIGINT, text STRING, source STRING", Seq(
      Row(0L, base, "src0"),                                   // the eval doc
      Row(1L, base, "src1"),                                   // verbatim leak
      Row(2L, base.replace("kappa", "lambda"), "src1"),        // last-token paraphrase
      Row(3L, "one two three four five six seven eight", "src1"), // clean
      Row(4L, "alpha beta gamma", "src1")))                    // shares ONE shingle only
    val out = Dedup.fuzzyDecontaminate(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(5))).sortBy(_._1)
    // verbatim: jaccard 1; paraphrase: 7 of 8 shingles shared → 7/9
    assert(out.map(t => (t._1, t._2)).toSeq == Seq((1L, 0L), (2L, 0L)))
    assert(out(0)._3 == 1.0)
    assert(math.abs(out(1)._3 - 7.0 / 9.0) < 1e-6)
    // the one-shingle overlap doc is below threshold even if banded in
    assert(!out.exists(_._1 == 3L) && !out.exists(_._1 == 4L))
    // threshold is a knob: at 0.05 the single-shingle doc may surface
    // ONLY if banding candidates it — never a clean doc with no overlap
    val loose = Dedup.fuzzyDecontaminate(docs, threshold = 0.05).collect()
      .map(_.getLong(0)).toSet
    assert(!loose.contains(3L), "a no-overlap doc must never be flagged")
  }

  test("adaptive plane schedule: floor 4 through the oracle regime, then grows with log2(n)") {
    // the oracle-SF regime (n ≤ 1024 = 64·2⁴) must stay at the fixed
    // parameterization so s09/s10's DuckDB mirror is bit-identical there
    assert(Similarity.adaptivePlanes(1) == 4)
    assert(Similarity.adaptivePlanes(500) == 4)   // sf0.001 / sf0.01
    assert(Similarity.adaptivePlanes(1024) == 4)  // exact boundary
    assert(Similarity.adaptivePlanes(1025) == 5)
    assert(Similarity.adaptivePlanes(2000) == 5)  // sf0.1
    assert(Similarity.adaptivePlanes(2048) == 5)  // power-of-two boundary
    assert(Similarity.adaptivePlanes(2049) == 6)
    // bucket occupancy stays O(targetBucket): n/2^planes ≤ 64 everywhere
    for (n <- Seq(10000L, 1000000L, 1000000000L))
      assert(n.toDouble / (1L << Similarity.adaptivePlanes(n)) <= 64.0)
  }

  test("multiprobe radius 2: recall vs brute never drops below radius 1") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    def neighbors(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val truth = neighbors(Similarity.knnBrute(emb, 3, 5))
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = neighbors(df) // one job per frame, not one per truth query
      truth.map { case (q, t) =>
        got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
      }.sum / truth.size
    }
    val r1 = recall(Similarity.knnLshMultiprobe(emb, 3, 5, planes = 4, radius = 1))
    val r2 = recall(Similarity.knnLshMultiprobe(emb, 3, 5, planes = 4, radius = 2))
    // the r2 probe set is a superset of r1's, so every r1 candidate is
    // scored again and the exact top-k can only improve
    assert(r2 >= r1, s"radius-2 recall $r2 must dominate radius-1 $r1")
  }

  test("s10 semantic clusters: transitive closure over near-dup pairs, min-id keeper") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    // two extra exact copies of one vector → with the original they form
    // (at least) a 3-member semantic cluster whose min id is canonical
    val base = emb.orderBy("vec_id").limit(1)
    val withDups = emb
      .unionByName(base.select(lit(90001L).as("vec_id"), col("embedding"), col("label")))
      .unionByName(base.select(lit(90002L).as("vec_id"), col("embedding"), col("label")))
    val out = Similarity.semanticClusters(withDups, 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val origId = base.select("vec_id").head.getLong(0)
    val mine = out.filter(t => Set(origId, 90001L, 90002L).contains(t._1))
    assert(mine.length == 3, s"all three copies must cluster: ${mine.toSeq}")
    assert(mine.map(_._2).distinct.length == 1, "one transitive cluster")
    assert(mine.forall(_._3 >= 3), "cluster size counts every member")
    // keep marks exactly the min-id member of each cluster, everywhere
    out.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.count(_._4) == 1 && members.filter(_._4).head._1 == cid
        && cid == members.map(_._1).min, s"cluster $cid keeper broken")
    }
    // every pair's endpoints land in the same cluster
    val label = out.map(t => t._1 -> t._2).toMap
    Similarity.nearDupPairsLsh(withDups, 0.4).select("i", "j").collect()
      .foreach(r => assert(label(r.getLong(0)) == label(r.getLong(1))))
  }

  test("t09 PII scrub: staged redaction with exact per-stage counts") {
    import org.apache.spark.sql.functions._
    val d = docs(
      1L -> "mail me at jane.doe+x@example.org or visit 10.0.0.1 now",
      2L -> "call 555-867-5309 or 555 123 4567 today",
      3L -> "totally clean prose with no identifiers at all",
      // a numeric-host address is NOT an email under the conservative
      // pattern (alphabetic TLD required); the IP stage redacts both
      // addresses instead — bob@<IP> is the correct output
      4L -> "bob@192.168.1.1 pinged 8.8.8.8")
    val out = TextAnalysis.piiScrub(d).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))).toMap
    assert(out(1L)._1 == 1 && out(1L)._2 == 1 && out(1L)._3 == 0)
    assert(out(2L) == ((0, 0, 2, out(2L)._4)))
    // clean text: zero counts and the hash is the ORIGINAL text's md5
    val cleanMd5 = d.filter(col("doc_id") === 3L)
      .select(md5(col("text"))).head.getString(0)
    assert(out(3L) == ((0, 0, 0, cleanMd5)))
    assert(out(4L)._1 == 0 && out(4L)._2 == 2)
    val scrubbed2 = TextAnalysis.piiScrub(d).filter(col("doc_id") === 2L)
      .select(col("scrub_hash")).head.getString(0)
    val expected2 = d.sparkSession.sql(
      "SELECT md5('call <PHONE> or <PHONE> today')").head.getString(0)
    assert(scrubbed2 == expected2)
  }

  test("native distinct_shingles equals the higher-order spec, edge cases included") {
    val tricky = docs(
      0L -> "a b c d e",
      1L -> "a b c a b c a b c",         // heavy repetition → distinct matters
      2L -> "a  b c d",                  // double space → empty token, kept by split
      3L -> "",                          // split("") = [""] → 1 token, no shingle
      4L -> "x y",                       // 2 tokens, no shingle
      5L -> "einzigartige wörter über äöü tokens", // multi-byte UTF-8
      6L -> " lead and trail ")          // leading/trailing empties from split
    val native = Dedup.wordShingles(tricky).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val spec = Dedup.wordShinglesHof(tricky).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(native.toSeq.sorted == spec.toSeq.sorted)
    assert(native.length == native.distinct.length, "per-doc shingles must be distinct")
    // order within a doc is first-occurrence, like array_distinct
    assert(native.filter(_._1 == 1L).map(_._2).toSeq ==
      Seq("a b c", "b c a", "c a b"))
    // the expression is codegen'd — it must NOT plan as an interpreted
    // higher-order function (that's the whole point)
    val plan = Dedup.wordShingles(tricky).queryExecution.executedPlan.toString
    assert(plan.contains("distinct_shingles") && !plan.contains("transform("))
  }

  // ---- decontamination (d12) ----

  private val contamDdl = "doc_id BIGINT, text STRING, source STRING"
  private val contamCorpus = df(contamDdl, Seq(
    // the eval "benchmark" doc: trigrams {a b c, b c d}
    Row(0L, "a b c d", "src0"),
    // shares BOTH eval trigrams (a b c, b c d) → flagged at minOverlap=2
    Row(1L, "a b c d e", "corpus"),
    // shares only "a b c" → below minOverlap=2, must NOT be flagged
    Row(2L, "x y a b c", "corpus"),
    // no overlap at all
    Row(3L, "p q r s t", "corpus"),
    // < 3 words: no shingles, never a candidate
    Row(4L, "a b", "corpus")))

  test("decontaminate: overlap threshold separates contaminated docs from grazers") {
    val out = Dedup.decontaminate(contamCorpus, "src0", minOverlap = 2).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L))
    val r = out.head
    // doc 1 has trigrams {a b c, b c d, c d e} → 3 shingles, 2 eval hits
    assert(r.getLong(1) == 3 && r.getLong(2) == 2)
    assert(math.abs(r.getDouble(3) - 2.0 / 3) < 1e-6)
    // at minOverlap=1 the grazer joins the quarantine; eval docs never do
    val loose = Dedup.decontaminate(contamCorpus, "src0", minOverlap = 1)
      .collect().map(_.getLong(0)).toSet
    assert(loose == Set(1L, 2L))
  }

  test("hashed-key decontamination twin equals the exact-string form") {
    val evalSh = Dedup.evalShingleSet(contamCorpus.filter("source = 'src0'"))
    val corpus = contamCorpus.filter("source <> 'src0'")
    for (minOv <- Seq(1L, 2L)) {
      val exact = Dedup.decontaminateAgainst(corpus, evalSh, minOv).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      val hashed = Dedup.decontaminateAgainstHashed(corpus, evalSh, minOv).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(hashed == exact && exact.nonEmpty, s"minOverlap=$minOv")
    }
  }

  test("decontaminate plan: eval side broadcast, corpus side never shuffled pre-join") {
    val plan = Dedup.decontaminate(contamCorpus, "src0")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "eval shingles must broadcast — the corpus side is the 100 TB side")
    assert(!plan.contains("SortMergeJoin"),
      "a sort-merge join would shuffle the corpus shingle relation")
  }

  // ---- Bloom-filter decontamination (d13) ----

  test("bloom decontamination: flags are a superset of exact flags, counts never undercount") {
    val evalDocs = contamCorpus.filter("source = 'src0'")
    // a null-text doc must be dropped like the exact path drops it,
    // not NPE the typed probe
    val corpus = contamCorpus.filter("source <> 'src0'")
      .unionByName(df(contamDdl, Seq(Row(9L, null, "corpus"))))
    val bf = Dedup.evalShingleBloom(evalDocs, fpp = 0.001)
    for (minOv <- Seq(1L, 2L)) {
      val exact = Dedup.decontaminateAgainst(
        corpus, Dedup.evalShingleSet(evalDocs), minOv).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      val bloom = Dedup.decontaminateBloom(corpus, bf, minOv).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      // no false negatives: every exactly-flagged doc is bloom-flagged,
      // and its bloom count is at least its exact count
      exact.foreach { case (id, n) =>
        assert(bloom.contains(id), s"doc $id lost at minOverlap=$minOv")
        assert(bloom(id) >= n, s"doc $id bloom ${bloom(id)} < exact $n")
      }
    }
    // the zero-shingle doc (4L) can never be flagged even at minOverlap=0-ish
    assert(!Dedup.decontaminateBloom(corpus, bf, 1L).collect()
      .exists(_.getLong(0) == 4L))
  }

  test("bloom decontamination plan is map-only: no join, no aggregate, no exchange") {
    val bf = Dedup.evalShingleBloom(contamCorpus.filter("source = 'src0'"))
    val plan = Dedup.decontaminateBloom(contamCorpus.filter("source <> 'src0'"), bf)
      .queryExecution.executedPlan.toString
    for (bad <- Seq("Join", "Exchange", "HashAggregate"))
      assert(!plan.contains(bad), s"bloom probe must ride the scan — found $bad in:\n$plan")
  }

  test("stored bloom filter: round-trip produces identical verdicts") {
    val evalDocs = contamCorpus.filter("source = 'src0'")
    val corpus = contamCorpus.filter("source <> 'src0'")
    val bf = Dedup.evalShingleBloom(evalDocs)
    val path = java.nio.file.Files.createTempDirectory("graft_bloom").toString + "/eval.bloom"
    Dedup.writeEvalBloom(spark, bf, path)
    val loaded = Dedup.readEvalBloom(spark, path)
    assert(loaded.bitSize() == bf.bitSize())
    val a = Dedup.decontaminateBloom(corpus, bf, 1L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = Dedup.decontaminateBloom(corpus, loaded, 1L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a == b && a.nonEmpty)
  }

  test("d13 checked form: both contract booleans true on the exact row set") {
    val out = Dedup.decontaminateBloomChecked(contamCorpus, "src0", minOverlap = 2)
      .collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L))
    assert(out.forall(r => r.getBoolean(3) && r.getBoolean(4)))
  }

  test("d13 Bloom filter is SnapshotKey-memoized: warm construction runs " +
      "no eval-side build jobs") {
    // round 15: the eval-side filter build (exact sizing count + the
    // build aggregate — two jobs at CALL time) used to re-run every
    // execution; it is now memoized like every other trained artifact.
    // Budget: a SECOND construction against the same file snapshot must
    // launch ZERO actions (the returned plan is lazy; the only eager
    // work was the filter build).
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    Dedup.releaseCaches()
    Dedup.decontaminateBloomChecked(docs) // cold: builds + memoizes
    // warm: memo hit, no jobs (the listener drains the cold call's
    // queued events into its baseline)
    val run = launched(Dedup.decontaminateBloomChecked(docs))
    assert(run.actions == 0,
      s"warm d13 construction launched ${run.actions} actions " +
        s"(${run.sqlExecutions} SQL executions + ${run.rddJobs} RDD jobs) — budget is 0")
    // and the memoized filter yields the same relation as a fresh build
    val warm = Dedup.decontaminateBloomChecked(docs).collect().toSeq
    Dedup.releaseCaches()
    val cold = Dedup.decontaminateBloomChecked(docs).collect().toSeq
    assert(warm == cold)
  }
}
