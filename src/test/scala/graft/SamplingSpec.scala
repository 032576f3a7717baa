package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.operators.{Sampling, TextAnalysis}

class SamplingSpec extends SparkSpec {

  private def docs(n: Int) = df(
    "doc_id BIGINT, text STRING, lang STRING, n_chars BIGINT",
    (0 until n).map(i =>
      Row(i.toLong, s"word$i common filler", if (i % 2 == 0) "en" else "de", 18L)))

  test("hash sample is deterministic and nested: 1/8 sample is a subset of 1/4") {
    val d = docs(400)
    val quarter = Sampling.hashSample(d, buckets = 64).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val eighth = Sampling.hashSample(d, buckets = 32).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(eighth.subsetOf(quarter), "smaller rate must be contained in larger")
    // deterministic: same input → identical membership on re-evaluation
    val again = Sampling.hashSample(d, buckets = 64).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(again == quarter)
    // rate lands near buckets/256 (md5 is uniform; 400 draws at p=0.25)
    assert(quarter.size > 400 * 0.25 * 0.5 && quarter.size < 400 * 0.25 * 2.0)
  }

  test("stratified summary accounts every stratum exactly") {
    val d = docs(200)
    val sum = Sampling.stratifiedSummary(d, buckets = 64).collect()
    assert(sum.map(_.getAs[String]("lang")).toSeq == Seq("de", "en"))
    assert(sum.map(_.getAs[Long]("total")).sum == 200L)
    val direct = Sampling.hashSample(d, buckets = 64).count()
    assert(sum.map(_.getAs[Long]("sampled")).sum == direct,
      "per-stratum sampled counts must sum to the flat sample size")
  }

  test("capPerSource keeps each source's top-quality docs, heap ≡ rank window") {
    // src_big: 6 docs of stepped quality; src_small: 2 docs — the cap
    // bites only where it should
    val rows = (0 until 6).map(i =>
      Row(i.toLong, ("quality words " * (i + 1)).trim + ".", "src_big")) ++
      Seq(Row(10L, "tiny.", "src_small"), Row(11L, "also tiny.", "src_small"))
    val d = df("doc_id BIGINT, text STRING, source STRING", rows)
    val out = Sampling.capPerSource(d, perSource = 3).collect()
    val bySrc = out.groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(2)).toSeq).toMap
    assert(bySrc("src_big").size == 3 && bySrc("src_small").size == 2)
    // equal to the declarative rank-window form (score desc, doc_id asc)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(desc("q"), asc("doc_id"))
    val window = d.select(col("doc_id"), col("source"),
      TextAnalysis.qualityScoreExpr(col("text")).as("q"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .select(col("source"), col("rank"), col("doc_id"), col("q").as("quality_score"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val heap = out.map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(heap == window)
  }

  test("shuffledOrder: reproducible per seed, permuted across seeds") {
    val d = df("doc_id BIGINT, text STRING",
      (0 until 200).map(i => Row(i.toLong, s"doc $i")))
    // the order is reproducible per seed and different across seeds
    val e0 = Sampling.shuffledOrder(d, seed = 0).collect().map(_.getLong(2)).toSeq
    val e0b = Sampling.shuffledOrder(d, seed = 0).collect().map(_.getLong(2)).toSeq
    val e1 = Sampling.shuffledOrder(d, seed = 1).collect().map(_.getLong(2)).toSeq
    assert(e0 == e0b && e0 != e1 && e0.sorted == e1.sorted)
    // and it is a real shuffle, not identity order
    assert(e0 != e0.sorted)
  }

  test("tfidf ranks rarer terms above ubiquitous ones at equal tf") {
    // 4 docs all share 'common'; each has a unique term with the same tf
    val d = df(
      "doc_id BIGINT, text STRING",
      (0 until 4).map(i => Row(i.toLong, s"common unique$i")))
    val out = TextAnalysis.tfidfTopTerms(d, maxDocId = 4, topK = 2).collect()
    // rank 1 is always the unique term (df=1); 'common' has idf=ln(1)=0
    val rank1 = out.filter(_.getAs[Int]("rank") == 1)
    assert(rank1.length == 4 && rank1.forall(_.getAs[String]("term").startsWith("unique")))
    assert(out.filter(_.getAs[String]("term") == "common")
      .forall(r => r.getAs[Double]("tfidf") == 0.0))
    // df is corpus-wide even when output is doc-restricted
    val restricted = TextAnalysis.tfidfTopTerms(d, maxDocId = 1, topK = 2).collect()
    assert(restricted.filter(_.getAs[String]("term") == "common")
      .forall(_.getAs[Long]("df") == 4L))
  }

  test("leakage-safe split: near-dup cluster members always share a split") {
    import graft.operators.{Dedup, Sampling}
    Dedup.releaseCaches()
    // docs 1/2/3 are near-dups (one cluster); 10/11 another; rest singletons
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val d = df("doc_id BIGINT, text STRING", Seq(
      Row(1L, base), Row(2L, base + "!"), Row(3L, base + "?!"),
      Row(10L, "completely different text about spark streaming micro batches"),
      Row(11L, "completely different text about spark streaming micro batches"),
      Row(20L, "unrelated corpus noise with no shingle overlap whatsoever here"),
      Row(21L, "another standalone document with its very own word population")))
    val out = Sampling.leakageSafeSplit(d, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.length == 7)
    val byId = out.map(t => t._1 -> t).toMap
    // cluster members share the min-label representative AND the split
    assert(Seq(1L, 2L, 3L).map(byId(_)._2).distinct == Seq(1L))
    assert(Seq(1L, 2L, 3L).map(byId(_)._3).distinct.length == 1)
    assert(Seq(10L, 11L).map(byId(_)._2).distinct == Seq(10L))
    assert(Seq(10L, 11L).map(byId(_)._3).distinct.length == 1)
    // singletons represent themselves
    assert(byId(20L)._2 == 20L && byId(21L)._2 == 21L)
    // the split of a clustered doc equals the split its representative
    // would get alone — the bucket is taken on rep_id, nothing else
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest("1".getBytes("UTF-8")).map("%02x".format(_)).mkString.take(2)
    val expected = if (h < "20") "test" else if (h < "40") "val" else "train"
    assert(byId(3L)._3 == expected)
  }

  test("span-aware leakage split: span-sharing docs cohere; near-dup cohesion kept") {
    import graft.operators.{Dedup, Sampling}
    Dedup.releaseCaches()
    val boiler = "all rights reserved contact us at example dot com thanks"
    // 1/2: near-dups (cluster edge). 30/31: NOT near-dups (entirely
    // different bodies) but both carry the same 8-word boilerplate span
    // → must share a split under the span-aware form (p20 would split
    // them independently). 20: singleton.
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val d = df("doc_id BIGINT, text STRING", Seq(
      Row(1L, base), Row(2L, base + "!"),
      Row(30L, boiler + " first body talks about streaming joins and watermarks entirely"),
      Row(31L, boiler + " second body covers parquet row groups and bloom filter pruning"),
      Row(20L, "unrelated corpus noise with no shingle overlap whatsoever here")))
    val out = Sampling.leakageSafeSplitSpans(d, threshold = 0.5, window = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.length == 5)
    val byId = out.map(t => t._1 -> t).toMap
    // near-dup cluster still moves as one unit
    assert(Seq(1L, 2L).map(byId(_)._2).distinct == Seq(1L))
    assert(Seq(1L, 2L).map(byId(_)._3).distinct.length == 1)
    // the span-sharing pair coheres: same representative, same split
    assert(Seq(30L, 31L).map(byId(_)._2).distinct == Seq(30L),
      s"span-sharing docs must share a representative: ${byId(30L)} ${byId(31L)}")
    assert(byId(30L)._3 == byId(31L)._3)
    // p20 (cluster-only) does NOT connect 30/31 — the pin that this
    // operator closes a real gap, not a restatement
    val p20 = Sampling.leakageSafeSplit(d, threshold = 0.5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(p20(30L) == 30L && p20(31L) == 31L)
    // singleton unaffected
    assert(byId(20L)._2 == 20L)
  }

  test("span dedup: first occurrence kept, repeats scrubbed, duplicate doc empties") {
    // window=2 spans; doc 0 and doc 2 are exact duplicates; doc 1 shares
    // doc 0's first span but has its own tail (and a short final span)
    val d = df("doc_id BIGINT, text STRING", Seq(
      Row(0L, "a b c d"),      // spans: "a b", "c d"
      Row(1L, "a b x y z"),    // spans: "a b" (repeat), "x y", "z"
      Row(2L, "a b c d")))     // exact dup of doc 0 → fully scrubbed
    val out = TextAnalysis.spanDedup(d, window = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), Option(r.getString(3))))).toMap
    assert(out(0L)._1 == 2 && out(0L)._2 == 2) // keeper doc keeps everything
    assert(out(1L)._1 == 3 && out(1L)._2 == 2) // "a b" scrubbed, tail kept
    assert(out(2L)._1 == 2 && out(2L)._2 == 0 && out(2L)._3.isEmpty,
      "the duplicate doc must scrub fully and hash NULL")
    // doc 1's reassembly is its kept spans in order: "x y z"
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest("x y z".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(1L)._3.contains(h))
    // keeper resolution is aggregate+join, never a per-span window (a
    // universal boilerplate span would serialize a window partition)
    val plan = TextAnalysis.spanDedup(d, 2).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
  }

  test("dup-span extents: any-alignment sliding detection, island merge, chunk form's blind spot") {
    // doc 0 and doc 1 share the passage "p q r s" — but at DIFFERENT
    // token offsets (0 vs 1), the alignment the fixed-chunk spanDedup
    // form cannot see at window 4 (chunks "p q r s"/"w p q r" differ)
    val d = df("doc_id BIGINT, text STRING", Seq(
      Row(0L, "p q r s a b c d"),
      Row(1L, "w p q r s x y z"),
      Row(2L, "m n o u v k l t")))     // no shared 4-gram anywhere
    val out = TextAnalysis.dupSpanExtents(d, window = 4).collect()
      .map(r => (r.getLong(0),
        (r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // each doc has exactly ONE duplicated position (the "p q r s"
    // shingle), so one 4-token extent; doc 2 emits no row
    assert(out.keySet == Set(0L, 1L))
    assert(out(0L) == ((8, 1L, 4L, 4L, 4L * 1000000 / 8)))
    assert(out(1L) == ((8, 1L, 4L, 4L, 4L * 1000000 / 8)))
    // the chunked form at the same window indeed misses it (doc 1 keeps
    // all its chunks) — the gap t12 exists to close
    val chunked = TextAnalysis.spanDedup(d, window = 4).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(chunked(1L)._1 == chunked(1L)._2, "chunk form must be blind here")
    // island merge: two overlapping duplicated shingles fuse into ONE
    // maximal extent ("p q r s t": positions 0 and 1 both duplicated)
    val d2 = df("doc_id BIGINT, text STRING", Seq(
      Row(0L, "p q r s t a b c"),
      Row(1L, "x p q r s t y z")))
    val merged = TextAnalysis.dupSpanExtents(d2, window = 4).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(merged(0L) == ((1L, 5L)), "one fused 5-token extent")
    // within-doc repetition counts as duplication too
    val d3 = df("doc_id BIGINT, text STRING",
      Seq(Row(0L, "a b c d x x a b c d")))
    val self = TextAnalysis.dupSpanExtents(d3, window = 4).collect()
    assert(self.length == 1 && self(0).getLong(2) == 2L) // two extents
  }

  test("temperature sampling: rarest group keeps all, larger groups flatten toward share^alpha") {
    // 320 en vs 40 de (8:1): rate_de = 1, rate_en = 8^(0.3-1) ≈ 0.233
    val d = df(
      "doc_id BIGINT, text STRING, lang STRING, n_chars BIGINT",
      (0 until 360).map(i =>
        Row(i.toLong, "t", if (i < 320) "en" else "de", 1L)))
    val s = Sampling.temperatureSummary(d, "lang", 0.3).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    val (deTotal, deKept, deRate) = s("de")
    val (enTotal, enKept, enRate) = s("en")
    assert(deRate == 1.0 && deKept == deTotal, "rarest group keeps everything")
    assert(math.abs(enRate - math.pow(8.0, -0.7)) < 1e-6)
    // kept share flattens: en was 8x de, must now be well under 8x
    assert(enKept.toDouble / deKept < 0.5 * (enTotal.toDouble / deTotal),
      s"shares must flatten: kept en=$enKept de=$deKept")
    // md5-uniform: kept count lands near rate*total (loose 2x bounds)
    assert(enKept > enTotal * enRate * 0.5 && enKept < enTotal * enRate * 2.0)
  }

  test("DSIR: target-like docs outscore off-target; selection is exact top-fraction") {
    // two vocabularies: en docs speak "alpha beta gamma", de docs
    // "rot blau gruen" — the LLR toward the en target must separate them
    val d = df(
      "doc_id BIGINT, text STRING, lang STRING, n_chars BIGINT",
      (0 until 80).map { i =>
        val t = if (i % 2 == 0) s"alpha beta gamma alpha delta${i % 5}"
                else s"rot blau gruen rot gelb${i % 5}"
        Row(i.toLong, t, if (i % 2 == 0) "en" else "de", t.length.toLong)
      })
    val r = Sampling.dsirResample(d, col("lang") === "en", fraction = 0.25)
      .collect()
    assert(r.length == 80)
    val (en, de) = r.partition(_.getLong(0) % 2 == 0)
    val enMean = en.map(_.getDouble(2)).sum / en.length
    val deMean = de.map(_.getDouble(2)).sum / de.length
    assert(enMean > deMean,
      s"en-vocabulary docs must outscore de: $enMean vs $deMean")
    // exact top-fraction: ceil(0.25*80) = 20 selected, and they are
    // precisely the 20 best Gumbel keys
    assert(r.count(_.getBoolean(5)) == 20)
    val minSel = r.filter(_.getBoolean(5)).map(_.getDouble(3)).min
    val maxUnsel = r.filterNot(_.getBoolean(5)).map(_.getDouble(3)).max
    assert(minSel > maxUnsel, "selected set must be the top keys exactly")
    // rank is a permutation of 1..n (the two-pass global rank is exact)
    assert(r.map(_.getLong(4)).sorted.toSeq == (1L to 80L))
  }

  test("LM perplexity: reference-like text lands in the head, gibberish in the tail") {
    // the reference model trains on en docs repeating a small fluent
    // vocabulary with CONSISTENT bigrams; the gibberish docs use unseen
    // tokens whose every probability falls back to the smoothed floor
    val d = df(
      "doc_id BIGINT, text STRING, lang STRING",
      (0 until 60).map { i =>
        val t =
          if (i < 40) "the cat sat on the mat and the cat ran to the mat"
          else s"zxq${i} wvu${i} tsr${i} qpo${i} nml${i} kji${i} hgf${i}"
        Row(i.toLong, t, if (i < 40) "en" else "xx")
      })
    val r = Sampling.lmPerplexity(d, col("lang") === "en").collect()
    assert(r.length == 60)
    val byId = r.map(x => x.getLong(0) -> x).toMap
    val fluentNll = (0L until 40L).map(byId(_).getDouble(2))
    val junkNll = (40L until 60L).map(byId(_).getDouble(2))
    assert(fluentNll.max < junkNll.min,
      s"every fluent doc must score below every gibberish doc: ${fluentNll.max} vs ${junkNll.min}")
    // every gibberish doc is tail (and dropped); terciles are exact
    assert((40L until 60L).forall(id => byId(id).getString(4) == "tail" && !byId(id).getBoolean(5)))
    val buckets = r.groupBy(_.getString(4)).view.mapValues(_.length).toMap
    assert(buckets == Map("head" -> 20, "middle" -> 20, "tail" -> 20))
    // ppl is exp(nll) (2dp) — monotone with nll
    r.foreach(x => assert(math.abs(x.getDouble(3) - math.exp(x.getDouble(2))) < 0.01))
  }
}
