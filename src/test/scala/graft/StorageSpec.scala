package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Storage-layout scale techniques, proven on plans rather than asserted
  * in prose: date-partitioned layout → partition pruning; bucketed layout
  * → shuffle-free co-located join. */
class StorageSpec extends SparkSpec {

  test("date-partitioned layout: a date filter prunes partitions at planning time") {
    val dir = Files.createTempDirectory("graft_part").toString
    FtlFixture.prep(spark, 7, 2000)
      .withColumn("date_str", date_format(col("date"), "yyyy-MM-dd"))
      .write.partitionBy("date_str").parquet(s"$dir/events")
    val all = spark.read.parquet(s"$dir/events")
    val oneDay = all.filter(col("date_str") === "2024-01-15")
    // pruning is visible in the scan node: the date predicate lands in
    // PartitionFilters (metadata-only), not PushedFilters (data)
    val scan = oneDay.select("id").queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("date_str"), scan)
    // and the layout is physically partitioned — one directory per day
    val dirs = new java.io.File(s"$dir/events").listFiles().filter(_.isDirectory)
    assert(dirs.count(_.getName.startsWith("date_str=")) >= 30)
    assert(oneDay.count() > 0 && oneDay.count() < all.count())
  }

  test("Sinks.writeDatePartitioned: pruned reads, per-day dirs, ts-sorted row groups") {
    val dir = Files.createTempDirectory("graft_sink").toString
    val prep = FtlFixture.prep(spark, 11, 2000)
    graft.sources.Sinks.writeDatePartitioned(prep, s"$dir/events")
    val all = spark.read.parquet(s"$dir/events")
    assert(all.count() == prep.count())
    val dirs = new java.io.File(s"$dir/events").listFiles().filter(_.isDirectory)
    assert(dirs.count(_.getName.startsWith("date=")) >= 30)
    // repartition(date) → exactly one file per partition directory (no
    // tasks×days explosion)
    dirs.filter(_.getName.startsWith("date=")).foreach { d =>
      assert(d.listFiles().count(_.getName.endsWith(".parquet")) == 1, d.getName)
    }
    val oneDay = all.filter(col("date") === "2024-01-15")
    val scan = oneDay.select("id").queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("date"), scan)
    // rows inside each file are ts-sorted (tight parquet zone maps)
    val tsOrder = spark.read.parquet(dirs.filter(_.getName.startsWith("date="))
      .head.getAbsolutePath).select("ts").collect().map(_.getTimestamp(0))
    assert(tsOrder.sameElements(tsOrder.sorted((a: java.sql.Timestamp, b: java.sql.Timestamp) => a.compareTo(b))))
  }

  test("bucketed tables: co-located join plans without a shuffle exchange") {
    val wh = Files.createTempDirectory("graft_wh").toString
    spark.sql("DROP TABLE IF EXISTS li_b"); spark.sql("DROP TABLE IF EXISTS ord_b")
    val d = "/root/testdata/sf0.001"
    Tables.lineitem(spark, d).write.option("path", s"$wh/li_b")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("li_b")
    Tables.orders(spark, d).write.option("path", s"$wh/ord_b")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("ord_b")
    val joined = spark.table("li_b").join(spark.table("ord_b"),
      col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus").agg(sum("l_quantity").as("q"))
    val plan = joined.queryExecution.executedPlan.toString
    // both sides read pre-bucketed on the join key: the join itself needs
    // no Exchange (only the final small aggregate shuffles)
    val joinSection = plan.split("HashAggregate").head
    assert(!joinSection.contains("Exchange"),
      s"join should be shuffle-free over bucketed tables:\n$plan")
    // and the result is still correct
    val expected = Tables.lineitem(spark, d).join(Tables.orders(spark, d),
      col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus").agg(sum("l_quantity").as("q"))
    assert(joined.exceptAll(expected).count() == 0)
  }

  test("k-means IVF: Lloyd iterations monotonically reduce SSE; full coverage; usable recall") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    // the data-independent k-means invariant: within-cell squared error is
    // non-increasing across Lloyd iterations
    def sse(iters: Int): Double = {
      val cents = Similarity.kmeansCentroids(emb, 8, iters)
      Similarity.assignCells(emb, cents).select("vec_id", "cell")
        .join(emb.select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v")), Seq("vec_id"))
        .join(broadcast(cents), Seq("cell"))
        .select((Similarity.dot(col("v"), col("v"))
          - lit(2.0) * Similarity.dot(col("v"), col("centv"))
          + Similarity.dot(col("centv"), col("centv"))).as("d2"))
        .agg(sum("d2")).head.getDouble(0)
    }
    val s1 = sse(1); val s2 = sse(2); val s3 = sse(3)
    assert(s2 <= s1 + 1e-6 && s3 <= s2 + 1e-6, s"SSE not monotone: $s1 -> $s2 -> $s3")
    val cents = Similarity.kmeansCentroids(emb, 8, 2).collect()
    assert(cents.length == 8)
    assert(cents.forall(_.getAs[Seq[Double]]("centv").length == 64))
    // every vector lands in exactly one cell
    assert(Similarity.assignCells(emb, Similarity.kmeansCentroids(emb, 8, 2)).count() == 500)
    // recall at nProbe=4 of 8 cells stays usable
    val brute = Similarity.knnBrute(emb, 5, 10)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val trained = (Similarity.knnIvfTrained(emb, 5, 10, nCells = 8, nProbe = 4)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet & brute).size.toDouble / brute.size
    assert(trained > 0.3, s"recall=$trained")
  }

  test("stored IVF index: search ≡ in-process, append assigns without retraining, cells prune") {
    import graft.operators.Similarity
    import graft.streaming.StreamingAnnIndex
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val seed = emb.filter(col("vec_id") < 400)
    val batch = emb.filter(col("vec_id") >= 400)
    val dir = Files.createTempDirectory("graft_ivf").toString
    StreamingAnnIndex.seedIvf(seed, dir, nCells = 8, iterations = 2)
    StreamingAnnIndex.ingestIvfBatch(batch, 0L, dir)
    // the stored search equals the in-process pipeline over the SAME
    // centroids and the full corpus (search path is shared structurally)
    val cents = Similarity.readIvfCentroids(spark, dir)
    val queries = emb.filter(col("vec_id") < 5)
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val stored = rows(StreamingAnnIndex.knnIvf(spark, dir, queries, k = 10))
    val inProc = rows(Similarity.searchIvf(
      Similarity.assignCells(emb, cents), cents, queries, k = 10))
    assert(stored == inProc && stored.nonEmpty)
    // the appended batch was assigned against the STORED centroids: the
    // assignments table covers every vector exactly once
    val asg = StreamingAnnIndex.ivfAssignments(spark, dir)
    assert(asg.count() == emb.count())
    assert(asg.select("vec_id").distinct().count() == emb.count())
    // cell-partitioned layout: a single-cell read plans a partition
    // filter, not a full-index scan
    val oneCell = spark.read.parquet(s"$dir/assigned").filter(col("cell") === 0)
    assert(oneCell.queryExecution.executedPlan.toString.contains("PartitionFilters: [isnotnull(cell"),
      "cell filter must prune partitions")
  }

  test("stored PQ index: search ≡ in-process, append encodes against stored codebooks") {
    import graft.operators.Similarity
    import graft.streaming.StreamingAnnIndex
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val seed = emb.filter(col("vec_id") < 400)
    val batch = emb.filter(col("vec_id") >= 400)
    val dir = Files.createTempDirectory("graft_pq").toString
    StreamingAnnIndex.seedPq(seed, dir, m = 4, codes = 8, iterations = 2)
    StreamingAnnIndex.ingestPqBatch(batch, 0L, dir, m = 4)
    val queries = emb.filter(col("vec_id") < 5)
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val books = Similarity.readPqCodebooks(spark, dir)
    val stored = rows(StreamingAnnIndex.knnPq(spark, dir, queries, emb, k = 10))
    val inProc = rows(Similarity.searchPq(
      Similarity.pqEncode(emb, books, 4), books, queries, emb, k = 10))
    assert(stored == inProc && stored.nonEmpty)
    // every vector carries exactly m codes after the append
    val codes = StreamingAnnIndex.pqCodes(spark, dir)
    assert(codes.count() == emb.count() * 4)
    assert(codes.groupBy("vec_id").count().filter(col("count") =!= 4).count() == 0)
  }

  test("IVF ANN: recall vs brute force is high on probed cells and scores agree") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val brute = graft.operators.Similarity.knnBrute(emb, 5, 10)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = graft.operators.Similarity.knnIvf(emb, 5, 10, nCells = 8, nProbe = 4)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall > 0.3, s"recall=$recall") // probing half the cells
    assert(ivf.size == 50) // still returns k per query
  }

  test("PQ-ADC: codes compress to [0, K), re-ranked scores are exact, recall usable") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val books = Similarity.pqCodebooks(emb, m = 4, codes = 8, iterations = 1)
    assert(books.count() == 32) // 4 subspaces × 8 codes
    assert(books.collect().forall(_.getAs[Seq[Double]]("centv").length == 16))
    val codes = Similarity.pqEncode(emb, books, m = 4)
    // every vector gets exactly one code per subspace, all within range
    assert(codes.count() == 500 * 4)
    assert(codes.agg(min("code"), max("code")).head match {
      case r => r.getInt(0) >= 0 && r.getInt(1) < 8
    })
    val brute = Similarity.knnBrute(emb, 5, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val pq = Similarity.knnPq(emb, 5, 10, m = 4, codes = 8,
      iterations = 1, shortlist = 50).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // the exact re-rank means any pair ALSO in the brute result carries
    // the identical cosine — approximation affects recall, never scores
    val common = brute.keySet & pq.keySet
    assert(common.forall(p => brute(p) == pq(p)))
    val recall = common.size.toDouble / brute.size
    assert(recall > 0.5, s"PQ recall too low: $recall")
  }

  test("multi-probe LSH recall dominates single-probe and candidate pairs are unique") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val brute = Similarity.knnBrute(emb, 5, 10)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val s = df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (brute & s).size.toDouble / brute.size
    }
    val single = recallOf(Similarity.knnLshSingleProbe(emb, 5, 10, planes = 4))
    val multi = recallOf(Similarity.knnLshMultiprobe(emb, 5, 10, planes = 4))
    assert(multi >= single, s"multi=$multi single=$single")
    // round 10: the knnLsh front door IS the multiprobe path
    val front = recallOf(Similarity.knnLsh(emb, 5, 10, planes = 4))
    assert(front == multi, s"knnLsh default must be the multiprobe path: front=$front multi=$multi")
    // 5 of 16 buckets probed (planes=4, Hamming ≤ 1)
    assert(multi > 0.3, s"multi-probe recall too low: $multi")
    // no duplicate (query, neighbor) pairs from the probe explosion
    val out = Similarity.knnLshMultiprobe(emb, 5, 10, planes = 4)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.distinct.length == out.length)
  }
}
