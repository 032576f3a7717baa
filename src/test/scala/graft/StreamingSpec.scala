package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.{StreamingHourly, StreamingSessions}

class StreamingSpec extends SparkSpec {

  test("batch session_window equals the window-function sessionizer") {
    val prep = FtlFixture.prep(spark, 5, 1500)
    val viaSessionWindow = StreamingSessions.sessionWindowCounts(
      prep.select(col("client"), col("ts")), 1800)
      .select("client", "session_start", "n_events")
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2))).toSet
    val viaWindowFn = graft.operators.Streaks.sessionize(prep, 1800)
      .select("client", "session_start", "n_events")
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2))).toSet
    assert(viaSessionWindow == viaWindowFn)
  }

  test("mapGroupsWithState running totals converge to batch counts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val q = StreamingSessions.runningClientTotals(input.toDS())
      .writeStream.queryName("client_totals").outputMode(OutputMode.Update())
      .format("memory").start()
    try {
      input.addData(("c1", 10L), ("c2", 20L), ("c1", 30L))
      q.processAllAvailable()
      input.addData(("c1", 40L), ("c3", 50L))
      q.processAllAvailable()
      // latest state per client (update mode appends each revision)
      val totals = spark.table("client_totals")
        .groupBy("client").agg(max("nEvents").as("n"), max("lastSeenMicros").as("last"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(totals("c1") == ((3L, 40L)))
      assert(totals("c2") == ((1L, 20L)))
      assert(totals("c3") == ((1L, 50L)))
    } finally q.stop()
  }

  test("flatMapGroupsWithState closed sessions: gap-close and timeout-close both emit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val stream = input.toDS().toDF("client", "micros")
      .withColumn("ts", timestamp_micros(col("micros")))
      .withWatermark("ts", "0 seconds")
    val q = StreamingSessions.closedSessions(stream, gapSeconds = 60)
      .writeStream.queryName("closed_sessions").outputMode(OutputMode.Append())
      .format("memory").start()
    // times sit well above epoch 0: the initial watermark is 0, and an
    // event AT the watermark is filtered as late before the stateful op
    def us(s: Long) = s * 1000000L
    try {
      // batch 1: c1 two events 10s apart, c2 one event — nothing closes
      input.addData(("c1", us(1000)), ("c1", us(1010)), ("c2", us(1005)))
      q.processAllAvailable()
      assert(spark.table("closed_sessions").count() == 0)
      // batch 2: c1 jumps 190s — its first session closes BY GAP;
      // watermark advances to 1200s
      input.addData(("c1", us(1200)))
      q.processAllAvailable()
      // batch 3: unrelated event lets c2's event-time timeout (1005s+60s
      // < 1200s watermark) fire — c2 closes BY TIMEOUT with no new data
      input.addData(("c3", us(1400)))
      q.processAllAvailable()
      val out = spark.table("closed_sessions")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(out.contains(("c1", us(1000), us(1010), 2L)), s"gap-close missing: $out")
      assert(out.contains(("c2", us(1005), us(1005), 1L)), s"timeout-close missing: $out")
      // c3's session started at the final watermark (timeout 1460s >
      // watermark 1400s) — it must still be open
      assert(!out.exists(_._1 == "c3"), out.toString)
    } finally q.stop()
  }

  test("flatMapGroupsWithState on a batch frame: emits exactly the gap-closed sessions") {
    val prep = FtlFixture.prep(spark, 5, 1200)
    val closed = StreamingSessions.closedSessions(
      prep.select(col("client"), col("ts")), gapSeconds = 1800)
    // batch execution has no timeouts: every session except each
    // client's LAST (still open) emits — compare against the batch
    // window-function sessionizer minus its per-client final session
    val all = graft.operators.Streaks.sessionize(prep, 1800)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("client")
    val expected = all
      .withColumn("_last_start", max(col("session_start")).over(w))
      .filter(col("session_start") < col("_last_start"))
      .select(col("client"), unix_micros(col("session_start")).as("s"),
        unix_micros(col("session_end")).as("e"), col("n_events"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val got = closed.collect()
      .map(c => (c.client, c.sessionStartMicros, c.sessionEndMicros, c.nEvents)).toSet
    assert(got == expected && expected.nonEmpty)
  }

  test("streaming dedup: duplicated input files yield each event exactly once") {
    import graft.streaming.StreamingDedup
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_stream").toString
    val events = Tables.events(spark, "/root/testdata/sf0.001").limit(200)
    events.write.parquet(s"$dir/in/batch1")
    events.write.parquet(s"$dir/in/batch2") // exact duplicates arrive again
    val schema = spark.read.parquet(s"$dir/in/batch1").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in/*")
    val deduped = StreamingDedup.dedupByKey(stream, Seq("event_id"))
    val q = deduped.writeStream.queryName("dedup_stream").outputMode("append")
      .format("memory")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.table("dedup_stream")
    assert(out.count() == 200)
    assert(out.select("event_id").distinct().count() == 200)
  }

  test("stream-static enrichment join attaches dimension attributes per micro-batch") {
    import graft.streaming.StreamingDedup
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val input = MemoryStream[(Long, Double)]
    val stream = input.toDS().toDF("user_id", "value")
    val q = StreamingDedup.enrich(stream, dim, "user_id")
      .writeStream.queryName("enriched").outputMode("append").format("memory").start()
    try {
      input.addData((1L, 10.0), (2L, 20.0), (3L, 30.0)) // 3 has no dim row
      q.processAllAvailable()
      val rows = spark.table("enriched").collect()
        .map(r => (r.getLong(0), r.getString(2))).toSet
      assert(rows == Set((1L, "gold"), (2L, "silver")))
    } finally q.stop()
  }

  test("watermark drops late events: closed windows never revise in append mode") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = new java.sql.Timestamp(1704067200000L + min * 60000L)
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val agg = input.toDS().toDF("ts", "k")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("cnt"))
    val q = agg.writeStream.queryName("wm_drop").outputMode("append")
      .format("memory").start()
    try {
      input.addData((ts(0), "a"), (ts(30), "b"))
      q.processAllAvailable()
      // advance event time far enough that the first window closes
      // (watermark = max event time − 1h must pass the window END)
      input.addData((ts(200), "c"))
      q.processAllAvailable()
      val closed = spark.table("wm_drop")
        .select(col("window.start"), col("cnt")).collect()
        .map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
      assert(closed(ts(0)) == 2L, closed.toString) // hour-0 window emitted with 2 rows
      // a LATE row for the already-closed window must be DROPPED, not revise it
      input.addData((ts(10), "late"))
      input.addData((ts(400), "d")) // push the watermark further along
      q.processAllAvailable()
      val after = spark.table("wm_drop")
        .select(col("window.start"), col("cnt")).collect()
        .map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
      assert(after(ts(0)) == 2L, "late event must not revise a closed window")
      assert(!after.contains(ts(10)))
    } finally q.stop()
  }

  test("stream-stream interval join drains to the batch-equivalent pairs") {
    import graft.streaming.StreamingJoins
    val dir = "/root/testdata/sf0.001"
    val checkpoint = java.nio.file.Files.createTempDirectory("graft_ssj_ckpt").toString
    val stream = StreamingHourly.eventsStream(spark, dir)
    val q = StreamingJoins.blockedWithRecentAllowed(stream)
      .writeStream.queryName("ssj").outputMode("append").format("memory")
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("ssj")
      .select("b_id", "a_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = StreamingJoins.blockedWithRecentAllowedBatch(
      Preprocess.preprocessEvents(Tables.events(spark, dir)))
      .select("b_id", "a_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // all input is on-time (AvailableNow drain), so the streamed inner
    // join must emit exactly the batch pairs
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming write to date-partitioned parquet: pruned layout, drain equals batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_sink").toString
    val stream = StreamingHourly.eventsStream(spark, "/root/testdata/sf0.001")
      .withColumn("date_str", date_format(col("date"), "yyyy-MM-dd"))
    val q = stream.writeStream
      .format("parquet").partitionBy("date_str")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val written = spark.read.parquet(s"$dir/out")
    val batch = Preprocess.preprocessEvents(Tables.events(spark, "/root/testdata/sf0.001"))
    assert(written.count() == batch.count())
    // hive-partitioned by day, and a day filter prunes at planning time
    val dirs = new java.io.File(s"$dir/out").listFiles().filter(_.isDirectory)
    assert(dirs.count(_.getName.startsWith("date_str=")) >= 28)
    val scan = written.filter(col("date_str") === "2024-01-15").select("id")
      .queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("date_str"), scan)
  }

  test("streaming HLL daily rollup: drained sketches re-merge to the batch estimate") {
    import graft.streaming.StreamingSketch
    val dir = "/root/testdata/sf0.001"
    val checkpoint = java.nio.file.Files.createTempDirectory("graft_hll_ckpt").toString
    val stream = StreamingHourly.eventsStream(spark, dir).select("ts", "domain")
    val q = StreamingSketch.dailyDomainSketch(stream)
      .writeStream.queryName("hll_stream").outputMode("append").format("memory")
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rollup = spark.table("hll_stream")
    // append mode withholds days the final watermark hasn't closed — the
    // emitted days' per-day estimates must equal the batch HLL exactly
    // (same sketch algorithm, same lgK), and the re-merged range estimate
    // must match a batch union over the same days
    val prep = Preprocess.preprocessEvents(Tables.events(spark, dir))
    val batchDaily = prep
      .groupBy(date_trunc("DAY", col("ts")).as("day"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("domain"))).as("est"))
    val mismatch = rollup.select(col("day"), col("approx_domains"))
      .join(batchDaily, Seq("day"))
      .filter(col("approx_domains") =!= col("est"))
    assert(rollup.count() > 0 && mismatch.count() == 0)
    val merged = StreamingSketch.mergeRange(rollup).head
    val batchMerged = prep
      .join(rollup.select(date_format(col("day"), "yyyy-MM-dd").as("d")).distinct(),
        date_format(date_trunc("DAY", col("ts")), "yyyy-MM-dd") === col("d"), "left_semi")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("domain"))).as("est")).head
    assert(merged.getLong(0) > 0 && merged.getLong(1) == batchMerged.getLong(0))
  }

  test("streaming CMS daily rollup: merged probes bound exact counts from above") {
    import graft.streaming.StreamingSketch
    val dir = "/root/testdata/sf0.001"
    val checkpoint = java.nio.file.Files.createTempDirectory("graft_cms_ckpt").toString
    val stream = StreamingHourly.eventsStream(spark, dir).select("ts", "domain")
    val q = StreamingSketch.dailyDomainCms(stream)
      .writeStream.queryName("cms_stream").outputMode("append").format("memory")
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rollup = spark.table("cms_stream")
    assert(rollup.count() > 0)
    // exact counts restricted to the EMITTED days (append mode withholds
    // the last open day), keyed the same way the probe is
    val prep = Preprocess.preprocessEvents(Tables.events(spark, dir))
    val emitted = prep.join(rollup.select(col("day")).distinct(),
      date_trunc("DAY", col("ts")) === col("day"), "left_semi")
    val exact = emitted.groupBy("domain").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("domain")).limit(5).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val probes = StreamingSketch.probeCounts(rollup, exact.map(_._1).toSeq).toMap
    val total = emitted.count()
    exact.foreach { case (dom, cnt) =>
      val est = probes(dom)
      assert(est >= cnt, s"CMS must never undercount: $dom est=$est exact=$cnt")
      assert(est <= cnt + (0.001 * 2 * total).toLong + 1,
        s"CMS estimate too loose: $dom est=$est exact=$cnt n=$total")
    }
    // streaming per-day sketch ≡ batch per-day sketch (same seed/eps):
    // probing the same key through either path gives the same estimate
    val batchCms = prep
      .join(rollup.select(col("day")).distinct(),
        date_trunc("DAY", col("ts")) === col("day"), "left_semi")
      .groupBy(date_trunc("DAY", col("ts")).as("day"))
      .agg(expr("count_min_sketch(domain, 0.001d, 0.99d, 42)").as("cms"))
    val batchProbes = StreamingSketch.probeCounts(batchCms, exact.map(_._1).toSeq).toMap
    assert(exact.forall { case (dom, _) => probes(dom) == batchProbes(dom) })
  }

  test("streaming session counts drain equals batch session_window (all on-time)") {
    val dir = "/root/testdata/sf0.001"
    val checkpoint = java.nio.file.Files.createTempDirectory("graft_sess_ckpt").toString
    val stream = StreamingHourly.eventsStream(spark, dir).select("client", "ts")
    val q = StreamingSessions.toMemorySink(
      StreamingSessions.streamSessionCounts(stream, 1800),
      "stream_sessions", checkpoint, "append").start()
    q.awaitTermination()
    val streamed = spark.table("stream_sessions")
    val batch = StreamingSessions.sessionWindowCounts(
      Preprocess.preprocessEvents(Tables.events(spark, dir)).select("client", "ts"), 1800)
    // append mode emits only sessions closed by the final watermark; all
    // emitted rows must match the batch result exactly
    val joined = streamed.join(batch,
      Seq("client", "session_start", "session_end", "n_events"), "left_anti")
    assert(streamed.count() > 0 && joined.count() == 0)
  }

  test("streaming chunking: stateless map-only, chunks equal the batch operator") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val stream = input.toDS().toDF("doc_id", "text", "lang")
    val q = graft.operators.Packing.chunkStream(stream, window = 4, stride = 3)
      .writeStream.queryName("chunk_stream").outputMode("append")
      .format("memory").start()
    val rows = Seq((1L, "a b c d e f g", "en"), (2L, "x y", "de"))
    try {
      input.addData(rows.head)
      q.processAllAvailable()
      input.addData(rows.last)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("chunk_stream").collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getInt(3), r.getString(4))).toSet
    val batch = graft.operators.Packing.chunkDocs(
      df("doc_id BIGINT, text STRING, lang STRING",
        rows.map(t => org.apache.spark.sql.Row(t._1, t._2, t._3))),
      window = 4, stride = 3).collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getInt(3), r.getString(4))).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("quarantine writes are replay-idempotent (foreachBatch is at-least-once)") {
    // simulate a crash-replay: the same micro-batch written twice under
    // its batchId must leave the quarantine unchanged, not doubled
    val evalDocs = df("doc_id BIGINT, text STRING",
      Seq(org.apache.spark.sql.Row(100L, "a b c d e")))
    val evalSh = graft.operators.Dedup.evalShingleSet(evalDocs)
    val batch = df("doc_id BIGINT, text STRING",
      Seq(org.apache.spark.sql.Row(1L, "a b c d x")))
    val dir = java.nio.file.Files.createTempDirectory("graft_replay").toString
    def writeOnce(): Unit = graft.streaming.StreamingDecontam
      .flagBatch(batch, evalSh, 2)
      .write.mode("overwrite").parquet(s"$dir/batch_id=0")
    writeOnce(); writeOnce() // the replay
    assert(spark.read.parquet(dir).count() == 1)
  }

  test("streaming decontamination: quarantine equals the batch operator across a batch split") {
    import graft.streaming.StreamingDecontam
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // benchmark set: trigrams {a b c, b c d, c d e}
    val evalDocs = df("doc_id BIGINT, text STRING",
      Seq(org.apache.spark.sql.Row(100L, "a b c d e")))
    val evalSh = graft.operators.Dedup.evalShingleSet(evalDocs).persist()
    val dir = java.nio.file.Files.createTempDirectory("graft_decontam").toString
    val input = MemoryStream[(Long, String)]
    val stream = input.toDS().toDF("doc_id", "text")
    val q = StreamingDecontam.start(stream, evalSh, s"$dir/out", s"$dir/ckpt",
      minOverlap = 2,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      // batch 1: one contaminated (2 shared trigrams), one grazer (1), one clean
      input.addData((1L, "a b c d x"), (2L, "z z a b c"), (3L, "p q r s t"))
      q.processAllAvailable()
      // batch 2: contamination arriving later must flag identically
      input.addData((4L, "b c d e f"))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(s"$dir/out")
    val allDocs = df("doc_id BIGINT, text STRING", Seq(
      org.apache.spark.sql.Row(1L, "a b c d x"),
      org.apache.spark.sql.Row(2L, "z z a b c"),
      org.apache.spark.sql.Row(3L, "p q r s t"),
      org.apache.spark.sql.Row(4L, "b c d e f")))
    val batch = graft.operators.Dedup.decontaminateAgainst(allDocs, evalSh, 2)
    val asSet = (d: org.apache.spark.sql.DataFrame) => d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(asSet(streamed) == asSet(batch))
    assert(asSet(streamed).map(_._1) == Set(1L, 4L))
    evalSh.unpersist()
  }

  test("streaming fuzzy decontamination: quarantine equals the d14 batch operator across a split") {
    import graft.streaming.StreamingFuzzyDecontam
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evalDocs = df("doc_id BIGINT, text STRING", Seq(org.apache.spark.sql.Row(
      100L, "the quick brown fox jumps over the lazy dog today")))
    val (evalBands, evalShingles) = graft.operators.Dedup.evalFuzzyIndex(evalDocs)
    val eb = evalBands.persist(); val es = evalShingles.persist()
    val dir = java.nio.file.Files.createTempDirectory("graft_fuzzy_decontam").toString
    val input = MemoryStream[(Long, String)]
    val stream = input.toDS().toDF("doc_id", "text")
    val q = StreamingFuzzyDecontam.start(stream, eb, es, s"$dir/out", s"$dir/ckpt",
      threshold = 0.5,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog now"),  // near-dup
      (2L, "completely different words here nothing shared at all"), // clean
      (3L, "the quick brown fox jumps over the lazy dog today")) // verbatim, late batch
    try {
      input.addData(train(0), train(1))
      q.processAllAvailable()
      // a near-dup arriving in a LATER batch must flag identically
      input.addData(train(2))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(s"$dir/out")
    // batch reference: the one-shot d14 over the union with a source col
    val allDocs = df("doc_id BIGINT, text STRING, source STRING",
      train.map { case (id, t) => org.apache.spark.sql.Row(id, t, "train") } :+
        org.apache.spark.sql.Row(100L, "the quick brown fox jumps over the lazy dog today", "src0"))
    val batch = graft.operators.Dedup.fuzzyDecontaminate(allDocs, "src0", 0.5)
    val asSet = (d: org.apache.spark.sql.DataFrame) => d
      .select("doc_id", "eval_id", "common", "n_train", "n_eval", "jac").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSet
    assert(asSet(streamed) == asSet(batch))
    // the verbatim copy flags at jac 1.0; the clean doc never appears
    assert(asSet(streamed).map(_._1).contains(3L))
    assert(!asSet(streamed).map(_._1).contains(2L))
    eb.unpersist(); es.unpersist()
  }

  test("streaming media dedup: content-fingerprint verdicts equal the batch keep-first form") {
    import graft.streaming.StreamingMediaDedup
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // doc 11520 routes to the SAME bmp dims and pixel formula residues
    // as doc 0 (11520 ≡ 0 mod 256, mod 8, mod 5, mod 9) — identical
    // decoded content under a different doc id: the dedup target
    val ids = Seq(0L, 9L, 1L) // batch 1: two distinct images + one wav
    val ids2 = Seq(11520L, 3L, 2L) // batch 2: the re-encounter + png + avi
    val dir = java.nio.file.Files.createTempDirectory("graft_media_dedup").toString
    StreamingMediaDedup.seed(
      df("doc_id BIGINT, text STRING", Seq.empty), s"$dir/idx") // empty corpus
    val input = MemoryStream[(Long, String)]
    val stream = input.toDS().toDF("doc_id", "text")
    val q = StreamingMediaDedup.start(stream, s"$dir/idx", s"$dir/out", s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      input.addData(ids.map((_, "t")): _*)
      q.processAllAvailable()
      input.addData(ids2.map((_, "t")): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(s"$dir/out")
      .select("doc_id", "is_dup").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // batch reference: keep = min doc_id of the (kind, fingerprint) group
    val allDocs = df("doc_id BIGINT, text STRING", (ids ++ ids2).map(
      org.apache.spark.sql.Row(_, "t")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("kind", "fingerprint")
    val batch = graft.operators.Multimodal.mediaFingerprints(allDocs)
      .withColumn("is_dup", col("doc_id") =!=
        org.apache.spark.sql.functions.min(col("doc_id")).over(w))
      .select("doc_id", "is_dup").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(streamed == batch)
    assert(streamed(11520L)) // the cross-batch content duplicate is caught
    assert(!streamed(0L) && !streamed(3L) && !streamed(2L))
    // the index holds one row per distinct content: 5 keeps, no dup rows
    assert(spark.read.parquet(s"$dir/idx").count() == 5)
    // replay idempotence: re-running the last batch id rewrites, not appends
    StreamingMediaDedup.ingestBatch(
      df("doc_id BIGINT, text STRING", ids2.map(org.apache.spark.sql.Row(_, "t"))),
      1L, s"$dir/idx", s"$dir/out")
    assert(spark.read.parquet(s"$dir/out").count() == 6)
    assert(spark.read.parquet(s"$dir/idx").count() == 5)
  }

  test("streaming media dedup: index probe broadcast is size-gated — over the gate the join shuffles, verdicts unchanged") {
    import graft.streaming.StreamingMediaDedup
    val dir = java.nio.file.Files.createTempDirectory("graft_media_gate").toString
    // seed 5 distinct contents; the probe batch re-encounters one of them
    StreamingMediaDedup.seed(
      df("doc_id BIGINT, text STRING",
        Seq(0L, 1L, 2L, 3L, 9L).map(org.apache.spark.sql.Row(_, "t"))),
      s"$dir/idx")
    val batch = df("doc_id BIGINT, text STRING",
      Seq(11520L, 4L).map(org.apache.spark.sql.Row(_, "t"))) // 11520 dups doc 0's bmp
    val collectVerdicts = (d: org.apache.spark.sql.DataFrame) =>
      d.select("doc_id", "is_dup").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // under the gate: the hint is present in the analyzed plan
    val hinted = StreamingMediaDedup.verdictBatch(batch, 0L, s"$dir/idx",
      broadcastMaxRows = StreamingMediaDedup.DefaultBroadcastMaxRows)
    assert(hinted.queryExecution.analyzed.toString.contains("ResolvedHint"))
    // over the gate (5 stored rows > max 1): no hint, and with Spark's
    // own size-based broadcast off the join genuinely shuffles
    val conf = spark.conf
    val prevAqe = conf.get("spark.sql.adaptive.enabled")
    val prevBcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.sql.adaptive.enabled", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val gated = StreamingMediaDedup.verdictBatch(batch, 0L, s"$dir/idx",
        broadcastMaxRows = 1L)
      assert(!gated.queryExecution.analyzed.toString.contains("ResolvedHint"))
      val physical = gated.queryExecution.executedPlan.toString
      assert(!physical.contains("BroadcastHashJoin"))
      assert(physical.contains("SortMergeJoin") || physical.contains("ShuffledHashJoin"))
      val expected = Map(11520L -> true, 4L -> false)
      assert(collectVerdicts(gated) == expected)
      assert(collectVerdicts(hinted) == expected)
    } finally {
      conf.set("spark.sql.adaptive.enabled", prevAqe)
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevBcast)
    }
  }

  test("streaming dup extents: each batch's report equals the batch operator over the union-so-far") {
    import graft.streaming.StreamingDupExtents
    import graft.operators.TextAnalysis
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_dup_ext").toString
    StreamingDupExtents.seed(spark, s"$dir/sh")
    // batch 1: docs 0/1 share "p q r s" at different offsets; batch 2:
    // doc 5 repeats doc 0's passage (cross-batch, shifted again), doc 6
    // repeats ITSELF within one doc, doc 7 is clean
    val b1 = Seq(
      (0L, "p q r s a b c d"),
      (1L, "w p q r s x y z"))
    val b2 = Seq(
      (5L, "m m p q r s t u"),
      (6L, "e f g h k k e f g h"),
      (7L, "one two three four five six seven eight"))
    val input = MemoryStream[(Long, String)]
    val stream = input.toDS().toDF("doc_id", "text")
    val q = StreamingDupExtents.start(stream, s"$dir/sh", s"$dir/out", s"$dir/ckpt",
      window = 4, trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def rel(rows: Seq[org.apache.spark.sql.Row]): Set[Seq[Any]] = rows.map(_.toSeq).toSet
    val mk = (rows: Seq[(Long, String)]) =>
      df("doc_id BIGINT, text STRING", rows.map(r => org.apache.spark.sql.Row(r._1, r._2)))
    // batch 1's shard == batch operator over batch 1 alone
    val shard1 = spark.read.parquet(s"$dir/out/batch_id=0")
      .select("doc_id", "total_tokens", "n_dup_spans", "max_span_tokens",
        "dup_tokens", "dup_frac_ppm").collect()
    assert(rel(shard1) == rel(
      TextAnalysis.dupSpanExtents(mk(b1), window = 4).collect()))
    // batch 2's shard == batch operator over the UNION, restricted to
    // batch 2's docs — the exact (not conditional) ingest equivalence
    val shard2 = spark.read.parquet(s"$dir/out/batch_id=1")
      .select("doc_id", "total_tokens", "n_dup_spans", "max_span_tokens",
        "dup_tokens", "dup_frac_ppm").collect()
    val unionRef = TextAnalysis.dupSpanExtents(mk(b1 ++ b2), window = 4)
      .filter(col("doc_id") >= 5L).collect()
    assert(rel(shard2) == rel(unionRef))
    // and the content is as designed: 5 caught cross-batch, 6 caught
    // within-doc, 7 absent
    val ids2 = shard2.map(_.getLong(0)).toSet
    assert(ids2 == Set(5L, 6L))
    // replay idempotence: re-running batch 1 rewrites the same shard
    StreamingDupExtents.ingestBatch(mk(b2), 1L, s"$dir/sh", s"$dir/out", window = 4)
    assert(rel(spark.read.parquet(s"$dir/out/batch_id=1")
      .select("doc_id", "total_tokens", "n_dup_spans", "max_span_tokens",
        "dup_tokens", "dup_frac_ppm").collect()) == rel(unionRef))
  }

  test("media dedup over STORED binary batches: the m00-schema path verdicts equal the in-body path") {
    import graft.streaming.StreamingMediaDedup
    import graft.operators.Multimodal
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_media_bin").toString
    val ids1 = Seq(0L, 9L, 1L)
    val ids2 = Seq(11520L, 3L, 2L) // 11520 re-encodes doc 0's content
    val allIds = ids1 ++ ids2
    // the m00 stored-media table is the stream's source of truth: each
    // micro-batch carries (doc_id, kind, format, media BINARY) rows
    Multimodal.sinkMedia(
      df("doc_id BIGINT, text STRING", allIds.map(org.apache.spark.sql.Row(_, "t"))),
      s"$dir/m00")
    val byId = spark.read.parquet(s"$dir/m00").collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2), r.getAs[Array[Byte]](3)))).toMap
    StreamingMediaDedup.seed(
      df("doc_id BIGINT, kind STRING, format STRING, media BINARY", Seq.empty),
      s"$dir/idx", fingerprints = Multimodal.fingerprintsFromBinary)
    val input = MemoryStream[(Long, String, String, Array[Byte])]
    val stream = input.toDS().toDF("doc_id", "kind", "format", "media")
    val q = StreamingMediaDedup.start(stream, s"$dir/idx", s"$dir/out", s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0),
      fingerprints = Multimodal.fingerprintsFromBinary)
    def feed(ids: Seq[Long]): Unit = {
      input.addData(ids.map(id => {
        val (k, f, m) = byId(id); (id, k, f, m)
      }): _*)
      q.processAllAvailable()
    }
    try { feed(ids1); feed(ids2) } finally q.stop()
    val streamed = spark.read.parquet(s"$dir/out")
      .select("doc_id", "is_dup").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // reference: the IN-BODY path's batch keep-first form on the same ids
    val w = org.apache.spark.sql.expressions.Window.partitionBy("kind", "fingerprint")
    val batch = Multimodal.mediaFingerprints(
      df("doc_id BIGINT, text STRING", allIds.map(org.apache.spark.sql.Row(_, "t"))))
      .withColumn("is_dup", col("doc_id") =!=
        org.apache.spark.sql.functions.min(col("doc_id")).over(w))
      .select("doc_id", "is_dup").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(streamed == batch)
    assert(streamed(11520L) && !streamed(0L)) // re-encoded content caught
    assert(spark.read.parquet(s"$dir/idx").count() == 5)
  }

  test("media dedup gate is O(1) per batch: building the verdict plan runs no Spark job") {
    import graft.streaming.StreamingMediaDedup
    val dir = java.nio.file.Files.createTempDirectory("graft_media_gate_jobs").toString
    StreamingMediaDedup.seed(
      df("doc_id BIGINT, text STRING",
        Seq(0L, 1L, 2L).map(org.apache.spark.sql.Row(_, "t"))),
      s"$dir/idx")
    val batch = df("doc_id BIGINT, text STRING",
      Seq(11520L, 4L).map(org.apache.spark.sql.Row(_, "t")))
    // r13's gate paid an O(index) stored.count() SQL execution per
    // batch ON TOP of the batch side's own .rdd materialization (one
    // AQE job, O(batch) — the mapPartitions decode plan). The sidecar
    // gate reads tiny _counts files driver-side, so plan construction
    // must cost exactly that one batch-side action and nothing for the
    // index: the EngineSpec round-trip-budget pattern, pinned at ≤ 1
    // (a reintroduced index count() would read 2)
    var verdicts: org.apache.spark.sql.DataFrame = null
    val gate = launched {
      verdicts = StreamingMediaDedup.verdictBatch(batch, 0L, s"$dir/idx",
        broadcastMaxRows = StreamingMediaDedup.DefaultBroadcastMaxRows)
    }
    assert(gate.sqlExecutions <= 1 && gate.jobs.size <= 1,
      s"gate launched index work: ${gate.sqlExecutions} SQL executions + ${gate.jobs.size} jobs")
    // and the gated plan still verdicts correctly when executed
    val got = verdicts.select("doc_id", "is_dup").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got == Map(11520L -> true, 4L -> false))
  }

  test("streaming near-dup ingest: drained pairs equal the from-scratch batch table") {
    import graft.streaming.StreamingNearDup
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.operators.Dedup.releaseCaches()
    val mk = (id: Long, text: String) => org.apache.spark.sql.Row(id, text)
    // seed corpus: 0≈1 near-dups, 2 distinct
    val seedRows = Seq(
      mk(0L, "the quick brown fox jumps over the lazy dog again and again"),
      mk(1L, "the quick brown fox jumps over the lazy dog again and AGAIN!"),
      mk(2L, "completely different text about spark streaming micro batches"))
    // batch 1 brings 3 (≈0,1 → cross-seed pairs); batch 2 brings 4≈3
    // (cross-BATCH pair) and 5 (clean)
    val b1 = Seq(mk(3L, "the quick brown fox jumps over the lazy dog again and again!!"))
    val b2 = Seq(
      mk(4L, "the quick brown fox jumps over the lazy dog again and again !!"),
      mk(5L, "unrelated corpus noise with no shingle overlap whatsoever here"))
    val schema = "doc_id BIGINT, text STRING"
    val dir = java.nio.file.Files.createTempDirectory("graft_neardup").toString
    val threshold = 0.5
    StreamingNearDup.seed(df(schema, seedRows), s"$dir/corpus", s"$dir/index",
      s"$dir/pairs", threshold)
    val input = MemoryStream[(Long, String)]
    val q = StreamingNearDup.start(input.toDS().toDF("doc_id", "text"),
      s"$dir/corpus", s"$dir/index", s"$dir/pairs", s"$dir/ckpt", threshold,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      input.addData(b1.map(r => (r.getLong(0), r.getString(1))))
      q.processAllAvailable()
      input.addData(b2.map(r => (r.getLong(0), r.getString(1))))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = StreamingNearDup.pairsTable(spark, s"$dir/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // from-scratch ground truth over the full corpus
    graft.operators.Dedup.releaseCaches()
    val allDocs = df(schema, seedRows ++ b1 ++ b2)
    graft.operators.Dedup.writeVerifiedPairs(allDocs, s"$dir/scratch", threshold)
    val batch = graft.operators.Dedup.readVerifiedPairs(spark, s"$dir/scratch")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    // the split discovered pairs in every regime: seed-only, seed×batch,
    // and cross-batch (3 arrived in batch 1, its near-dup 4 in batch 2)
    assert(streamed.contains((0L, 1L)) && streamed.contains((3L, 4L)), streamed)
    // replay idempotence: re-running a batch body under its batchId —
    // including against an index that ALREADY holds the batch's bands —
    // leaves the pairs table unchanged (foreachBatch is at-least-once)
    val before = StreamingNearDup.pairsTable(spark, s"$dir/pairs").count()
    StreamingNearDup.ingestBatch(df(schema, b2), 1L, s"$dir/corpus", s"$dir/index",
      s"$dir/pairs", threshold)
    assert(StreamingNearDup.pairsTable(spark, s"$dir/pairs").count() == before)
    // the index accumulated exactly one row set per (doc, band): seed +
    // both batches, no replay duplicates
    val idx = graft.operators.Dedup.readBandedSignatures(spark, s"$dir/index")
    assert(idx.count() == (seedRows.size + b1.size + b2.size) * 4L)
  }

  test("streaming span dedup: drained verdicts equal the batch operator, incl. cross-batch repeats") {
    import graft.streaming.StreamingSpanDedup
    import graft.operators.TextAnalysis
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mk = (id: Long, text: String) => org.apache.spark.sql.Row(id, text)
    // window=2 spans; doc 2 repeats doc 0's opening span ACROSS the
    // batch split; doc 3 is an exact cross-batch duplicate of doc 1
    val b1 = Seq(
      mk(0L, "a b c d"),
      mk(1L, "p q r s"))
    val b2 = Seq(
      mk(2L, "a b x y"),   // "a b" seen in batch 1 → scrubbed here
      mk(3L, "p q r s"))   // fully scrubbed duplicate
    val schema = "doc_id BIGINT, text STRING"
    val dir = java.nio.file.Files.createTempDirectory("graft_spandedup").toString
    StreamingSpanDedup.seed(spark, s"$dir/spans")
    val input = MemoryStream[(Long, String)]
    val q = StreamingSpanDedup.start(input.toDS().toDF("doc_id", "text"),
      s"$dir/spans", s"$dir/out", s"$dir/ckpt", window = 2,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      input.addData(b1.map(r => (r.getLong(0), r.getString(1))))
      q.processAllAvailable()
      input.addData(b2.map(r => (r.getLong(0), r.getString(1))))
      q.processAllAvailable()
    } finally q.stop()
    def asMap(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), Option(r.getString(3))))).toMap
    val streamed = asMap(StreamingSpanDedup.cleanedTable(spark, s"$dir/out"))
    val batch = asMap(TextAnalysis.spanDedup(df(schema, b1 ++ b2), window = 2))
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    // the cross-batch regimes actually fired: partial scrub + full scrub
    assert(streamed(2L)._2 == 1L, "doc 2 must lose its batch-1-seen span")
    assert(streamed(3L)._2 == 0L && streamed(3L)._3.isEmpty,
      "the cross-batch duplicate must scrub fully")
    // replay idempotence: re-running batch 1's body under its batchId —
    // against a span table that already holds those spans — leaves the
    // verdicts table unchanged (foreachBatch is at-least-once)
    StreamingSpanDedup.ingestBatch(df(schema, b2), 1L, s"$dir/spans", s"$dir/out", 2)
    assert(asMap(StreamingSpanDedup.cleanedTable(spark, s"$dir/out")) == streamed)
  }

  test("streaming ANN index: drained IVF/PQ indexes equal append-without-retrain batch, replay-idempotent") {
    import graft.streaming.StreamingAnnIndex
    import graft.operators.Similarity
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    Similarity.releaseCaches()
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    // seed = first 40 vectors (trains centroids + codebooks there);
    // vectors 40.. stream in across a 2-batch split
    val seed = emb.filter(col("vec_id") < 40)
    val arriving = emb.filter(col("vec_id") >= 40)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    val (a1, a2) = arriving.partition(_._1 < 80)
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx").toString
    StreamingAnnIndex.seedIvf(seed, s"$dir/ivf", nCells = 8)
    StreamingAnnIndex.seedPq(seed, s"$dir/pq", m = 4, codes = 8)
    val input = MemoryStream[(Long, Seq[Float])]
    val vecs = input.toDS().toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val qIvf = StreamingAnnIndex.startIvf(vecs, s"$dir/ivf", s"$dir/ckpt_ivf",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    val qPq = StreamingAnnIndex.startPq(vecs, s"$dir/pq", s"$dir/ckpt_pq", m = 4,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      input.addData(a1.toSeq); qIvf.processAllAvailable(); qPq.processAllAvailable()
      input.addData(a2.toSeq); qIvf.processAllAvailable(); qPq.processAllAvailable()
    } finally { qIvf.stop(); qPq.stop() }
    // IVF: streamed assignments ≡ one batch assignment of the WHOLE
    // corpus against the stored (seed-trained) centroids — the
    // append-without-retrain contract, vector for vector
    val cents = Similarity.readIvfCentroids(spark, s"$dir/ivf")
    def cellsOf(d: org.apache.spark.sql.DataFrame) = d.select("vec_id", "cell")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val streamedIvf = cellsOf(StreamingAnnIndex.ivfAssignments(spark, s"$dir/ivf"))
    val batchIvf = cellsOf(Similarity.assignCells(emb, cents))
    assert(streamedIvf == batchIvf, s"IVF stream≠batch: ${(streamedIvf diff batchIvf).take(3)}")
    // a search over the streamed index is plan-identical machinery and
    // must return rows for queries whose neighbors arrived by stream
    val hits = StreamingAnnIndex.knnIvf(spark, s"$dir/ivf",
      emb.filter(col("vec_id") < 3), k = 5)
    assert(hits.groupBy("query_id").count().collect().forall(_.getLong(1) == 5))
    // PQ: streamed codes ≡ whole-corpus encode against stored codebooks
    def codesOf(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val books = Similarity.readPqCodebooks(spark, s"$dir/pq")
    val streamedPq = codesOf(StreamingAnnIndex.pqCodes(spark, s"$dir/pq"))
    val batchPq = codesOf(Similarity.pqEncode(emb, books, 4))
    assert(streamedPq == batchPq, "PQ stream≠batch")
    // replay idempotence: re-ingesting batch 0 under its batchId (an
    // at-least-once crash replay) leaves both index tables unchanged
    val b0 = df("vec_id BIGINT, embedding ARRAY<FLOAT>",
      a1.toSeq.map(t => org.apache.spark.sql.Row(t._1, t._2)))
    StreamingAnnIndex.ingestIvfBatch(b0, 0L, s"$dir/ivf")
    StreamingAnnIndex.ingestPqBatch(b0, 0L, s"$dir/pq", m = 4)
    assert(cellsOf(StreamingAnnIndex.ivfAssignments(spark, s"$dir/ivf")) == streamedIvf)
    assert(codesOf(StreamingAnnIndex.pqCodes(spark, s"$dir/pq")) == streamedPq)
  }

  test("streaming DSIR: drained scores against the seeded model equal batch dsirScores") {
    import graft.streaming.StreamingDsir
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = (0 until 24).map { i =>
      val t = if (i % 2 == 0) s"alpha beta gamma delta${i % 3}"
              else s"rot blau gruen gelb${i % 3}"
      (i.toLong, t, if (i % 2 == 0) "en" else "de")
    }
    val schema = "doc_id BIGINT, text STRING, lang STRING"
    val all = df(schema, rows.map(r => org.apache.spark.sql.Row(r._1, r._2, r._3)))
    val dir = java.nio.file.Files.createTempDirectory("graft_dsir").toString
    // model frozen from the eventual corpus → stream must equal batch
    StreamingDsir.seed(all, s"$dir/dist",
      org.apache.spark.sql.functions.col("lang") === "en")
    val input = MemoryStream[(Long, String, String)]
    val q = StreamingDsir.start(input.toDS().toDF("doc_id", "text", "lang"),
      s"$dir/dist", s"$dir/scores", s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      input.addData(rows.take(10))
      q.processAllAvailable()
      input.addData(rows.drop(10))
      q.processAllAvailable()
    } finally q.stop()
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val streamed = key(StreamingDsir.scoresTable(spark, s"$dir/scores"))
    val batch = key(graft.operators.Sampling.dsirScores(all,
      org.apache.spark.sql.functions.col("lang") === "en"))
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    // replay idempotence: re-ingesting batch 0 under its batchId changes nothing
    val b0 = df(schema, rows.take(10).map(r => org.apache.spark.sql.Row(r._1, r._2, r._3)))
    StreamingDsir.ingestBatch(b0, 0L, s"$dir/dist", s"$dir/scores")
    assert(key(StreamingDsir.scoresTable(spark, s"$dir/scores")) == streamed)
  }

  test("streaming perplexity over a frozen model equals the batch scorer") {
    import graft.streaming.StreamingPerplexity
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = (0 until 24).map { i =>
      val t = if (i % 2 == 0) "the cat sat on the mat and the cat ran"
              else s"zz$i yy$i xx$i ww$i vv$i"
      (i.toLong, t, if (i % 2 == 0) "en" else "xx")
    }
    val schema = "doc_id BIGINT, text STRING, lang STRING"
    val all = df(schema, rows.map(r => org.apache.spark.sql.Row(r._1, r._2, r._3)))
    val dir = java.nio.file.Files.createTempDirectory("graft_ppl").toString
    StreamingPerplexity.seed(all, s"$dir/model",
      org.apache.spark.sql.functions.col("lang") === "en")
    val input = MemoryStream[(Long, String, String)]
    val q = StreamingPerplexity.start(input.toDS().toDF("doc_id", "text", "lang"),
      s"$dir/model", s"$dir/scores", s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      input.addData(rows.take(9))
      q.processAllAvailable()
      input.addData(rows.drop(9))
      q.processAllAvailable()
    } finally q.stop()
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    val streamed = key(StreamingPerplexity.scoresTable(spark, s"$dir/scores"))
    val batch = key(graft.operators.Sampling.lmScoreAgainst(all,
      graft.operators.Sampling.lmModel(all,
        org.apache.spark.sql.functions.col("lang") === "en")))
    assert(streamed == batch)
    // fluent docs score strictly below gibberish under the frozen model
    val byId = streamed.map(t => t._1 -> t._3).toMap
    assert((0L until 24L by 2).map(byId).max < (1L until 24L by 2).map(byId).min)
    // replay idempotence
    val b0 = df(schema, rows.take(9).map(r => org.apache.spark.sql.Row(r._1, r._2, r._3)))
    StreamingPerplexity.ingestBatch(b0, 0L, s"$dir/model", s"$dir/scores")
    assert(key(StreamingPerplexity.scoresTable(spark, s"$dir/scores")) == streamed)
  }
}
