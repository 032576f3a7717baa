package graft.serve

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The serving LOAD path at scale: when `ServeMain` points at a
  * date-partitioned layout (the shape `Sinks.writeDatePartitioned`
  * writes), the `--days` / date-picker window must prune partition
  * directories at PLANNING time — the SCALE.md precondition, exercised
  * through the real entrypoint's load function rather than a hand-built
  * plan. */
class ServeLoadSpec extends graft.SparkSpec {

  private def opts(source: String, days: Int = 7) =
    ServeMain.Opts(source = source, port = 0, days = days,
      nClients = 10, nDomains = 10, timezone = "UTC", ignoreDomains = Nil)

  private def scanOf(df: org.apache.spark.sql.DataFrame): FileSourceScanExec =
    df.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }.head

  test("--days window on a date-partitioned source prunes PartitionFilters to the window's directories") {
    val dir = Files.createTempDirectory("graft_serve_part").toString
    val prep = graft.FtlFixture.prep(spark, 7, 2000) // 2024-01 dates, ~31 days
    graft.sources.Sinks.writeDatePartitioned(prep, s"$dir/events")
    val totalDays = new java.io.File(s"$dir/events").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("date="))
    assert(totalDays >= 28, s"fixture should span a month, got $totalDays day dirs")

    // now pinned inside the fixture's range: window = [Jan 13 12:00, Jan 20 12:00)
    val now = java.time.Instant.parse("2024-01-20T12:00:00Z")
    val df = ServeMain.loadPrep(spark, opts(s"$dir/events"), None, None, now)

    val scan = scanOf(df)
    // the date predicate must land in PartitionFilters (metadata-only
    // pruning), and the scan must select only the window's directories
    // (8 calendar days touched + the ±1-day TZ widening = at most 10)
    assert(scan.metadata.getOrElse("PartitionFilters", "").contains("date"), scan.metadata)
    val selected = scan.selectedPartitions.partitionCount
    assert(selected <= 10, s"expected <=10 pruned directories, scanned $selected of $totalDays")
    assert(selected < totalDays, "pruning must not scan the whole layout")

    // exact row semantics ride the ts predicate: same rows as filtering
    // the unpartitioned relation by the window
    val from = now.minusSeconds(7L * 86400).getEpochSecond
    val expected = prep.filter(
      col("ts") >= timestamp_seconds(lit(from)) &&
      col("ts") < timestamp_seconds(lit(now.getEpochSecond))).count()
    assert(df.count() == expected && expected > 0)
  }

  test("explicit date-picker range through loadPrep: end-exclusive +1 day, still pruned") {
    val dir = Files.createTempDirectory("graft_serve_part2").toString
    graft.sources.Sinks.writeDatePartitioned(graft.FtlFixture.prep(spark, 8, 2000), s"$dir/events")
    val df = ServeMain.loadPrep(spark, opts(s"$dir/events"),
      Some(java.time.LocalDate.parse("2024-01-10")),
      Some(java.time.LocalDate.parse("2024-01-12")),
      java.time.Instant.parse("2026-01-01T00:00:00Z")) // `now` must be ignored
    val dates = df.select("date").distinct().collect().map(_.getDate(0).toString).sorted
    assert(dates.toSeq == Seq("2024-01-10", "2024-01-11", "2024-01-12"), dates.toSeq)
    // 3 window days + ±1 widening = at most 5 directories scanned
    assert(scanOf(df).selectedPartitions.partitionCount <= 5)
  }

  test("flat demo parquet: explicit range filters rows; no range keeps the full fixture") {
    val o = opts("/root/testdata/sf0.001")
    val all = ServeMain.loadPrep(spark, o, None, None)
    assert(all.count() == 1000)
    val sliced = ServeMain.loadPrep(spark, o,
      Some(java.time.LocalDate.parse("2024-01-10")),
      Some(java.time.LocalDate.parse("2024-01-12")))
    val mm = sliced.agg(min("ts"), max("ts")).head
    assert(!mm.getTimestamp(0).before(java.sql.Timestamp.valueOf("2024-01-10 00:00:00")))
    assert(mm.getTimestamp(1).before(java.sql.Timestamp.valueOf("2024-01-13 00:00:00")))
    assert(sliced.count() > 0 && sliced.count() < 1000)
  }

  test("a same-plan parquet reload reads the new rows; its rollup stays cached after the old cache closes") {
    val dir = Files.createTempDirectory("graft_serve_reload")
    val path = s"$dir/events"
    val fixture = graft.FtlFixture.prep(spark, 9, 2000)
    graft.sources.Sinks.writeDatePartitioned(fixture, path)
    val now = java.time.Instant.parse("2024-01-20T12:00:00Z")
    val old = new ServingCache(ServeMain.loadPrep(spark, opts(path), None, None, now), 3)
    var fresh: ServingCache = null
    def queriesOf(c: ServingCache, client: String): Long =
      c.queriesOverTime(Some(client)).agg(coalesce(sum("cnt"), lit(0L))).head().getLong(0)
    try {
      val before = old.prep.count()
      // 500 new in-window queries from a client the first load never saw,
      // added the way an outside writer adds them: files moved into the
      // layout (a Spark write into `path` would itself refresh the cache)
      val incoming = dir.resolve("incoming")
      fixture.filter(col("ts") >= timestamp_seconds(lit(now.getEpochSecond - 86400)) &&
          col("ts") < timestamp_seconds(lit(now.getEpochSecond)))
        .limit(1).withColumn("client", lit("10.9.9.9"))
        .crossJoin(spark.range(500).drop("id"))
        .write.partitionBy("date").parquet(incoming.toString)
      Files.walk(incoming).filter(_.toString.endsWith(".parquet")).forEach { f =>
        val to = java.nio.file.Paths.get(path).resolve(incoming.relativize(f))
        Files.createDirectories(to.getParent)
        Files.move(f, to)
      }
      fresh = new ServingCache(ServeMain.loadPrep(spark, opts(path), None, None, now), 3)
      assert(fresh.hourly.queryExecution.analyzed.sameResult(old.hourly.queryExecution.analyzed),
        "the reload must plan equal to the first load (the case under test)")
      assert(fresh.prep.count() == before + 500, "the reload must read the appended rows")
      assert(fresh.topClients.head == "10.9.9.9")
      assert(queriesOf(fresh, "10.9.9.9") == 500, "the rollup must hold the appended rows")
      old.close()
      assert(fresh.prep.storageLevel == StorageLevel.NONE, "parquet is re-scanned, not cached")
      assert(fresh.hourly.storageLevel == StorageLevel.MEMORY_AND_DISK,
        "closing the old cache must leave the new cache's rollup cached")
      // the slices are served from memory: they no longer need the files
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      assert(queriesOf(fresh, "10.9.9.9") == 500)
      fresh.activityFigure(None); fresh.anomaliesFigure(Some("10.9.9.9"))
    } finally { old.close(); if (fresh != null) fresh.close() }
    assert(fresh.hourly.storageLevel == StorageLevel.NONE)
  }
}
