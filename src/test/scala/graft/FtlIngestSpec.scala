package graft

import java.time.{Instant, LocalDate}
import java.nio.file.Files

import graft.sources.{FtlIngest, SqliteCorruptException}

class FtlIngestSpec extends SparkSpec {

  test("explicit date range: display-TZ midnights, end-exclusive +1 day (db.py:84-88)") {
    val (from, to) = FtlIngest.timeRangeEpochs(
      Some(LocalDate.of(2024, 1, 10)), Some(LocalDate.of(2024, 1, 12)),
      days = 31, tz = "UTC", nowUtc = Instant.EPOCH)
    assert(from == LocalDate.of(2024, 1, 10).atStartOfDay(java.time.ZoneId.of("UTC")).toEpochSecond)
    assert(to == LocalDate.of(2024, 1, 13).atStartOfDay(java.time.ZoneId.of("UTC")).toEpochSecond)
  }

  test("timezone shifts the midnight boundary (db.py:101-102)") {
    val (utcFrom, _) = FtlIngest.timeRangeEpochs(
      Some(LocalDate.of(2024, 1, 10)), Some(LocalDate.of(2024, 1, 10)), 31, "UTC", Instant.EPOCH)
    val (tokyoFrom, _) = FtlIngest.timeRangeEpochs(
      Some(LocalDate.of(2024, 1, 10)), Some(LocalDate.of(2024, 1, 10)), 31, "Asia/Tokyo", Instant.EPOCH)
    assert(utcFrom - tokyoFrom == 9 * 3600) // Tokyo midnight is 9h earlier in UTC
  }

  test("invalid timezone falls back to UTC (db.py:70-74)") {
    assert(FtlIngest.zoneOrUtc("Not/AZone").getId == "UTC")
    val (a, b) = FtlIngest.timeRangeEpochs(
      Some(LocalDate.of(2024, 1, 10)), Some(LocalDate.of(2024, 1, 10)), 31, "Not/AZone", Instant.EPOCH)
    val (c, d) = FtlIngest.timeRangeEpochs(
      Some(LocalDate.of(2024, 1, 10)), Some(LocalDate.of(2024, 1, 10)), 31, "UTC", Instant.EPOCH)
    assert((a, b) == (c, d))
  }

  test("no explicit range → [now - days, now] (db.py:89-95)") {
    val now = Instant.parse("2024-06-15T12:00:00Z")
    val (from, to) = FtlIngest.timeRangeEpochs(None, None, 31, "UTC", now)
    assert(to == now.getEpochSecond && from == now.getEpochSecond - 31L * 86400)
  }

  test("multi-database union keeps duplicates and pushes the range (README.md:56, db.py:130-135)") {
    val dir = Files.createTempDirectory("graft_ftl").toString
    val f1 = FtlFixture.frame(spark, 1, 300)
    f1.write.parquet(s"$dir/db1")
    f1.write.parquet(s"$dir/db2") // identical copy — duplicates must survive
    val (from, to) = (1704067200L, 1706659200L + 1)
    val out = FtlIngest.readParquet(spark, Seq(s"$dir/db1", s"$dir/db2"), from, to)
    assert(out.count() == 600)
    assert(out.columns.toSeq == FtlIngest.SourceColumns)
    // range is half-open: shrink the window and check the boundary drops
    val firstTs = 1704067200L
    val narrowed = FtlIngest.readParquet(spark, Seq(s"$dir/db1"), firstTs, firstTs + 1)
    assert(narrowed.count() == 1) // only the row AT from; to is exclusive
  }

  // ---- native SQLite read path (fixtures built with the reference DDL,
  // tests/conftest.py:129-148; generator: tools/make_sqlite_fixture.py) ----

  private def res(name: String): String =
    getClass.getResource(s"/$name").getPath

  test("sqlite: real .db read matches the CSV twin row-for-row (db.py:130-135)") {
    val (from, to) = (0L, Long.MaxValue)
    val db = FtlIngest.readSqlite(spark, Seq(res("ftl_fixture.db")), from, to)
      .filter(org.apache.spark.sql.functions.col("id") < 9000) // CSV twin carries the plain rows
    val csv = FtlIngest.readCsv(spark, Seq(res("ftl_fixture.csv")), from, to)
      .drop("_corrupt")
    assert(db.count() == 3000)
    val key = (r: org.apache.spark.sql.Row) => r.toSeq.map(String.valueOf(_)).mkString("|")
    assert(db.collect().map(key).sorted.toSeq == csv.collect().map(key).sorted.toSeq)
  }

  test("sqlite: overflow payloads and lossy UTF-8 decode (db.py:17 text_factory)") {
    val all = FtlIngest.readSqlite(spark, Seq(res("ftl_fixture.db")), 0L, Long.MaxValue)
    val overflow = all.filter("id = 9001").head
    assert(overflow.getString(4) == "x" * 6000) // 6000-char domain spans overflow pages
    val lossy = all.filter("id = 9002").head
    // b"A\xc3\xffB" decodes with replacement, never fails the scan
    assert(lossy.getString(4).startsWith("A") && lossy.getString(4).endsWith("B"))
    assert(lossy.getString(4).contains('�'))
  }

  test("sqlite: wide-integer serial types and negative values decode exactly") {
    val all = FtlIngest.readSqlite(spark, Seq(res("ftl_fixture.db")), Long.MinValue, Long.MaxValue)
    val wide48 = all.filter("id = 9003").head
    assert(wide48.getLong(1) == (1L << 45) && wide48.getDouble(6) == -0.5)
    val wide64 = all.filter("id = 9004").head
    assert(wide64.getLong(1) == (1L << 61) && wide64.isNullAt(6))
    val neg = all.filter("id = 9005").head
    assert(neg.getLong(1) == -12345L) // negative int: sign extension path
  }

  test("sqlite: INTEGER PRIMARY KEY id is the rowid alias") {
    val pk = FtlIngest.readSqlite(spark, Seq(res("ftl_fixture_pk.db")), 0L, Long.MaxValue)
    assert(pk.count() == 200)
    // ids are stored as NULL in the record; values must come from rowids
    assert(pk.selectExpr("min(id)", "max(id)").head.toSeq == Seq(1, 200))
  }

  test("sqlite: empty database reads as zero rows; multi-db unions with duplicates kept") {
    val empty = FtlIngest.readSqlite(spark, Seq(res("ftl_fixture_empty.db")), 0L, Long.MaxValue)
    assert(empty.count() == 0)
    val dup = FtlIngest.readSqlite(
      spark, Seq(res("ftl_fixture_pk.db"), res("ftl_fixture_pk.db")), 0L, Long.MaxValue)
    assert(dup.count() == 400) // duplicates survive, like the reference (README.md:56)
  }

  test("sqlite: timestamp range filter is half-open [from, to)") {
    val all = FtlIngest.readSqlite(spark, Seq(res("ftl_fixture_pk.db")), 0L, Long.MaxValue)
    val ts = all.selectExpr("min(timestamp)").head.getLong(0)
    val narrowed = FtlIngest.readSqlite(spark, Seq(res("ftl_fixture_pk.db")), ts, ts + 1)
    assert(narrowed.count() >= 1 &&
      narrowed.selectExpr("max(timestamp)").head.getLong(0) == ts)
  }

  test("sqlite: WITHOUT ROWID table — index b-tree, permuted PK-first records") {
    // composite PK (domain, id) stores TEXT first (index key order); the
    // fixture's 3000 rows span 51 leaf + 1 interior page, and the
    // interior page carries ~50 full records (true B-tree) — equality
    // with the rowid twin proves both the permutation and that interior
    // records are not dropped
    val wr = FtlIngest.readSqlite(spark, Seq(res("ftl_fixture_wr.db")), 0L, Long.MaxValue)
    assert(wr.count() == 3000)
    val rowidTwin = FtlIngest.readSqlite(spark, Seq(res("ftl_fixture.db")), 0L, Long.MaxValue)
      .filter("id <= 3000")
    val key = (r: org.apache.spark.sql.Row) => r.toSeq.map(String.valueOf(_)).mkString("|")
    assert(wr.collect().map(key).sorted.toSeq ==
      rowidTwin.collect().map(key).sorted.toSeq)
  }

  test("sqlite: UTF-16le database decodes via the header-declared encoding") {
    // same first-200 rows as the UTF-8 fixture, stored UTF-16le
    // (sqlite_master's schema sql is UTF-16 too — DDL parsing must also
    // go through the decode), plus one non-ASCII row incl. a non-BMP char
    val u16 = FtlIngest.readSqlite(spark, Seq(res("ftl_fixture_utf16.db")), 0L, Long.MaxValue)
    assert(u16.count() == 201)
    assert(u16.filter("id = 9010").select("domain").head.getString(0) ==
      "www.bücher-中文-🐉.example")
    val utf8 = FtlIngest.readSqlite(spark, Seq(res("ftl_fixture.db")), 0L, Long.MaxValue)
      .filter("id <= 200")
    val key = (r: org.apache.spark.sql.Row) => r.toSeq.map(String.valueOf(_)).mkString("|")
    assert(u16.filter("id <= 200").collect().map(key).sorted.toSeq ==
      utf8.collect().map(key).sorted.toSeq)
  }

  test("sqlite: WAL sidecar replays — live db matches its checkpointed twin") {
    // main file holds 500 checkpointed rows; 300 more live ONLY in -wal
    // frames (fixture copied out mid-session, before auto-checkpoint)
    val live = FtlIngest.readSqlite(spark, Seq(res("ftl_fixture_wal.db")), 0L, Long.MaxValue)
    val ckpt = FtlIngest.readSqlite(spark, Seq(res("ftl_fixture_wal_ckpt.db")), 0L, Long.MaxValue)
    assert(live.count() == 800) // > the 500 in the main file: WAL rows visible
    val key = (r: org.apache.spark.sql.Row) => r.toSeq.map(String.valueOf(_)).mkString("|")
    assert(live.collect().map(key).sorted.toSeq == ckpt.collect().map(key).sorted.toSeq)
  }

  test("sqlite: a truncated/garbage WAL sidecar replays nothing (SQLite recovery rule)") {
    val dir = Files.createTempDirectory("graft_wal")
    val db = dir.resolve("live.db")
    Files.copy(java.nio.file.Paths.get(res("ftl_fixture_pk.db")), db)
    // < 32 bytes: no WAL header can exist — same as an empty sidecar
    Files.write(dir.resolve("live.db-wal"), Array[Byte](1, 2, 3))
    assert(FtlIngest.readSqlite(spark, Seq(db.toString), 0L, Long.MaxValue).count() == 200)
  }

  test("sqlite: a >=32-byte garbage WAL sidecar (bad magic) also replays nothing, not an error") {
    // SQLite's walIndexRecover treats a header that fails validation as
    // an EMPTY log — a stray sidecar must not block reading the main file
    val dir = Files.createTempDirectory("graft_wal_badmagic")
    val db = dir.resolve("live.db")
    Files.copy(java.nio.file.Paths.get(res("ftl_fixture_pk.db")), db)
    Files.write(dir.resolve("live.db-wal"), Array.fill[Byte](64)(0x5a))
    assert(FtlIngest.readSqlite(spark, Seq(db.toString), 0L, Long.MaxValue).count() == 200)
  }

  test("sqlite: a WAL whose salts rotate mid-read (checkpoint reset) fails loudly") {
    // driver parses the overlay, then a 'checkpointer' rewrites the
    // header salts before executors open the sidecar — the read must
    // detect the rotation, never serve new frames at old offsets
    val dir = Files.createTempDirectory("graft_wal_salts")
    val db = dir.resolve("live.db")
    Files.copy(java.nio.file.Paths.get(res("ftl_fixture_wal.db")), db)
    val wal = dir.resolve("live.db-wal")
    Files.copy(java.nio.file.Paths.get(res("ftl_fixture_wal.db-wal")), wal)
    val spec = sources.SqliteWal.pageMap(wal.toString)
    assert(spec.pages.nonEmpty)
    // plan the read first: the driver parses and probes under the old
    // salts, the executor scan is still lazy
    val df = FtlIngest.readSqlite(spark, Seq(db.toString), 0L, Long.MaxValue)
    // rotate salt-1 in place (offset 16), exactly what a WAL reset does
    val raf = new java.io.RandomAccessFile(wal.toFile, "rw")
    try { raf.seek(16); raf.writeInt(spec.salt1 + 1) } finally raf.close()
    val e = intercept[Exception] { df.count() }
    val messages = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString("\n")
    assert(messages.contains("salts changed"), s"unexpected failure: $messages")
  }

  test("sqlite: a hot rollback journal fails loudly, never a torn read") {
    val dir = Files.createTempDirectory("graft_journal")
    val db = dir.resolve("crashed.db")
    Files.copy(java.nio.file.Paths.get(res("ftl_fixture_pk.db")), db)
    Files.write(dir.resolve("crashed.db-journal"), Array[Byte](1, 2, 3))
    val e = intercept[IllegalStateException] {
      FtlIngest.readSqlite(spark, Seq(db.toString), 0L, Long.MaxValue).count()
    }
    assert(e.getMessage.contains("rollback journal"))
  }

  test("sqlite: a cyclic or out-of-range child pointer is a typed error naming the page, in bounded time") {
    for ((target, detail) <- Seq(2 -> "reached twice", 9999 -> "page 9999 of 52")) {
      val db = FtlIngestSpec.withRightChild(target)
      try {
        val t0 = System.nanoTime()
        val e = intercept[SqliteCorruptException] {
          FtlIngest.readSqlite(spark, Seq(db.toString), 0L, Long.MaxValue).count()
        }
        val secs = (System.nanoTime() - t0) / 1e9
        assert(secs < 10.0, s"right child -> $target: took $secs s")
        assert(e.page == 2 && e.getMessage.contains(db.toString) && e.getMessage.contains(detail),
          e.getMessage)
      } finally { Files.delete(db); Files.delete(db.getParent) }
    }
  }

  test("sqlite: Engine.loadSqlite runs the reference startup pipeline on a .db") {
    val prep = Engine.loadSqlite(spark, Seq(res("ftl_fixture_pk.db")), 0L, Long.MaxValue)
    assert(prep.count() == 200 && prep.columns.contains("status_type"))
  }

  test("sqlite: full pipeline — preprocess and stats over a real .db") {
    val prep = Preprocess.preprocessFtl(
      FtlIngest.readSqlite(spark, Seq(res("ftl_fixture.db")), 0L, Long.MaxValue)
        .filter("id < 9000"))
    val g = graft.operators.Stats.totals(prep).head
    assert(g.getLong(0) == 3000)
  }

  test("display-TZ conversion shifts wall-clock, invalid TZ is a no-op-to-UTC (process.py:52-61)") {
    import org.apache.spark.sql.functions._
    val prep = FtlFixture.prep(spark, 1, 10)
    val tokyo = FtlIngest.withDisplayTz(prep, "ts", "Asia/Tokyo")
      .agg(min(unix_micros(col("ts")))).head.getLong(0)
    val utc = prep.agg(min(unix_micros(col("ts")))).head.getLong(0)
    assert(tokyo - utc == 9L * 3600 * 1000000) // +9h wall-clock shift
    val bad = FtlIngest.withDisplayTz(prep, "ts", "Not/AZone")
      .agg(min(unix_micros(col("ts")))).head.getLong(0)
    assert(bad == utc)
  }

  test("CSV ingest: typed parse, range filter, corrupt lines quarantined not fatal") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_csv").toString
    val f = new java.io.PrintWriter(s"$dir/export.csv")
    f.println("id,timestamp,type,status,domain,client,reply_time")
    f.println("1,1704067200,1,2,example.com,192.168.1.2,0.01")
    f.println("2,1704067260,1,3,ads.example,192.168.1.3,0.02")
    f.println("3,not_a_number,1,2,broken.example,192.168.1.4,zzz") // corrupt
    f.println("4,1704900000,1,2,late.example,192.168.1.5,0.04")    // out of range
    f.close()
    // every line is parsed over the full schema, so a query reading only
    // `_corrupt` sees the quarantine without a cache
    assert(FtlIngest.readCsv(spark, Seq(s"$dir/export.csv"), 1704067200L, 1704100000L)
      .select("_corrupt").filter(col("_corrupt").isNotNull).count() == 1)
    val out = FtlIngest.readCsv(spark, Seq(s"$dir/export.csv"),
      fromEpoch = 1704067200L, toEpoch = 1704100000L).cache()
    // clean in-range rows parse typed; out-of-range clean rows filtered
    val clean = out.filter(col("_corrupt").isNull)
    assert(clean.count() == 2)
    assert(clean.schema("timestamp").dataType.typeName == "long")
    // the corrupt line survives with its raw content for quarantine
    val corrupt = out.filter(col("_corrupt").isNotNull).collect()
    assert(corrupt.length == 1 && corrupt.head.getAs[String]("_corrupt").contains("not_a_number"))
    out.unpersist()
  }

  test("CSV eager split: quarantine-only consumption works without caller-side cache") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_csv_split").toString
    val f = new java.io.PrintWriter(s"$dir/export.csv")
    f.println("id,timestamp,type,status,domain,client,reply_time")
    f.println("1,1704067200,1,2,example.com,192.168.1.2,0.01")
    f.println("3,not_a_number,1,2,broken.example,192.168.1.4,zzz")
    f.close()
    val split = FtlIngest.readCsvSplit(spark, Seq(s"$dir/export.csv"),
      fromEpoch = 1704067200L, toEpoch = 1704100000L)
    // consuming ONLY the quarantine half — the exact access pattern that
    // trips Spark's corrupt-column restriction on an unpersisted frame
    val q = split.quarantine.collect()
    assert(q.length == 1 && q.head.getAs[String]("raw_line").contains("not_a_number"))
    assert(!split.clean.columns.contains("_corrupt") && split.clean.count() == 1)
    // release() must free the ONE cache backing both halves (unpersisting
    // a derived half would be a silent no-op — the reason for the handle)
    assert(split.raw.storageLevel.useMemory)
    split.release()
    assert(!split.raw.storageLevel.useMemory, "release() must drop the cache")
  }

  test("CSV: a line with an empty timestamp is quarantined, an empty status reads as NULL") {
    val dir = Files.createTempDirectory("graft_csv_empty").toString
    val f = new java.io.PrintWriter(s"$dir/export.csv")
    f.println("id,timestamp,type,status,domain,client,reply_time")
    f.println("1,1704067200,1,2,example.com,192.168.1.2,0.01")
    f.println("2,,1,2,nots.example,192.168.1.3,0.02")
    f.println("3,1704067260,1,,nostatus.example,192.168.1.4,0.03")
    f.close()
    val split = FtlIngest.readCsvSplit(spark, Seq(s"$dir/export.csv"), 0L, Long.MaxValue)
    try {
      assert(split.quarantine.collect().map(_.getString(0)).toSeq ==
        Seq("2,,1,2,nots.example,192.168.1.3,0.02"))
      val clean = split.clean.orderBy("id").collect()
      assert(clean.map(_.getAs[Int]("id")).toSeq == Seq(1, 3))
      assert(clean(1).isNullAt(clean(1).fieldIndex("status")))
      // Preprocess classes the NULL status Other
      assert(Preprocess.preprocessFtl(split.clean).filter("id = 3")
        .select("status_type").head.getString(0) == "Other")
    } finally split.release()
  }

  test("probe returns global min/max (db.py:54-61)") {
    val dir = Files.createTempDirectory("graft_probe").toString
    FtlFixture.frame(spark, 1, 100).write.parquet(s"$dir/db")
    val r = FtlIngest.probeRange(spark.read.parquet(s"$dir/db")).head
    assert(r.getLong(0) == 1704067200L && r.getLong(1) == 1706659200L)
  }
}

object FtlIngestSpec {
  /** A copy of `ftl_fixture.db`, named `pihole-FTL.db` in a new temp
    * directory, with the right-child pointer of page 2 (its one interior
    * table page, of 52) rewritten to `target`. */
  def withRightChild(target: Int): java.nio.file.Path = {
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(getClass.getResource("/ftl_fixture.db").getPath))
    val pageSize = ((bytes(16) & 0xff) << 8) | (bytes(17) & 0xff)
    require(bytes(pageSize) == 5, "page 2 must be the interior table page")
    java.nio.ByteBuffer.wrap(bytes).putInt(pageSize + 8, target) // type, freeblock, cells, content, frag: 8 bytes
    Files.write(Files.createTempDirectory("graft_corrupt").resolve("pihole-FTL.db"), bytes)
  }
}
