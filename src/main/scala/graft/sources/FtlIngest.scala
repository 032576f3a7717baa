package graft.sources

import java.nio.ByteBuffer
import java.nio.charset.CharacterCodingException
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, LocalDate, ZoneId}

import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapreduce.lib.input.TextInputFormat
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Ingestion of the Pi-hole FTL `queries` relation — the Spark
  * re-expression of the reference's scan layer (reference: db.py:16-152,
  * app.py:144-154).
  *
  * Source shapes:
  *   - **Parquet** (production path): FTL tables exported to parquet; the
  *     scan gets projection + timestamp-range pushdown from Catalyst
  *     (PushedFilters), partition-parallel for free. The reference's
  *     memory-adaptive chunking (db.py:39-52) is superseded entirely by
  *     Spark's split planning (`maxPartitionBytes`).
  *   - **SQLite `.db`** (the reference's primary format): read natively
  *     by [[SqliteRead]] — page-parallel leaf scans replace the
  *     reference's chunked generator (db.py:137-152). Exercised
  *     end-to-end in FtlIngestSpec against fixture databases built with
  *     the reference DDL.
  *
  * Multi-database behavior matches the reference: UNION ALL with
  * duplicates KEPT (README.md:56), via `unionByName`.
  */
object FtlIngest {

  /** The 7-of-13 projection the engine reads (reference: db.py:130-134). */
  val SourceColumns: Seq[String] =
    Seq("id", "timestamp", "type", "status", "domain", "client", "reply_time")

  /** Timezone with invalid → UTC fallback (reference: db.py:70-74 warns
    * and falls back rather than failing). */
  def zoneOrUtc(tz: String): ZoneId =
    try ZoneId.of(tz) catch { case _: Exception => ZoneId.of("UTC") }

  /** Scan-range epochs [from, to) in seconds — the reference's date-range
    * contract (db.py:69-108): explicit dates are interpreted at midnight
    * in the DISPLAY timezone, the end date is made exclusive by +1 day
    * (db.py:85); with no dates, the window is [now - days, now]
    * (db.py:89-95). */
  def timeRangeEpochs(
      startDate: Option[LocalDate], endDate: Option[LocalDate],
      days: Int, tz: String, nowUtc: Instant): (Long, Long) = {
    val zone = zoneOrUtc(tz)
    (startDate, endDate) match {
      case (Some(s), Some(e)) =>
        (s.atStartOfDay(zone).toEpochSecond,
          e.plusDays(1).atStartOfDay(zone).toEpochSecond)
      case _ =>
        (nowUtc.minusSeconds(days.toLong * 86400).getEpochSecond,
          nowUtc.getEpochSecond)
    }
  }

  /** S1+S3: multi-file parquet scan, projected to the 7 engine columns,
    * with the half-open timestamp range filter pushed to the scan. */
  def readParquet(spark: SparkSession, paths: Seq[String],
                  fromEpoch: Long, toEpoch: Long): DataFrame =
    paths.map(p => spark.read.parquet(p).select(SourceColumns.map(col): _*))
      .reduce(_ unionByName _)
      .filter(col("timestamp") >= fromEpoch && col("timestamp") < toEpoch)

  /** The engine's typed source schema — what CSV/JSON exports of the FTL
    * table must parse into. */
  val SourceSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "id INT, timestamp BIGINT, type TINYINT, status TINYINT, " +
        "domain STRING, client STRING, reply_time DOUBLE")

  /** S1/S3 over CSV exports (the common "sqlite3 -csv" escape hatch),
    * with TOLERANT parsing: a line that cannot be read as one row routes
    * into `_corrupt` (the raw line, other columns NULL) instead of failing
    * the job — at 100 TB a handful of mangled lines must never kill the
    * scan. Callers decide the quarantine policy (count, dump, or drop).
    *
    * Each file's first line is its header, and blank lines are skipped.
    * Every other line is checked before it is parsed ([[csvLine]]): it
    * must be valid UTF-8 and quoted as RFC 4180 quotes (what `sqlite3
    * -csv` writes) with exactly the source's 7 fields. Spark's CSV parser
    * alone would read a line with a stray quote or an invalid byte inside
    * a text field as a row with a different value. A line that passes is
    * parsed by Spark's CSV parser in PERMISSIVE mode over the full schema,
    * so a field of the wrong type (a non-numeric timestamp, a status
    * beyond TINYINT) lands in `_corrupt` too, whatever columns a later
    * query reads. Clean rows keep the half-open timestamp range, so a
    * line with an empty `timestamp` is quarantined too: as a NULL it
    * would fall outside every range and vanish. An empty `status` or
    * `type` reads as NULL into the clean rows (`Preprocess` classes a
    * NULL status Other). */
  def readCsv(spark: SparkSession, paths: Seq[String],
              fromEpoch: Long, toEpoch: Long): DataFrame = {
    val withCorrupt = SourceSchema.add("_corrupt", "string")
    val sc = spark.sparkContext
    val lines = sc.union(paths.map(sc.newAPIHadoopFile(_, classOf[TextInputFormat],
        classOf[LongWritable], classOf[Text])))
      .flatMap { case (offset, text) =>
        if (offset.get == 0L) None else csvLine(text.copyBytes(), SourceSchema.size)
      }
    val parsed = spark.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .schema(withCorrupt)
      .csv(spark.createDataset(lines.collect { case Right(line) => line })(Encoders.STRING))
    val malformed = spark.createDataFrame(
      lines.collect { case Left(line) => Row.fromSeq(Seq.fill(SourceSchema.size)(null) :+ line) },
      withCorrupt)
    parsed.unionByName(malformed)
      .filter(col("_corrupt").isNotNull ||
        (col("timestamp") >= fromEpoch && col("timestamp") < toEpoch))
  }

  /** One CSV line's bytes: Right(the line) when it is valid UTF-8 and
    * quoted as RFC 4180 quotes with exactly `fields` fields and a
    * non-empty `timestamp`, Left(the line decoded with U+FFFD for invalid
    * bytes) when not, None when blank. */
  private def csvLine(bytes: Array[Byte], fields: Int): Option[Either[String, String]] = {
    val line = try Right(UTF_8.newDecoder().decode(ByteBuffer.wrap(bytes)).toString)
    catch { case _: CharacterCodingException => Left(new String(bytes, UTF_8)) }
    if (line.merge.trim.isEmpty) None
    else Some(line.filterOrElse(rfc4180Widths(_).exists(w =>
      w.size == fields && w(SourceColumns.indexOf("timestamp")) > 0), line.merge))
  }

  /** The content width of each field of a line quoted as RFC 4180 quotes
    * — a quote may only open a field, and a quoted field ends at a quote
    * that is not doubled and is followed by a separator or the line's end
    * — or None when its quoting is broken. One pass, no backtracking. */
  private def rfc4180Widths(line: String): Option[Seq[Int]] = {
    val widths = Seq.newBuilder[Int]
    var width = 0
    var i = 0
    var fieldStart = true
    while (i < line.length) {
      val c = line.charAt(i)
      if (c == ',') { widths += width; width = 0; fieldStart = true; i += 1 }
      else if (c != '"') { fieldStart = false; width += 1; i += 1 }
      else if (!fieldStart) return None
      else {
        i += 1
        var open = true
        while (open && i < line.length) {
          if (line.charAt(i) != '"') { width += 1; i += 1 }
          else if (i + 1 < line.length && line.charAt(i + 1) == '"') { width += 1; i += 2 }
          else { open = false; i += 1 }
        }
        if (open || (i < line.length && line.charAt(i) != ',')) return None
        fieldStart = false
      }
    }
    Some((widths += width).result())
  }

  /** The two halves of a tolerant CSV parse plus the cache handle that
    * backs them. `release()` frees the one MEMORY_AND_DISK cache — note
    * that unpersisting `clean` or `quarantine` would be a silent no-op
    * (`Dataset.unpersist` only uncaches plans that `sameResult` its own
    * plan, and the derived frames' plans differ from the persisted raw
    * one), which is why the handle is part of the result. */
  final case class CsvSplit(clean: DataFrame, quarantine: DataFrame, raw: DataFrame) {
    def release(): Unit = { raw.unpersist(); () }
  }

  /** [[readCsv]] eagerly split into clean/quarantine halves. The parsed
    * frame is persisted BEFORE the split, so both halves come from one
    * materialization of it. Clean rows are typed and
    * range-filtered with `_corrupt` dropped; quarantine rows carry the
    * raw offending line. Call `release()` on the result once the
    * quarantine is drained, or the cache lives for the session. */
  def readCsvSplit(spark: SparkSession, paths: Seq[String],
                   fromEpoch: Long, toEpoch: Long): CsvSplit = {
    val raw = readCsv(spark, paths, fromEpoch, toEpoch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val clean = raw.filter(col("_corrupt").isNull).drop("_corrupt")
    val quarantine = raw.filter(col("_corrupt").isNotNull)
      .select(col("_corrupt").as("raw_line"))
    CsvSplit(clean, quarantine, raw)
  }

  /** S1/S2/S3 straight from SQLite `.db` files — the reference's PRIMARY
    * source format (db.py:16-30,130-135), read natively via
    * [[SqliteRead]] (driver walks the interior B-tree, executors parse
    * leaf pages in parallel; overflow chains, rowid-alias `id`, lossy
    * UTF-8 all handled). Multi-database = UNION ALL with duplicates
    * kept, same as [[readParquet]]. The timestamp range filter applies
    * after the scan (the 7-column projection happens in the page
    * parser); [[probeRange]] works unchanged on the result. Each file's
    * leaf pages are split into at most 8 scan tasks
    * ([[SqliteRead.readTable]]'s default). */
  def readSqlite(spark: SparkSession, dbPaths: Seq[String],
                 fromEpoch: Long, toEpoch: Long): DataFrame =
    dbPaths.map(p => SqliteRead.readTable(spark, p, "queries", SourceSchema))
      .reduce(_ unionByName _)
      .filter(col("timestamp") >= fromEpoch && col("timestamp") < toEpoch)

  /** S5: global min/max timestamp probe — answered from parquet footer
    * statistics, not a full scan. */
  def probeRange(df: DataFrame): DataFrame =
    df.agg(min(col("timestamp")).as("min_ts"), max(col("timestamp")).as("max_ts"))

  /** F2: display-timezone conversion as a pure column transform — the
    * reference converts the whole frame to the display TZ up front
    * (process.py:52-61, invalid TZ → UTC). We keep analytics in the
    * session TZ (UTC under the driver harness) and shift only for
    * display, so the conversion is a projection, never session state. */
  def withDisplayTz(df: DataFrame, tsCol: String, tz: String): DataFrame =
    df.withColumn(tsCol, from_utc_timestamp(col(tsCol), zoneOrUtc(tz).getId))
}
