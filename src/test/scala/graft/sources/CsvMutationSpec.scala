package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.Random

import org.apache.spark.sql.Row

import graft.SparkSpec

/** A fixed-seed mutation corpus for the CSV quarantine path,
  * [[FtlIngest.readCsvSplit]]: 100 exports of 12 intact lines, each with
  * 1–3 lines damaged by one of five kinds (20 cases each):
  *
  *   - truncated: cut before the last separator, so a field is missing;
  *   - wrong field count: one field dropped or one added;
  *   - a non-numeric timestamp or status code;
  *   - a stray quote: one `"` inserted anywhere, which leaves the line an
  *     odd number of quotes, so no RFC 4180 reading of it exists;
  *   - invalid UTF-8: a stray continuation byte, a cut multi-byte
  *     sequence, an overlong form, a surrogate or a byte no UTF-8 text
  *     holds, inserted anywhere.
  *
  * Every intact line must come back in `clean` with its exact values and
  * every damaged line in `quarantine` (as the line, decoded with U+FFFD
  * for invalid bytes), within [[Bound]]. The intact lines include a
  * quoted field holding the separator, non-ASCII text and empty reply
  * times. */
class CsvMutationSpec extends SparkSpec {

  private val Bound = 30.seconds
  private val Seed = 20261019L
  private val Header = "id,timestamp,type,status,domain,client,reply_time"

  /** An intact line as (its CSV text, the row the reader must return). */
  private def intact(rnd: Random, id: Int): (String, Row) = {
    val ts = 1704067200L + rnd.nextInt(86400 * 30)
    val tpe = 1 + rnd.nextInt(3)
    val status = Seq(1, 2, 3, 4, 5, 9, 12, 14)(rnd.nextInt(8))
    val domain = Seq("ads.example", "a,b.example", "bücher.example", "x.example")(rnd.nextInt(4))
    val client = s"192.168.1.${rnd.nextInt(5)}"
    val reply = if (rnd.nextInt(4) == 0) None else Some(f"0.${rnd.nextInt(10000)}%04d")
    val quoted = if (domain.contains(",")) s""""$domain"""" else domain
    (Seq(id, ts, tpe, status, quoted, client, reply.getOrElse("")).mkString(","),
      Row(id, ts, tpe.toByte, status.toByte, domain, client, reply.map(_.toDouble).orNull))
  }

  /** The separators of `line` outside quotes. */
  private def separators(line: String): Seq[Int] = {
    var quoted = false
    line.indices.filter { i =>
      if (line(i) == '"') quoted = !quoted
      line(i) == ',' && !quoted
    }
  }

  private def fields(line: String): Seq[String] = {
    val cuts = -1 +: separators(line) :+ line.length
    cuts.zip(cuts.tail).map { case (a, b) => line.substring(a + 1, b) }
  }

  private val InvalidUtf8: Seq[Array[Byte]] = Seq(
    Array(0x80), Array(0xC3), Array(0xE2, 0x82), Array(0xC0, 0xAF), Array(0xED, 0xA0, 0x80),
    Array(0xF4, 0x90, 0x80, 0x80), Array(0xFF)).map(_.map(_.toByte))

  /** One damaged copy of `line` of the given kind, as its bytes. */
  private def damaged(rnd: Random, kind: Int, line: String): Array[Byte] = {
    def replaced(at: Int, value: String) = fields(line).updated(at, value).mkString(",")
    kind match {
      case 0 => line.take(1 + rnd.nextInt(separators(line).last)).getBytes(UTF_8)
      case 1 =>
        val fs = fields(line)
        val at = rnd.nextInt(fs.size + 1)
        (if (rnd.nextBoolean()) fs.patch(at min (fs.size - 1), Nil, 1) else fs.patch(at, Seq("x"), 0))
          .mkString(",").getBytes(UTF_8)
      case 2 =>
        val junk = Seq("abc", "17040672OO", "1.7e9", "0x6595", "nan", "-", "2a", "two", "0.5", "+-1")(rnd.nextInt(10))
        replaced(if (rnd.nextBoolean()) 1 else 3, junk).getBytes(UTF_8)
      case 3 =>
        val at = rnd.nextInt(line.length + 1)
        (line.take(at) + "\"" + line.drop(at)).getBytes(UTF_8)
      case _ =>
        val bytes = line.getBytes(UTF_8)
        val at = rnd.nextInt(bytes.length + 1)
        bytes.take(at) ++ InvalidUtf8(rnd.nextInt(InvalidUtf8.size)) ++ bytes.drop(at)
    }
  }

  private val Kinds = Seq("truncated", "field count", "non-numeric", "stray quote", "invalid UTF-8")

  private sealed trait Outcome
  private final case class Split(clean: Seq[Row], quarantine: Seq[String]) extends Outcome
  private final case class Failed(t: Throwable) extends Outcome

  /** Writes the export, reads it on a thread of its own, and gives up
    * after [[Bound]]. */
  private def outcome(bytes: Array[Byte]): Outcome = {
    val dir = Files.createTempDirectory("graft_csv_mutation")
    val path = dir.resolve("export.csv")
    Files.write(path, bytes)
    val ec = ExecutionContext.fromExecutor { r =>
      val t = new Thread(r, "csv-mutation"); t.setDaemon(true); t.start()
    }
    try Await.result(Future {
      val split = FtlIngest.readCsvSplit(spark, Seq(path.toString), 0L, Long.MaxValue)
      try Split(split.clean.collect().toSeq.sortBy(_.getInt(0)),
        split.quarantine.collect().map(_.getString(0)).toSeq.sorted)
      finally split.release()
    }(ec).recover { case t => Failed(t) }(ec), Bound)
    catch { case e: java.util.concurrent.TimeoutException => Failed(e) }
    finally {
      Files.list(dir).forEach(p => Files.delete(p))
      Files.delete(dir)
    }
  }

  test("100 damaged CSV exports: intact lines exact in clean, damaged lines in quarantine") {
    val rnd = new Random(Seed)
    val verdicts = for (c <- 0 until 100) yield {
      val kind = c % Kinds.size
      val lines = (1 to 12).map(intact(rnd, _))
      val hit = rnd.shuffle((0 until 12).toList).take(1 + rnd.nextInt(3)).toSet
      val bytes = lines.zipWithIndex.map { case ((text, _), i) =>
        if (hit(i)) damaged(rnd, kind, text) else text.getBytes(UTF_8)
      }
      val export = (Header.getBytes(UTF_8) +: bytes).reduce(_ ++ "\n".getBytes(UTF_8) ++ _)
      val want = Split(lines.indices.filterNot(hit).map(i => lines(i)._2),
        hit.toSeq.map(i => new String(bytes(i), UTF_8)).sorted)
      val label = s"case $c (${Kinds(kind)}: lines ${hit.toSeq.sorted.mkString(",")})"
      val t0 = System.nanoTime()
      val got = outcome(export)
      val secs = (System.nanoTime() - t0) / 1e9
      secs -> (got match {
        case Split(clean, q) if clean.map(_.toSeq) == want.clean.map(_.toSeq) && q == want.quarantine => None
        case Split(clean, q) =>
          Some(s"$label: clean ${clean.size}/${want.clean.size} rows" +
            s"${if (clean.map(_.toSeq) == want.clean.map(_.toSeq)) "" else " (differ)"}, quarantine " +
            s"${q.map(l => s"[$l]").mkString(" ")} vs ${want.quarantine.map(l => s"[$l]").mkString(" ")}")
        case Failed(t) =>
          val root = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last
          Some(f"$label (${secs}%.1f s): ${root.getClass.getName}: ${root.getMessage}")
      })
    }
    val failures = verdicts.flatMap(_._2)
    if (failures.nonEmpty) fail(s"${failures.size} of ${verdicts.size} cases:\n${failures.mkString("\n")}")
    info(f"slowest case ${verdicts.map(_._1).max}%.1f s")
  }
}
