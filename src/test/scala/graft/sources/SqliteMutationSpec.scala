package graft.sources

import java.nio.ByteBuffer
import java.nio.file.{Files, Path, Paths}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.Random

import graft.SparkSpec

/** A fixed-seed mutation corpus over the committed SQLite fixtures: 200
  * damaged copies of `ftl_fixture.db` and of the WAL pair
  * `ftl_fixture_wal.db{,-wal}`. Every case must finish within
  * [[Bound]] and must never overflow the stack, exhaust the heap or fail
  * with an untyped error. What it may return depends on the damage:
  *
  *   - truncation, a rewritten child pointer, cell count or cell
  *     pointer: the fixture's exact rows or a [[SqliteCorruptException]];
  *   - a WAL bit flip or truncation: exactly the rows of the WAL cut
  *     before the damaged frame (SQLite's recovery rule: a frame whose
  *     salts or checksum fail ends the log), which a flip in the WAL
  *     header cuts to nothing;
  *   - a main-file bit flip: the above, or a change no reader can see —
  *     the format keeps no checksum on main-file pages, so a flipped bit
  *     inside a stored value (or in its serial type, where the new type
  *     has the same size) reads as a different value in one row; and a
  *     flip inside the stored CREATE TABLE text leaves a valid database
  *     of another schema, which the reader names as a missing table or
  *     column. */
class SqliteMutationSpec extends SparkSpec {

  private val Bound = 30.seconds
  private val Seed = 20261018L

  private def bytesOf(name: String): Array[Byte] =
    Files.readAllBytes(Paths.get(getClass.getResource(s"/$name").getPath))

  private sealed trait Outcome
  private final case class Rows(rows: Vector[String]) extends Outcome
  private final case class Corrupt(e: SqliteCorruptException) extends Outcome
  private final case class Failed(t: Throwable) extends Outcome

  private def read(db: Path): Vector[String] =
    SqliteRead.readTable(spark, db.toString, "queries", FtlIngest.SourceSchema, 2)
      .collect().map(_.toString).sorted.toVector

  /** Writes the database (and its WAL, if any) into a new directory,
    * reads it on a thread of its own, and gives up after [[Bound]]. */
  private def outcome(db: Array[Byte], wal: Option[Array[Byte]]): Outcome = {
    val dir = Files.createTempDirectory("graft_mutation")
    val path = dir.resolve("pihole-FTL.db")
    Files.write(path, db)
    wal.foreach(w => Files.write(dir.resolve("pihole-FTL.db-wal"), w))
    val ec = ExecutionContext.fromExecutor { r =>
      val t = new Thread(r, "sqlite-mutation"); t.setDaemon(true); t.start()
    }
    try Await.result(Future {
      try Rows(read(path))
      catch {
        case t: Throwable =>
          Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
            .collectFirst { case c: SqliteCorruptException => Corrupt(c) }
            .getOrElse(Failed(t))
      }
    }(ec), Bound)
    catch { case e: java.util.concurrent.TimeoutException => Failed(e) }
    finally {
      Files.list(dir).forEach(p => Files.delete(p))
      Files.delete(dir)
    }
  }

  /** Rows in one multiset and not the other, both ways. */
  private def changed(a: Vector[String], b: Vector[String]): Int =
    a.diff(b).size + b.diff(a).size

  private def flipped(bytes: Array[Byte], at: Int, bit: Int): Array[Byte] = {
    val out = bytes.clone(); out(at) = (out(at) ^ (1 << bit)).toByte; out
  }

  /** B-tree pages of `db` with their type: page 1's header follows the
    * 100-byte file header. */
  private def pagesOfType(db: Array[Byte], pageSize: Int, typ: Int): Seq[Int] =
    (1 to db.length / pageSize).filter { p =>
      db((p - 1) * pageSize + (if (p == 1) 100 else 0)) == typ
    }

  private def u16(b: Array[Byte], at: Int): Int = ((b(at) & 0xff) << 8) | (b(at + 1) & 0xff)

  test("200 damaged fixtures: exact rows or a typed error, in bounded time") {
    val rnd = new Random(Seed)
    val db = bytesOf("ftl_fixture.db")
    val pageSize = u16(db, 16)
    val base = read(Paths.get(getClass.getResource("/ftl_fixture.db").getPath))
    assert(base.size == 3005)

    val walDb = bytesOf("ftl_fixture_wal.db")
    val wal = bytesOf("ftl_fixture_wal.db-wal")
    val frame = 24 + ByteBuffer.wrap(wal, 8, 4).getInt
    val nFrames = (wal.length - 32) / frame
    // the committed state after each WAL prefix of k whole frames
    val walState = (0 to nFrames).map(k =>
      outcome(walDb, Some(wal.take(32 + k * frame))) match {
        case Rows(r) => r
        case other => fail(s"undamaged WAL prefix of $k frames: $other")
      })
    assert(walState.last.size == 800 && walState.head.size < 800)
    def walCut(offset: Int): Int = if (offset < 32) 0 else (offset - 32) / frame

    val interior = pagesOfType(db, pageSize, 5)
    val leaves = pagesOfType(db, pageSize, 13)
    assert(interior.nonEmpty && leaves.nonEmpty)

    // (label, database, wal, the rows a reader that does not raise must return,
    //  whether an undetectable value change is allowed)
    type Case = (String, Array[Byte], Option[Array[Byte]], Vector[String], Boolean)
    val cases = Vector.newBuilder[Case]
    for (_ <- 1 to 60) {
      val at = rnd.nextInt(db.length); val bit = rnd.nextInt(8)
      cases += ((s"db bit flip at byte $at bit $bit", flipped(db, at, bit), None, base, true))
    }
    for (_ <- 1 to 30) {
      val len = rnd.nextInt(db.length)
      cases += ((s"db truncated to $len bytes", db.take(len), None, base, false))
    }
    for (_ <- 1 to 25) {
      val page = interior(rnd.nextInt(interior.size))
      val off = (page - 1) * pageSize + (if (page == 1) 100 else 0)
      val nCells = u16(db, off + 3)
      val slot = rnd.nextInt(nCells + 1)
      // a cell's first 4 bytes are its left child; the header holds the right one
      val at = if (slot == nCells) off + 8 else (page - 1) * pageSize + u16(db, off + 12 + 2 * slot)
      val target = if (rnd.nextBoolean()) rnd.nextInt(db.length / pageSize + 8) else rnd.nextInt()
      val out = db.clone(); ByteBuffer.wrap(out).putInt(at, target)
      cases += ((s"page $page child slot $slot -> page $target", out, None, base, false))
    }
    for (_ <- 1 to 10) {
      val pages = interior ++ leaves
      val page = pages(rnd.nextInt(pages.size))
      val at = (page - 1) * pageSize + (if (page == 1) 100 else 0) + 3
      val count = u16(db, at) + (if (rnd.nextBoolean()) 1 else -1) * (1 + rnd.nextInt(3))
      val out = db.clone(); ByteBuffer.wrap(out).putShort(at, count.toShort)
      cases += ((s"page $page cell count -> $count", out, None, base, false))
    }
    for (_ <- 1 to 25) {
      val page = leaves(rnd.nextInt(leaves.size))
      val off = (page - 1) * pageSize + (if (page == 1) 100 else 0)
      val nCells = u16(db, off + 3)
      val cell = rnd.nextInt(nCells)
      // half point into the page at random, half at another cell of the page
      val target = if (rnd.nextBoolean()) rnd.nextInt(pageSize) else u16(db, off + 8 + 2 * rnd.nextInt(nCells))
      val out = db.clone(); ByteBuffer.wrap(out).putShort(off + 8 + 2 * cell, target.toShort)
      cases += ((s"page $page cell $cell pointer -> offset $target", out, None, base, false))
    }
    for (i <- 1 to 30) {
      // a third in the WAL header, a third in frame headers, a third anywhere
      val at = i % 3 match {
        case 0 => rnd.nextInt(32)
        case 1 => 32 + rnd.nextInt(nFrames) * frame + rnd.nextInt(24)
        case _ => rnd.nextInt(wal.length)
      }
      val bit = rnd.nextInt(8)
      cases += ((s"wal bit flip at byte $at bit $bit", walDb, Some(flipped(wal, at, bit)),
        walState(walCut(at)), false))
    }
    for (_ <- 1 to 20) {
      val len = rnd.nextInt(wal.length)
      cases += ((s"wal truncated to $len bytes", walDb, Some(wal.take(len)),
        walState(walCut(len)), false))
    }
    val all = cases.result()
    assert(all.size == 200)

    val schemaChange = "not found in|not in table".r
    // each case's verdict: Right(kind of allowed outcome) or Left(what went wrong)
    val verdicts = all.map { case (label, d, w, expected, valueChangeOk) =>
      val t0 = System.nanoTime()
      val got = outcome(d, w)
      val secs = (System.nanoTime() - t0) / 1e9
      secs -> (got match {
        case Rows(r) if r == expected => Right("exact rows")
        case Rows(r) if valueChangeOk && r.size == expected.size && changed(r, expected) <= 2 =>
          Right("one row's value changed")
        case Corrupt(_) => Right("SqliteCorruptException")
        case Failed(e: IllegalArgumentException)
            if valueChangeOk && schemaChange.findFirstIn(String.valueOf(e.getMessage)).isDefined =>
          Right("schema changed")
        case Rows(r) =>
          Left(f"$label (${secs}%.1f s): ${r.size} rows, ${changed(r, expected)} differ from the expected ${expected.size}")
        case Failed(t) =>
          val root = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last
          Left(f"$label (${secs}%.1f s): ${root.getClass.getName}: " +
            String.valueOf(root.getMessage).linesIterator.nextOption().getOrElse(""))
      })
    }
    val failures = verdicts.collect { case (_, Left(why)) => why }
    if (failures.nonEmpty)
      fail(s"${failures.size} of ${all.size} cases:\n${failures.mkString("\n")}")
    info(verdicts.collect { case (_, Right(kind)) => kind }.groupBy(identity)
      .map { case (k, v) => s"$k: ${v.size}" }.toSeq.sorted.mkString(", ") +
      f"; slowest case ${verdicts.map(_._1).max}%.1f s")
  }
}
