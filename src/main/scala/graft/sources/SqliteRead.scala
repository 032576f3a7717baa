package graft.sources

import java.io.RandomAccessFile
import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Native read path for SQLite database files — the reference's primary
  * source format (reference: db.py:16-30,130-135 reads the FTL `queries`
  * table straight from the `.db` file). The build has no JDBC driver jar
  * and zero egress, so this implements the minimal READ slice of the
  * public SQLite file format (sqlite.org/fileformat2: header, table
  * B-trees, varints, record serial types, overflow chains) directly.
  *
  * Scale design — the same split as every other source here:
  *   - the DRIVER walks only the table's INTERIOR B-tree pages to
  *     enumerate leaf page numbers (fan-out ~hundreds, so interior pages
  *     are ~1/300th of the file) and partitions that list;
  *   - EXECUTORS open the file themselves and parse only their leaf
  *     pages (plus any overflow chains those leaves reference) — the
  *     Spark-shaped replacement for the reference's memory-adaptive
  *     chunked generator (db.py:39-52,137-152): chunk = page range, and
  *     chunks scan in parallel instead of sequentially.
  *
  * Semantics matched to the reference:
  *   - text decodes UTF-8 with replacement (db.py:17 sets a lossy
  *     `text_factory`; S6 in SURVEY.md §2) — blobs in TEXT columns and
  *     mangled bytes yield U+FFFD, never a failed scan;
  *   - `INTEGER PRIMARY KEY` columns are rowid aliases: stored as NULL
  *     in the record, materialized from the cell's rowid;
  *   - SQLite columns are dynamically typed, so values coerce to the
  *     requested Spark type (an INTEGER-stored 0 in a REAL column reads
  *     as 0.0).
  *
  * WAL-mode databases are handled by REPLAYING the sidecar: a non-empty
  * `<db>-wal` (a live Pi-hole's normal state) is parsed by [[SqliteWal]]
  * into a committed page→frame overlay, and every page read checks the
  * overlay before the main file — the same recovery rule SQLite itself
  * applies on open, so the scan sees exactly the committed state.
  *
  * Text decodes in the header-declared encoding (UTF-8 / UTF-16le /
  * UTF-16be), lossily (U+FFFD on malformed input, like the reference's
  * text_factory).
  *
  * `WITHOUT ROWID` tables read too: their index-b-tree records (PK
  * columns first, then the rest; interior pages carry rows — a true
  * B-tree) are permuted back to declared column order.
  *
  * A corrupt file fails with a [[SqliteCorruptException]] naming the file
  * and the page: the b-tree walk is iterative with a visited set (a
  * cycle cannot overflow the stack or loop), and every child and
  * overflow pointer, cell count and payload length is checked against
  * the database's page count before it is followed or allocated. A
  * page's cells, freeblocks and fragment bytes must fill its content
  * area exactly (SQLite's integrity rule), a table leaf's rowids must
  * ascend, a record's serial types must account for exactly its
  * payload, and a read past the end of a truncated file names the page
  * it wanted (`SqliteMutationSpec` runs 200 damaged copies of the
  * fixtures).
  *
  * Limit (documented, not silent): a HOT ROLLBACK JOURNAL
  * (`<db>-journal`, crash-mid-transaction in the default journal mode) is
  * rejected loudly — the main file may then contain torn uncommitted
  * pages that only a journal rollback can undo.
  */
object SqliteRead {

  /** Read `table` from a SQLite file as a DataFrame with the requested
    * schema (fields matched to table columns by name, coerced to the
    * field type). `numPartitions` splits the leaf-page list. */
  def readTable(spark: SparkSession, dbPath: String, table: String,
                schema: StructType, numPartitions: Int = 8): DataFrame = {
    // a non-empty rollback journal means a writer crashed mid-transaction:
    // the MAIN file can hold torn/uncommitted pages that SQLite would roll
    // back on open — we don't implement rollback, so fail loudly rather
    // than scan phantom rows
    val journal = new java.io.File(dbPath + "-journal")
    if (journal.exists() && journal.length() > 0)
      throw new IllegalStateException(
        s"$dbPath has a non-empty rollback journal (${journal.length()} " +
          "bytes): the main file may contain uncommitted pages. Open the " +
          "database once with sqlite3 (which rolls the journal back) or " +
          "copy it with the .backup command, then re-read.")
    // WAL sidecar → committed-page overlay, parsed ONCE on the driver and
    // shipped to executors in the task closure (the map is |frames|-sized,
    // bounded by the checkpoint interval — ~1000 pages by default)
    val wal = walSpecOf(dbPath)
    val (rootPage, createSql) = withFile(dbPath, wal) { f =>
      val h = header(f)
      findTable(f, h, table)
        .getOrElse(throw new IllegalArgumentException(
          s"table '$table' not found in $dbPath"))
    }
    val cols = columnsOf(createSql)
    val noRowid = isWithoutRowid(createSql)
    // WITHOUT ROWID tables store rows as index-b-tree records with the
    // PRIMARY KEY columns FIRST (in PK order), then the remaining columns
    // in declared order — map requested fields through that permutation.
    // Rowid tables use declared order directly, with the INTEGER PRIMARY
    // KEY alias (stored NULL) substituted from the cell's rowid.
    val storageOrder =
      if (!noRowid) cols
      else {
        val pk = pkColumnsOf(createSql)
        require(pk.nonEmpty, s"WITHOUT ROWID table '$table' lacks a parsed PRIMARY KEY")
        pk ++ cols.filterNot(c => pk.exists(_.equalsIgnoreCase(c)))
      }
    val rowidAlias = if (noRowid) None else rowidAliasOf(createSql)
    val fieldSrc = schema.fields.map { fld =>
      val idx = storageOrder.indexWhere(_.equalsIgnoreCase(fld.name))
      require(idx >= 0, s"column '${fld.name}' not in table '$table' ($cols)")
      idx
    }
    val aliasIdx = rowidAlias.map(a => storageOrder.indexWhere(_.equalsIgnoreCase(a))).getOrElse(-1)
    val leaves = withFile(dbPath, wal)(f => dataPages(f, header(f), rootPage, noRowid))
    val parts = math.max(1, math.min(numPartitions, leaves.length))
    val rdd = spark.sparkContext
      .parallelize(splitEvenly(leaves, parts), parts)
      .flatMap { pages =>
        withFile(dbPath, wal) { f =>
          val h = header(f)
          pages.iterator.flatMap(p => pageRows(f, h, p, noRowid)).map { case (rowid, rec) =>
            Row.fromSeq(fieldSrc.zip(schema.fields).map { case (src, fld) =>
              val v = if (src == aliasIdx && (src >= rec.length || rec(src) == null))
                java.lang.Long.valueOf(rowid) // INTEGER PRIMARY KEY = rowid alias
              else if (src < rec.length) rec(src)
              else null // short record: missing trailing columns are NULL
              coerce(v, fld.dataType)
            }.toSeq)
          }.toVector // materialize before the file handle closes
        }
      }
    spark.createDataFrame(rdd, schema)
  }

  // ---- file-level helpers ----

  /** Serializable WAL overlay: page size + committed page→image offsets
    * (ships to executors inside the scan closure), plus the header salts
    * the driver parsed under — every later reopen revalidates them, so a
    * checkpoint-reset racing the read fails loudly instead of serving a
    * frankenstein of old offsets over new frames. */
  private[sources] case class WalSpec(pageSize: Int, pages: Map[Int, Long],
                                      salt1: Int, salt2: Int)

  private def walSpecOf(dbPath: String): Option[WalSpec] = {
    val wal = new java.io.File(dbPath + "-wal")
    if (wal.exists() && wal.length() >= 32) {
      val o = SqliteWal.pageMap(dbPath + "-wal")
      if (o.pages.nonEmpty) Some(WalSpec(o.pageSize, o.pages, o.salt1, o.salt2))
      else None
    } else None
  }

  /** Positioned reader over main-file + WAL overlay: every read resolves
    * its page against the WAL's committed frames first, falling back to
    * the main file — pages appended since the last checkpoint exist ONLY
    * in the WAL, so the fallback order is load-bearing, not an
    * optimization. With no overlay, reads pass straight through. */
  private[sources] final class DbFile(val path: String, main: RandomAccessFile,
                                      walRaf: Option[RandomAccessFile],
                                      wal: Option[WalSpec]) {
    /** Pages the database holds: the main file's, or more when the WAL
      * has appended some since the last checkpoint. */
    def pagesOnDisk(pageSize: Int): Long =
      math.max(main.length() / pageSize, wal.fold(0)(w => if (w.pages.isEmpty) 0 else w.pages.keys.max))
    /** Set once the header is read; names the page of a read that runs
      * off the end of a truncated file. */
    var pageSize: Int = 0
    private var pos = 0L
    private val one = new Array[Byte](1)
    private val two = new Array[Byte](2)
    private val four = new Array[Byte](4)
    def seek(p: Long): Unit = pos = p
    def position: Long = pos
    def skipBytes(n: Int): Unit = pos += n
    def readFully(b: Array[Byte]): Unit = readFully(b, 0, b.length)
    def readFully(b: Array[Byte], off: Int, len: Int): Unit =
      try read(b, off, len)
      catch {
        case _: java.io.EOFException =>
          throw new SqliteCorruptException(path, if (pageSize > 0) pos / pageSize + 1 else 1,
            s"the file ends inside this page (${main.length()} bytes)")
      }
    private def read(b: Array[Byte], off: Int, len: Int): Unit = (walRaf, wal) match {
      case (Some(w), Some(spec)) =>
        var o = off; var rem = len
        while (rem > 0) {
          val page = (pos / spec.pageSize).toInt + 1
          val inPage = (pos % spec.pageSize).toInt
          val take = math.min(rem, spec.pageSize - inPage)
          spec.pages.get(page) match {
            case Some(wOff) => w.seek(wOff + inPage); w.readFully(b, o, take)
            case None       => main.seek(pos); main.readFully(b, o, take)
          }
          pos += take; o += take; rem -= take
        }
      case _ =>
        main.seek(pos); main.readFully(b, off, len); pos += len
    }
    def readUnsignedByte(): Int = { readFully(one); one(0) & 0xff }
    def readUnsignedShort(): Int = {
      readFully(two); ((two(0) & 0xff) << 8) | (two(1) & 0xff)
    }
    def readInt(): Int = {
      readFully(four)
      ((four(0) & 0xff) << 24) | ((four(1) & 0xff) << 16) |
        ((four(2) & 0xff) << 8) | (four(3) & 0xff)
    }
  }

  private def withFile[A](path: String, wal: Option[WalSpec])(body: DbFile => A): A = {
    val main = new RandomAccessFile(path, "r")
    // every open — driver probes AND executor scans — revalidates the
    // sidecar's salts against the spec before trusting memoized offsets
    wal.foreach(s => SqliteWal.validateSalts(path + "-wal", s.salt1, s.salt2))
    val walRaf = wal.map(_ => new RandomAccessFile(path + "-wal", "r"))
    try body(new DbFile(path, main, walRaf, wal))
    finally { main.close(); walRaf.foreach(_.close()) }
  }

  /** (pageSize, usableSize, text charset) from the 100-byte header. The
    * declared encoding (offset 56: 1=UTF-8, 2=UTF-16le, 3=UTF-16be)
    * applies to every TEXT serial value in every record — including
    * sqlite_master's sql column, so DDL parsing works unchanged after
    * decode. BLOB values are raw bytes regardless of encoding. */
  private case class Header(pageSize: Int, usable: Int,
                            charset: java.nio.charset.Charset, pageCount: Long)

  private def header(f: DbFile): Header = {
    val magic = new Array[Byte](16)
    f.seek(0); f.readFully(magic)
    if (!new String(magic, StandardCharsets.US_ASCII).startsWith("SQLite format 3"))
      throw corrupt(f, 1, "not a SQLite database file (no header magic)")
    f.seek(16)
    val raw = f.readUnsignedShort()
    val pageSize = if (raw == 1) 65536 else raw
    if (pageSize < 512 || Integer.bitCount(pageSize) != 1)
      throw corrupt(f, 1, s"page size $pageSize is not a power of two from 512 to 65536")
    f.pageSize = pageSize
    f.seek(20)
    val reserved = f.readUnsignedByte()
    if (pageSize - reserved < 480)
      throw corrupt(f, 1, s"$reserved reserved bytes leave under 480 usable bytes a page")
    f.seek(56)
    val charset = f.readInt() match {
      case 1 => StandardCharsets.UTF_8
      case 2 => StandardCharsets.UTF_16LE
      case 3 => StandardCharsets.UTF_16BE
      case e => throw corrupt(f, 1, s"invalid text encoding $e")
    }
    // the in-header size (offset 28) is valid when the change counter
    // (24) matches version-valid-for (92); the file (and WAL) may hold
    // more pages, never a pointer beyond both
    f.seek(24)
    val counter = f.readInt()
    f.seek(28)
    val inHeader = f.readInt() & 0xffffffffL
    f.seek(92)
    val valid = inHeader > 0 && f.readInt() == counter
    Header(pageSize, pageSize - reserved, charset,
      math.max(if (valid) inHeader else 0L, f.pagesOnDisk(pageSize)))
  }

  private def corrupt(f: DbFile, page: Long, detail: String) =
    new SqliteCorruptException(f.path, page, detail)

  /** `page` if it is a page of the database, else a typed error naming
    * the page that points at it. Page 1 is the schema's root, so no
    * child or overflow pointer may name it (`lowest` 2). */
  private def checkedPage(f: DbFile, h: Header, from: Int, page: Int, what: String,
                          lowest: Int = 2): Int = {
    if (page < lowest || page > h.pageCount)
      throw corrupt(f, from, s"$what points at page ${page & 0xffffffffL} of ${h.pageCount}")
    page
  }

  private def pageOffset(h: Header, page: Int): Long = (page - 1).toLong * h.pageSize

  /** B-tree page header fields at `page` (page 1 skips the 100-byte file
    * header). Returns (type, nCells, cellPtrArrayOffset, rightChild). */
  private def btHeader(f: DbFile, h: Header, page: Int): (Int, Int, Long, Int) = {
    val base = pageOffset(h, page) + (if (page == 1) 100 else 0)
    f.seek(base)
    val typ = f.readUnsignedByte()
    f.skipBytes(2) // first freeblock
    val nCells = f.readUnsignedShort()
    f.skipBytes(3) // cell content start (2) + fragmented bytes (1)
    val right = if (typ == 2 || typ == 5) f.readInt() else 0
    val headerLen = if (typ == 2 || typ == 5) 12 else 8
    if ((base - pageOffset(h, page)) + headerLen + 2L * nCells > h.usable)
      throw corrupt(f, page, s"$nCells cells do not fit a ${h.pageSize}-byte page")
    (typ, nCells, base + headerLen, right)
  }

  private def cellOffsets(f: DbFile, h: Header, page: Int,
                          ptrArray: Long, nCells: Int): Seq[Long] = {
    f.seek(ptrArray)
    val buf = new Array[Byte](nCells * 2)
    f.readFully(buf)
    (0 until nCells).map { i =>
      val off = ((buf(2 * i) & 0xff) << 8) | (buf(2 * i + 1) & 0xff)
      if (off >= h.usable) throw corrupt(f, page, s"cell $i at offset $off lies outside the page")
      pageOffset(h, page) + off
    }
  }

  /** All ROW-CARRYING page numbers under `root`, in key order — reads
    * only interior pages on this driver-side pass. For a rowid table
    * (page types 5/13) rows live exclusively in the leaves; for a
    * WITHOUT ROWID table the tree is an index b-tree (types 2/10) — a
    * TRUE B-tree, so interior pages carry one full record per cell and
    * must be scanned too (each key lives on exactly one page).
    *
    * The walk is depth-first with an explicit stack, so a deep or
    * cyclic tree cannot overflow the thread's stack; a page reached
    * twice (a cycle, or two parents) or a child pointer beyond the
    * database is a [[SqliteCorruptException]]. */
  private def dataPages(f: DbFile, h: Header, root: Int,
                        index: Boolean): Vector[Int] = {
    val out = Vector.newBuilder[Int]
    val seen = scala.collection.mutable.HashSet.empty[Int]
    val stack = scala.collection.mutable.Stack(checkedPage(f, h, 1, root, "the schema's root page", 1))
    def children(page: Int, typ: Int, ptrs: Long, nCells: Int, right: Int): Seq[Int] = {
      val cells = cellOffsets(f, h, page, ptrs, nCells).map { off =>
        f.seek(off)
        val child = f.readInt()
        if (typ == 5) readVarint(f) // a table interior cell is (child, key)
        (child, (f.position - off).toInt)
      }
      // index interior pages carry records: pageRows checks their space
      if (typ == 5) checkSpace(f, h, page, cells.map(_._2))
      (cells.map(_._1) :+ right).map(checkedPage(f, h, page, _, "a child pointer"))
    }
    while (stack.nonEmpty) {
      val page = stack.pop()
      if (!seen.add(page)) throw corrupt(f, page, "b-tree page reached twice (a cycle)")
      val (typ, nCells, ptrs, right) = btHeader(f, h, page)
      typ match {
        case 13 if !index => out += page
        case 10 if index  => out += page
        case 5 if !index => stack.pushAll(children(page, typ, ptrs, nCells, right).reverse)
        case 2 if index =>
          out += page // interior index cells carry records
          stack.pushAll(children(page, typ, ptrs, nCells, right).reverse)
        case other =>
          throw corrupt(f, page,
            s"expected ${if (index) "index" else "table"} b-tree page, got type $other")
      }
    }
    out.result()
  }

  /** Parse every (rowid, record values) on one row-carrying page,
    * following overflow chains where the payload spills. Table leaves
    * (13) prefix each cell with payload-length + rowid varints; index
    * cells (10 leaf / 2 interior) have no rowid — interior cells
    * additionally carry a 4-byte left-child pointer first. */
  private def pageRows(f: DbFile, h: Header, page: Int,
                       index: Boolean): Seq[(Long, Array[Any])] = {
    val (typ, nCells, ptrs, _) = btHeader(f, h, page)
    val expected = if (index) Set(2, 10) else Set(13)
    if (!expected(typ)) throw corrupt(f, page, s"unexpected b-tree page type $typ")
    var lastRowid = 0L
    val sizes = new Array[Int](nCells)
    val rows = cellOffsets(f, h, page, ptrs, nCells).zipWithIndex.map { case (off, i) =>
      f.seek(off)
      if (typ == 2) f.skipBytes(4) // interior index cell: left child first
      val payloadLen = readVarint(f)
      val rowid = if (typ == 13) readVarint(f) else -1L
      // a table leaf's cells are in strictly increasing rowid order
      if (typ == 13 && i > 0 && rowid <= lastRowid)
        throw corrupt(f, page, s"rowid $rowid follows rowid $lastRowid: cells out of key order")
      lastRowid = rowid
      val prefix = (f.position - off).toInt
      val payload = readPayload(f, h, page, payloadLen, index)
      // a fully local cell takes at least 4 bytes; a spilling one ends in
      // its 4-byte overflow pointer
      val local = localSize(h, payloadLen, index)
      sizes(i) = if (local == payloadLen) math.max(4, prefix + local) else prefix + local + 4
      (rowid, parseRecord(f, page, payload, h.charset))
    }
    checkSpace(f, h, page, sizes.toSeq)
    rows
  }

  /** SQLite's space rule for a b-tree page: the bytes from the start of
    * the cell content area to the usable end are exactly the page's
    * cells, its freeblock chain and its counted fragment bytes. A cell
    * count or cell pointer that disagrees with the page's content (a row
    * dropped or read twice) breaks it. */
  private def checkSpace(f: DbFile, h: Header, page: Int, cellSizes: Seq[Int]): Unit = {
    f.seek(pageOffset(h, page) + (if (page == 1) 100 else 0) + 1)
    var free = f.readUnsignedShort()
    f.skipBytes(2) // cell count
    val content = { val c = f.readUnsignedShort(); if (c == 0) 65536 else c }
    var covered = cellSizes.map(_.toLong).sum + f.readUnsignedByte()
    var last = 0
    while (free != 0) {
      if (free <= last || free + 4 > h.usable)
        throw corrupt(f, page, s"freeblock at offset $free lies out of order or outside the page")
      f.seek(pageOffset(h, page) + free)
      val next = f.readUnsignedShort()
      covered += f.readUnsignedShort()
      last = free
      free = next
    }
    if (covered != h.usable - content)
      throw corrupt(f, page, s"cells, freeblocks and fragments cover $covered bytes " +
        s"of a ${h.usable - content}-byte content area")
  }

  /** Bytes of a `len`-byte payload kept on its b-tree page, the rest
    * spilling to overflow pages — per the format spec: X = U-35 all-local
    * threshold for table leaves, ((U-12)*64/255)-23 for index pages; M
    * the minimum local share, K the modular balance point. */
  private def localSize(h: Header, len: Long, index: Boolean): Int = {
    val u = h.usable
    val x = if (index) (u - 12) * 64 / 255 - 23 else u - 35
    val m = (u - 12) * 32 / 255 - 23
    val k = m + ((len - m) % (u - 4)).toInt
    if (len <= x) len.toInt else if (k <= x) k else m
  }

  /** A cell's payload: its local part, then its overflow chain. */
  private def readPayload(f: DbFile, h: Header, page: Int, len: Long,
                          index: Boolean): Array[Byte] = {
    val u = h.usable
    // a payload cannot outgrow the database that holds it
    if (len < 0 || len > math.min(h.pageCount * u, Int.MaxValue - 8L))
      throw corrupt(f, page, s"payload length $len exceeds the ${h.pageCount}-page database")
    val out = new Array[Byte](len.toInt)
    val local = localSize(h, len, index)
    val cellEnd = f.position + local + (if (local < len) 4 else 0)
    if (cellEnd > pageOffset(h, page) + u)
      throw corrupt(f, page, s"a $len-byte cell runs past the end of the page")
    f.readFully(out, 0, local)
    if (local == len) return out
    var next = f.readInt()
    var pos = local
    while (next != 0 && pos < len) {
      f.seek(pageOffset(h, checkedPage(f, h, page, next, "an overflow pointer")))
      next = f.readInt()
      val take = math.min(u - 4, len.toInt - pos)
      f.readFully(out, pos, take)
      pos += take
    }
    if (pos != len) throw corrupt(f, page, s"overflow chain truncated: $pos of $len bytes")
    out
  }

  /** Value bytes of serial types 0-9 (NULL, six integer widths, a
    * double, the constants 0 and 1). */
  private val FixedSizes = Array(0L, 1L, 2L, 3L, 4L, 6L, 8L, 8L, 0L, 0L)

  /** SQLite record → column values (serial types per the format spec).
    * The header's serial types must account for exactly the payload's
    * bytes; a record that does not is corrupt. */
  private def parseRecord(f: DbFile, page: Int, payload: Array[Byte],
                          charset: java.nio.charset.Charset): Array[Any] = {
    def bad(detail: String) = corrupt(f, page, s"a ${payload.length}-byte record $detail")
    val p = new Parser(payload, charset)
    val types = ArrayBuffer.empty[Long]
    var bodyLen = 0L
    try {
      val headerLen = p.varint()
      if (headerLen < 1 || headerLen > payload.length) throw bad(s"declares a $headerLen-byte header")
      while (p.pos < headerLen) {
        val t = p.varint()
        bodyLen +=
          (if (t >= 12) (t - 12) / 2
           else if (t >= 0 && t < 10) FixedSizes(t.toInt)
           else throw bad(s"uses the reserved serial type $t"))
        types += t
      }
    } catch { case _: IndexOutOfBoundsException => throw bad("has a header that overruns it") }
    if (p.pos + bodyLen != payload.length)
      throw bad(s"has a ${p.pos}-byte header and ${bodyLen} bytes of values")
    types.map { t =>
      t match {
        case 0 => null
        case 1 => p.int(1)
        case 2 => p.int(2)
        case 3 => p.int(3)
        case 4 => p.int(4)
        case 5 => p.int(6)
        case 6 => p.int(8)
        case 7 => java.lang.Double.longBitsToDouble(p.int(8).longValue())
        case 8 => java.lang.Long.valueOf(0L)
        case 9 => java.lang.Long.valueOf(1L)
        case n if n >= 13 && n % 2 == 1 => p.text(((n - 13) / 2).toInt)
        case n => p.bytes(((n - 12) / 2).toInt)
      }
    }.toArray[Any]
  }

  private final class Parser(buf: Array[Byte],
                             charset: java.nio.charset.Charset) {
    var pos: Int = 0
    def varint(): Long = {
      var v = 0L; var i = 0
      while (i < 8) {
        val b = buf(pos); pos += 1
        v = (v << 7) | (b & 0x7f)
        if ((b & 0x80) == 0) return v
        i += 1
      }
      val b = buf(pos); pos += 1
      (v << 8) | (b & 0xff)
    }
    def int(n: Int): java.lang.Long = {
      var v = 0L
      var i = 0
      while (i < n) { v = (v << 8) | (buf(pos + i) & 0xff); i += 1 }
      pos += n
      // sign-extend from n bytes
      val shift = 64 - 8 * n
      java.lang.Long.valueOf((v << shift) >> shift)
    }
    def text(n: Int): String = {
      // db-declared charset, with replacement — java.lang.String's
      // default for malformed input, matching the reference's lossy
      // text_factory (db.py:17)
      val s = new String(buf, pos, n, charset)
      pos += n
      s
    }
    def bytes(n: Int): Array[Byte] = {
      val b = java.util.Arrays.copyOfRange(buf, pos, pos + n)
      pos += n
      b
    }
  }

  /** Varint straight off the file (cell headers live outside records). */
  private def readVarint(f: DbFile): Long = {
    var v = 0L; var i = 0
    while (i < 8) {
      val b = f.readUnsignedByte()
      v = (v << 7) | (b & 0x7f)
      if ((b & 0x80) == 0) return v
      i += 1
    }
    (v << 8) | (f.readUnsignedByte() & 0xff)
  }

  // ---- schema-level helpers ----

  /** Scan sqlite_master (root = page 1) for `table` → (rootpage, sql). */
  private def findTable(f: DbFile, h: Header,
                        table: String): Option[(Int, String)] = {
    // sqlite_master columns: type, name, tbl_name, rootpage, sql
    dataPages(f, h, 1, index = false).iterator
      .flatMap(pageRows(f, h, _, index = false)).collectFirst {
      case (_, rec) if rec.length >= 5 &&
        "table" == rec(0) && table.equalsIgnoreCase(String.valueOf(rec(1))) =>
        rec(3) match {
          case root: java.lang.Long => (root.intValue(), String.valueOf(rec(4)))
          case other => throw corrupt(f, 1, s"table '$table' has root page '$other'")
        }
    }
  }

  /** Split the CREATE TABLE paren body on TOP-LEVEL commas, tracking
    * paren depth AND quote state ('…' string literals with '' escapes;
    * "…", […], `…` identifiers) — a CHECK/DEFAULT literal containing a
    * comma or parenthesis must not shift the column list. */
  private[sources] def splitTopLevel(body: String): Seq[String] = {
    val items = ArrayBuffer(new StringBuilder)
    var depth = 0
    var quote: Char = 0 // 0 = outside quotes, else the expected closer
    var i = 0
    while (i < body.length) {
      val c = body.charAt(i)
      if (quote != 0) {
        items.last.append(c)
        if (c == quote) {
          // doubled closer = escape ('' "" ``); […] has no escape form
          if (quote != ']' && i + 1 < body.length && body.charAt(i + 1) == quote) {
            items.last.append(quote); i += 1
          } else quote = 0
        }
      } else c match {
        case '\'' | '"' | '`'  => quote = c; items.last.append(c)
        case '['               => quote = ']'; items.last.append(c)
        case '('               => depth += 1; items.last.append(c)
        case ')'               => depth -= 1; items.last.append(c)
        case ',' if depth == 0 => items += new StringBuilder
        case _                 => items.last.append(c)
      }
      i += 1
    }
    items.map(_.toString.trim).filter(_.nonEmpty).toSeq
  }

  /** (leading identifier, rest-of-item) — unquotes "…", […], `…`; quoted
    * names may contain spaces, commas, even parens. */
  private def splitIdent(item: String): (String, String) = {
    val s = item.trim
    if (s.isEmpty) return ("", "")
    val closer = s.charAt(0) match {
      case '"' => '"'
      case '`' => '`'
      case '[' => ']'
      case _   => 0.toChar
    }
    if (closer != 0.toChar) {
      val sb = new StringBuilder
      var i = 1
      var end = -1
      while (i < s.length && end < 0) {
        val c = s.charAt(i)
        if (c == closer) {
          if (closer != ']' && i + 1 < s.length && s.charAt(i + 1) == closer) {
            sb.append(c); i += 2
          } else { end = i + 1 }
        } else { sb.append(c); i += 1 }
      }
      (sb.toString, if (end < 0) "" else s.substring(end).trim)
    } else {
      val parts = s.split("\\s+|(?=\\()", 2)
      (parts(0), if (parts.length > 1) parts(1).trim else "")
    }
  }

  /** True iff the DDL declares a WITHOUT ROWID table (clause after the
    * closing paren of the column list). */
  private[sources] def isWithoutRowid(createSql: String): Boolean =
    createSql.substring(createSql.lastIndexOf(')') + 1)
      .toUpperCase.replaceAll("\\s+", " ").contains("WITHOUT ROWID")

  /** The PRIMARY KEY column list, in PK-declaration order: a column-level
    * `PRIMARY KEY` yields that single column; a table-level
    * `PRIMARY KEY(a, b)` yields the listed columns with per-column
    * ASC/DESC/COLLATE decorations stripped. (This is the INDEX KEY order
    * that WITHOUT ROWID records lead with.) */
  private[sources] def pkColumnsOf(createSql: String): Seq[String] = {
    val items = splitTopLevel(parenBody(createSql))
    val (constraints, colItems) = items.partition(isTableConstraint)
    val colLevel = colItems.map(splitIdent).collect {
      case (name, rest)
        if "(?i)\\bPRIMARY\\s+KEY\\b".r.findFirstIn(
          rest.replaceAll("'(?:[^']|'')*'", " ")).isDefined => name
    }
    if (colLevel.nonEmpty) colLevel.take(1)
    else constraints.iterator.flatMap { c =>
      "(?is)^PRIMARY\\s+KEY\\s*\\((.*)\\)".r.findFirstMatchIn(c.trim).map(_.group(1))
    }.take(1).flatMap(inner => splitTopLevel(inner).map(it => splitIdent(it)._1)).toSeq
  }

  private def isTableConstraint(item: String): Boolean =
    Seq("PRIMARY", "UNIQUE", "CHECK", "FOREIGN", "CONSTRAINT")
      .exists(k => item.toUpperCase.startsWith(k + " ") ||
        item.toUpperCase.startsWith(k + "("))

  private def parenBody(createSql: String): String =
    createSql.substring(createSql.indexOf('(') + 1, createSql.lastIndexOf(')'))

  /** Column names from CREATE TABLE sql — leading identifier of each
    * top-level item that is not a table-level constraint. */
  private[sources] def columnsOf(createSql: String): Seq[String] =
    splitTopLevel(parenBody(createSql))
      .filterNot(isTableConstraint)
      .map(it => splitIdent(it)._1)
      .filter(_.nonEmpty)

  /** The rowid-alias column, if declared (SQLite: an INTEGER column that
    * is the table's PRIMARY KEY becomes an alias for the rowid, and its
    * record field stores NULL — the reader must substitute the rowid).
    * Handles the legal spellings the old three-adjacent-tokens regex
    * missed: intervening column constraints (`id INTEGER NOT NULL
    * PRIMARY KEY`) and a table-level `PRIMARY KEY(id)` naming a single
    * INTEGER column. Column-level `PRIMARY KEY DESC` is NOT an alias
    * (per the spec's rowid-tables quirk list); the type must be exactly
    * INTEGER (`INT`/`BIGINT` columns do not alias). */
  private[sources] def rowidAliasOf(createSql: String): Option[String] = {
    val items = splitTopLevel(parenBody(createSql))
    val (constraints, colItems) = items.partition(isTableConstraint)
    val cols = colItems.map(splitIdent) // (name, type-and-constraints)
    def typeIsInteger(rest: String): Boolean =
      rest.split("\\s+|\\(", 2)(0).equalsIgnoreCase("INTEGER")
    // quoted literals removed before keyword search: a CHECK/DEFAULT
    // string containing the words "PRIMARY KEY" is data, not DDL
    def stripQuoted(s: String): String =
      s.replaceAll("'(?:[^']|'')*'", " ").replaceAll("\"(?:[^\"]|\"\")*\"", " ")
    val columnLevel = cols.collectFirst {
      case (name, rest)
        if typeIsInteger(rest) &&
          "(?i)\\bPRIMARY\\s+KEY\\b(?!\\s+DESC)".r.findFirstIn(stripQuoted(rest)).isDefined =>
        name
    }
    lazy val tableLevel = constraints.iterator.flatMap { c =>
      "(?is)^PRIMARY\\s+KEY\\s*\\((.*)\\)".r.findFirstMatchIn(c.trim)
        .map(_.group(1)) // single column only: a composite PK never aliases
        .filter(inner => splitTopLevel(inner).size == 1)
        .map(inner => splitIdent(inner.trim)._1)
        .flatMap(pk => cols.collectFirst {
          case (name, rest) if name.equalsIgnoreCase(pk) && typeIsInteger(rest) => name
        })
    }.nextOption()
    columnLevel.orElse(tableLevel)
  }

  /** Dynamic-typing coercion to the requested Spark field type. */
  private def coerce(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (l: java.lang.Long, LongType) => l
    case (l: java.lang.Long, IntegerType) => java.lang.Integer.valueOf(l.intValue())
    case (l: java.lang.Long, ShortType) => java.lang.Short.valueOf(l.shortValue())
    case (l: java.lang.Long, ByteType) => java.lang.Byte.valueOf(l.byteValue())
    case (l: java.lang.Long, DoubleType) => java.lang.Double.valueOf(l.doubleValue())
    case (d: java.lang.Double, DoubleType) => d
    case (d: java.lang.Double, FloatType) => java.lang.Float.valueOf(d.floatValue())
    case (d: java.lang.Double, LongType) => java.lang.Long.valueOf(d.longValue())
    case (s: String, StringType) => s
    case (b: Array[Byte], StringType) =>
      new String(b, StandardCharsets.UTF_8) // lossy decode, like db.py:17
    case (b: Array[Byte], BinaryType) => b
    case (other, StringType) => String.valueOf(other)
    case (other, t) =>
      throw new IllegalStateException(s"cannot coerce $other (${other.getClass}) to $t")
  }

  private def splitEvenly[A](xs: Vector[A], n: Int): Seq[Vector[A]] = {
    val per = math.ceil(xs.length.toDouble / n).toInt
    xs.grouped(math.max(1, per)).toSeq
  }
}

/** A SQLite file whose structure contradicts itself: a b-tree cycle, a
  * pointer past the last page, a cell or payload that cannot fit, a cell
  * count the page's content disagrees with, cells out of rowid order, a
  * record whose header does not match its bytes, a file cut short. Names
  * the file and the page that holds the bad value. A `RuntimeException`
  * (non-fatal), so a server answers it as a failed request. */
final class SqliteCorruptException(val path: String, val page: Long, detail: String)
  extends RuntimeException(s"$path: corrupt SQLite database at page $page: $detail")
