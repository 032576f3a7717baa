package graft

import org.apache.spark.sql.functions._
import graft.operators.Stats

/** Sketch scale-paths: accuracy bounds that make them usable stand-ins
  * for the exact operators at 100 TB. */
class SketchSpec extends SparkSpec {

  private lazy val prep = FtlFixture.prep(spark, 9, 3000)

  test("HLL daily rollup estimate is within 5% of the exact distinct count") {
    val exact = prep.select(countDistinct("domain")).head.getLong(0)
    val est = Stats.hllDailyDomains(prep).head.getLong(1)
    assert(math.abs(est - exact).toDouble / exact < 0.05, s"est=$est exact=$exact")
  }

  test("approx_count_distinct is within its documented error bound") {
    // a11_approx_distinct: exact counts plus |est − exact| ≤ ε·exact
    val r = Stats.approxDistinctChecked(prep, eps = 0.1).head
    assert(r.getLong(1) == prep.select(countDistinct("client")).head.getLong(0))
    assert(r.getBoolean(2) && r.getBoolean(3), r)
  }

  test("count-min sketch frequency estimates are upper bounds that are tight for heavy hitters") {
    val cmsRow = prep.agg(
      count_min_sketch(col("domain"), lit(0.01), lit(0.99), lit(42)).as("cms")).head
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(cmsRow.getAs[Array[Byte]](0)))
    val trueCounts = prep.groupBy("domain").count()
      .orderBy(desc("count"), asc("domain")).limit(5)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    trueCounts.foreach { case (d, c) =>
      val est = cms.estimateCount(d)
      assert(est >= c, s"CMS must never under-count: $d $est < $c")
      assert(est <= c + (0.01 * 3000).toLong, s"CMS too loose for heavy hitter $d")
    }
  }

  test("CMS daily rollup: merged per-day sketches bound the top-N exact counts") {
    val out = Stats.cmsDomainEstimates(prep).collect()
    assert(out.length == 10)
    out.foreach { r =>
      val (exact, est) = (r.getAs[Long]("exact_cnt"), r.getAs[Long]("cms_est"))
      assert(est >= exact, s"merged CMS under-counted ${r.getString(0)}: $est < $exact")
      // ε=0.001 at 3000 rows → ±3; deterministic given the fixed seed
      assert(est <= exact + 3, s"merged CMS too loose for ${r.getString(0)}")
    }
    val again = Stats.cmsDomainEstimates(prep).collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq, "must be deterministic")
  }

  test("CMS oracle arithmetic: the masked-UBIGINT murmur mirror matches the Java sketch under forced collisions") {
    // Oracles.CmsSql transcribes Murmur3_x86_32 into SQL as unsigned-64
    // arithmetic: multiplies masked % 2^32, rotations as two disjoint
    // shift halves ADDED, >>> as integer division, signed-% recovered by
    // two's-complement reinterpretation. This test runs the SAME
    // transcription in Scala (BigInt-free: Long with masks, exactly the
    // value domain UBIGINT gives DuckDB) and checks estimateCount parity
    // with the real org.apache.spark.util.sketch at width 10, where 100
    // domains MUST collide — so a bucket-choice bug cannot hide behind a
    // collision-free sketch the way it could at width 2000.
    val M = 0xFFFFFFFFL
    def mixK1(w0: Long): Long = {
      val a = (w0 * 3432918353L) & M
      val rot = ((a << 15) & M) + (a >>> 17)
      (rot * 461845907L) & M
    }
    def mixH1(h: Long, k1: Long): Long = {
      val x = h ^ k1
      val rot = ((x << 13) & M) + (x >>> 19)
      (rot * 5L + 3864292196L) & M
    }
    def fmix(h0: Long, ln: Long): Long = {
      var h = h0 ^ ln
      h ^= h >>> 16; h = (h * 2246822507L) & M
      h ^= h >>> 13; h = (h * 3266489909L) & M
      h ^ (h >>> 16)
    }
    def murmur(bytes: Array[Byte], seed: Long): Long = {
      val la = bytes.length - bytes.length % 4
      var h = seed & M
      var i = 0
      while (i < la) {
        val w = (bytes(i) & 0xFFL) | ((bytes(i + 1) & 0xFFL) << 8) |
          ((bytes(i + 2) & 0xFFL) << 16) | ((bytes(i + 3) & 0xFFL) << 24)
        h = mixH1(h, mixK1(w)); i += 4
      }
      while (i < la + bytes.length % 4) {
        // signed byte widened to int, then masked to the 32-bit domain —
        // the sketch feeds Platform.getByte (signed) into mixK1
        h = mixH1(h, mixK1(bytes(i).toLong & M)); i += 1
      }
      fmix(h, bytes.length.toLong)
    }
    val width = 10; val depth = 7
    def buckets(s: String): Seq[Int] = {
      val b = s.getBytes("UTF-8")
      val h1 = murmur(b, 0L)
      val h2 = murmur(b, h1)
      (0 until depth).map { i =>
        val u = (h1 + i * h2) & M
        val signed = if (u >= 0x80000000L) u - 0x100000000L else u
        (math.abs(signed) % width).toInt
      }
    }
    val doms = (0 until 100).map(k => s"""{"k": $k}""")
    // real sketch at eps=0.2 (width 10): guaranteed collisions
    val sk = org.apache.spark.util.sketch.CountMinSketch.create(0.2, 0.99, 42)
    doms.zipWithIndex.foreach { case (d, i) => sk.add(d, i + 1L) }
    assert(sk.depth() == depth && sk.width() == width)
    // mirror table, built with the transcribed arithmetic
    val table = Array.fill(depth, width)(0L)
    doms.zipWithIndex.foreach { case (d, i) =>
      buckets(d).zipWithIndex.foreach { case (b, row) => table(row)(b) += i + 1L }
    }
    doms.foreach { d =>
      val est = buckets(d).zipWithIndex.map { case (b, row) => table(row)(b) }.min
      assert(est == sk.estimateCount(d), s"bucket mirror diverged for $d")
    }
    // and at the production shape the estimates collide rarely — every
    // mirror estimate must still equal the real sketch's
    val sk2 = org.apache.spark.util.sketch.CountMinSketch.create(0.001, 0.99, 42)
    doms.zipWithIndex.foreach { case (d, i) => sk2.add(d, i + 1L) }
    val w2 = sk2.width()
    val t2 = Array.fill(sk2.depth(), w2)(0L)
    def buckets2(s: String): Seq[Int] = {
      val b = s.getBytes("UTF-8")
      val h1 = murmur(b, 0L); val h2 = murmur(b, h1)
      (0 until sk2.depth()).map { i =>
        val u = (h1 + i * h2) & M
        val signed = if (u >= 0x80000000L) u - 0x100000000L else u
        (math.abs(signed) % w2).toInt
      }
    }
    doms.zipWithIndex.foreach { case (d, i) =>
      buckets2(d).zipWithIndex.foreach { case (b, row) => t2(row)(b) += i + 1L }
    }
    doms.foreach { d =>
      val est = buckets2(d).zipWithIndex.map { case (b, row) => t2(row)(b) }.min
      assert(est == sk2.estimateCount(d), s"production-shape mirror diverged for $d")
    }
  }

  test("percentile_approx stays within its rank-error guarantee vs the exact percentile") {
    // approx_percentile(acc) guarantees a result whose RANK is within
    // n/acc of the target rank — the scale swap a23 documents. Verify by
    // rank, not value: find the exact ranks of the approx answers.
    import org.apache.spark.sql.functions._
    val prep = FtlFixture.prep(spark, 3, 4000).filter(col("reply_time").isNotNull)
    val acc = 100
    val n = prep.count()
    val sorted = prep.select("reply_time").collect().map(_.getDouble(0)).sorted
    for (p <- Seq(0.5, 0.9, 0.99)) {
      val approx = prep.agg(
        expr(s"approx_percentile(reply_time, $p, $acc)")).head.getDouble(0)
      // rank of the approx answer in the exact ordered data
      val rank = sorted.count(_ <= approx)
      val target = p * n
      assert(math.abs(rank - target) <= n.toDouble / acc + 1,
        s"p=$p approx=$approx rank=$rank target=$target n=$n")
    }
  }
}
