package graft

import org.apache.spark.sql.DataFrame
import graft.operators.Similarity

/** Measured-recall FLOORS for the approximate kNN variants (round-10
  * verdict depth item 3): SCALE.md's recall table has the numbers;
  * this suite makes a regression FAIL. The fixture is seeded clustered
  * data — 16 well-separated gaussian clusters, the regime ANN structures
  * exploit — because recall guarantees are manifold-dependent: on i.i.d.
  * gaussian noise (the sf0.1 probe corpus) hyperplane LSH floors at
  * ~0.4 by construction and no threshold is meaningful. On clustered
  * data a real regression (probe set broken, shortlist starved, codebook
  * training diverging) drops recall far below these floors, while
  * legitimate parameter jitter does not. */
class SimilarityRecallSpec extends SparkSpec {

  private val dim = 64
  private val nClusters = 16
  private val perCluster = 40

  /** 640 vectors in 16 tight clusters (noise σ=0.15 around N(0,1)
    * centers ⇒ same-cluster cosines ≈ 1), seeded — identical across
    * runs. vec_ids 0..4 are members of five DIFFERENT clusters, so each
    * query's true top-10 is its own cluster's members. */
  private lazy val emb: DataFrame = {
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(nClusters, dim)(rnd.nextGaussian())
    val rows = for {
      c <- 0 until nClusters
      p <- 0 until perCluster
    } yield {
      val v = Array.tabulate(dim)(d => (centers(c)(d) + 0.15 * rnd.nextGaussian()).toFloat)
      (c, p, v)
    }
    // queries 0..4 ← first member of clusters 0..4; remaining ids follow
    val (queries, others) = rows.partition { case (c, p, _) => c < 5 && p == 0 }
    val ordered = queries ++ others
    import spark.implicits._
    ordered.zipWithIndex
      .map { case ((c, _, v), id) => (id.toLong, v, c) }
      .toDF("vec_id", "embedding", "label")
  }

  private def neighbors(df: DataFrame): Map[Long, Set[Long]] =
    df.select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

  private lazy val truth: Map[Long, Set[Long]] = neighbors(Similarity.knnBrute(emb, 5, 10))

  private def recallOf(df: DataFrame): Double = {
    val approx = neighbors(df)
    truth.map { case (q, t) =>
      approx.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
    }.sum / truth.size
  }

  test("ground truth is cluster-structured: each query's top-10 is same-cluster") {
    val labelOf = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    for ((q, ns) <- truth) {
      assert(ns.size == 10)
      assert(ns.forall(n => labelOf(n) == labelOf(q)),
        s"query $q's brute top-10 must stay inside its cluster")
    }
  }

  test("s06 multiprobe LSH recall@10 >= 0.9 on clustered data") {
    val r = recallOf(Similarity.knnLshMultiprobe(emb, 5, 10, planes = 4, radius = 1))
    assert(r >= 0.9, f"multiprobe recall regressed: $r%.3f < 0.9")
  }

  test("s08 PQ+ADC recall@10 >= 0.8 on clustered data") {
    val r = recallOf(Similarity.knnPq(emb, 5, 10))
    assert(r >= 0.8, f"PQ recall regressed: $r%.3f < 0.8")
  }

  test("s05 trained IVF recall@10 >= 0.9 on clustered data") {
    val r = recallOf(Similarity.knnIvfTrained(emb, 5, 10))
    assert(r >= 0.9, f"trained-IVF recall regressed: $r%.3f < 0.9")
  }

  test("adaptivePlanes cap equals the oracle's generated-term count (24)") {
    // the s09/s10 oracle SQL generates exactly 24 bit terms per table
    // (Oracles.adaptiveBandedBuckets(24, 4)); if the engine's cap ever
    // exceeds that, buckets silently diverge for corpora past
    // 64·2^24 vectors and verify would misreport it as an engine bug
    assert(Similarity.adaptivePlanes(Long.MaxValue) == 24)
    assert(Similarity.adaptivePlanes(64L << 24) == 24)
    // below the cap the integer schedule matches ceil(log2(n/64)) with
    // floor 4 — the formula the SQL side evaluates
    for (n <- Seq(1L, 64L, 65L, 1024L, 1025L, 2000L, 1000000L)) {
      val expect = math.max(4, math.ceil(math.log(n / 64.0) / math.log(2.0)).toInt)
      assert(Similarity.adaptivePlanes(n) == math.min(24, expect), s"n=$n")
    }
  }
}
