package graft

import org.apache.spark.sql.Row
import graft.operators.{ConnectedComponents, Dedup}

class ConnectedComponentsSpec extends SparkSpec {

  private def pairsDf(ps: Seq[(Long, Long)]) =
    df("i BIGINT, j BIGINT", ps.map(p => Row(p._1, p._2)))
  private def nodesDf(ns: Seq[Long]) =
    df("node BIGINT", ns.map(Row(_)))

  test("transitive chain collapses to one component; isolated nodes self-label") {
    // chain 1-2-3-4 plus pair 10-11 plus isolated 20
    val labels = ConnectedComponents
      .minLabel(nodesDf(Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L)),
        pairsDf(Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("propagation direction is symmetric: min id at the chain's far end still wins") {
    // min node 1 sits at the END of the chain 5-4-3-2-1
    val labels = ConnectedComponents
      .minLabel(nodesDf(Seq(1L, 2L, 3L, 4L, 5L)),
        pairsDf(Seq((4L, 5L), (3L, 4L), (2L, 3L), (1L, 2L))))
      .collect().map(r => r.getLong(1)).toSet
    assert(labels == Set(1L))
  }

  test("refuses to return partially-propagated labels when maxIter is too low") {
    // a 6-node chain has diameter 5: 2 rounds cannot finish propagation
    val chain = (1L to 5L).map(i => (i, i + 1))
    assertThrows[IllegalStateException] {
      ConnectedComponents.minLabel(nodesDf(1L to 6L), pairsDf(chain), maxIter = 2)
    }
    // and the same graph converges with enough rounds
    val ok = ConnectedComponents.minLabel(nodesDf(1L to 6L), pairsDf(chain), maxIter = 10)
      .collect().map(_.getLong(1)).toSet
    assert(ok == Set(1L))
  }

  test("verified clusters refine candidate clusters (verification only removes edges)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val cand = Dedup.dupClusters(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val verified = Dedup.verifiedClusters(docs, 0.8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // fewer edges → no new members, and docs clustered together after
    // verification were already together before it
    assert(verified.keySet.subsetOf(cand.keySet))
    verified.groupBy(_._2).values.foreach { members =>
      assert(members.keys.map(cand).toSet.size == 1,
        "a verified cluster must sit inside one candidate cluster")
    }
  }

  test("size-gated driver union-find equals the distributed iteration on random graphs") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val n = 40
      val pairs = Seq.fill(35)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2)
      // driver fold (gate passes at this size)
      val folded = ConnectedComponents.minLabelOverEndpoints(pairsDf(pairs))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // force the distributed path with a zero gate
      val iterated = ConnectedComponents
        .minLabelOverEndpoints(pairsDf(pairs), maxIter = 40, driverFoldMax = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(folded == iterated, s"trial=$trial")
    }
    // long chain: union-find has no diameter bound — 500-node chain folds
    // to min 1 without touching maxIter
    val chain = (1L until 500L).map(i => (i, i + 1))
    val labels = ConnectedComponents.minLabelOverEndpoints(pairsDf(chain))
      .collect().map(_.getLong(1)).toSet
    assert(labels == Set(1L))
  }

  test("dupClusters groups exact-duplicate texts transitively with sizes") {
    val docs = df("doc_id BIGINT, text STRING",
      Seq(Row(0L, "alpha beta gamma delta epsilon"),
        Row(1L, "alpha beta gamma delta epsilon"),
        Row(2L, "alpha beta gamma delta epsilon"),
        Row(3L, "one two three four five"),
        Row(4L, "completely different words here now")))
    val out = Dedup.dupClusters(docs).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((0L, 0L, 3L), (1L, 0L, 3L), (2L, 0L, 3L)))
  }
}
