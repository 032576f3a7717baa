package graft

import graft.operators._

/** Verify runs every query blind — no operator may throw on an empty
  * relation (reference contract: sentinels, FIXTURES.md §5 row 1). This
  * sweeps EVERY SparkEntry query against empty inputs. */
class EmptyInputSpec extends SparkSpec {

  private lazy val emptyDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_empty").toString
    // same schemas as the testdata, zero rows; events.ts is
    // TIMESTAMP(NANOS) in the source so the legacy conf must be on
    // before the direct read (Tables sets it for its own reads)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = "/root/testdata/sf0.001"
    for (t <- Seq("events", "documents", "embeddings", "lineitem", "orders",
      "customer", "supplier", "part", "nation", "region")) {
      spark.read.parquet(s"$src/$t.parquet").limit(0)
        .write.parquet(s"$dir/$t.parquet")
    }
    dir
  }

  test("every registered query executes on empty tables") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try { fn(spark, emptyDir).count(); None }
      catch { case e: Throwable => Some(s"$name: ${e.getMessage.take(120)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("empty-input row-count expectations for representative operators") {
    val prep = Preprocess.preprocessEvents(Tables.events(spark, emptyDir))
    assert(Stats.totals(prep).head.getLong(0) == 0)     // 1 sentinel row
    assert(PlotData.gapFilledByStatus(prep).count() == 0) // empty grid, no throw
    assert(Streaks.streakRunsScalable(prep, "Blocked").count() == 0)
    assert(Streaks.sessionize(prep).count() == 0)
    val docs = Tables.documents(spark, emptyDir)
    assert(Dedup.lshCandidates(docs).count() == 0)
    assert(Dedup.jaccardVerified(docs, 0.8).count() == 0)
    assert(TextAnalysis.langId(docs).count() == 0)
    val emb = Tables.embeddings(spark, emptyDir)
    assert(Similarity.knnBrute(emb, 5, 10).count() == 0)
    assert(Similarity.knnIvf(emb, 5, 10).count() == 0)
  }
}
