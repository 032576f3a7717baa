package graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import graft.functions._

class ExtensionsSpec extends SparkSpec {

  test("native expressions: values, edge cases and analysis-time type errors") {
    def arr(xs: Column*): Column = array(xs: _*)
    def tokens(s: String): Column = split(lit(s), " ")
    def one(c: Column) = spark.range(1).select(c.as("v")).head
    def analysisError(c: Column): String =
      intercept[Exception](spark.range(1).select(c).collect()).getMessage.toLowerCase
    assert(one(dot_product(arr(lit(1.0), lit(2.0)), arr(lit(3.0), lit(4.0)))).getDouble(0) == 11.0)
    // mixed float×double dot is exact widening — same value as all-double
    assert(one(dot_product(arr(lit(1.5f), lit(2.5f)), arr(lit(3.0), lit(4.0))))
      .getDouble(0) == 1.5 * 3.0 + 2.5 * 4.0)
    // integer elements are rejected at analysis, ragged vectors at runtime
    assert(analysisError(dot_product(arr(lit(1.0)), arr(lit(1)))).contains("dot_product"))
    val ragged = intercept[Exception] {
      one(dot_product(arr(lit(1.0), lit(2.0)), arr(lit(3.0))))
    }
    assert(Iterator.iterate(ragged: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("length mismatch")), ragged)
    // the n-gram pair: distinct (set) vs word_ngrams (multiset, ordered)
    assert(one(distinct_shingles(tokens("a b a b c"), 2)).getSeq[String](0) ==
      Seq("a b", "b a", "b c"))
    assert(one(word_ngrams(tokens("a b a b c"), 2)).getSeq[String](0) ==
      Seq("a b", "b a", "a b", "b c"))
    // null array elements follow concat_ws semantics (skipped, no NPE)
    assert(one(distinct_shingles(arr(lit("a"), lit(null).cast("string"), lit("b"), lit("c")), 3))
      .getSeq[String](0) == Seq("a b", "b c"))
    // the struct sibling: each struct's prev/cur ARE the gram's members
    assert(one(word_bigram_structs(tokens("a b a b c"))).getSeq[Row](0)
      .map(r => (r.getString(0), r.getString(1), r.getString(2))) ==
      Seq(("a b", "a", "b"), ("b a", "b", "a"), ("a b", "a", "b"), ("b c", "b", "c")))
    // a 1-token array has no pair
    assert(one(word_ngrams(arr(lit("x")), 2)).getSeq[String](0).isEmpty)
    assert(one(word_bigram_structs(arr(lit("x")))).getSeq[Row](0).isEmpty)
    // wrong-typed input rejected at ANALYSIS, not misread at runtime
    val ints = arr(lit(1), lit(2), lit(3))
    assert(analysisError(distinct_shingles(ints, 3)).contains("distinct_shingles"))
    assert(analysisError(word_ngrams(ints, 2)).contains("word_ngrams"))
    assert(analysisError(word_bigram_structs(ints)).contains("word_bigram_structs"))
  }

  test("dynamic partition pruning: dim filter reaches the partitioned fact scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    val d = "/root/testdata/sf0.001"
    // partition the fact by a join-key-derived column, then join against
    // a FILTERED dim — at 100 TB the scan must prune partitions from the
    // dim filter at RUNTIME (the predicate is not known statically)
    Tables.orders(spark, d)
      .withColumn("o_bucket", (col("o_custkey") % 10).cast("int"))
      .write.partitionBy("o_bucket").parquet(s"$dir/orders")
    val fact = spark.read.parquet(s"$dir/orders")
    val dim = Tables.customer(spark, d)
      .withColumn("c_bucket", (col("c_custkey") % 10).cast("int"))
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_bucket").distinct()
    val conf = spark.conf
    val saved = Seq("spark.sql.optimizer.dynamicPartitionPruning.enabled",
      "spark.sql.optimizer.dynamicPartitionPruning.useStats")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
      conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
      val joined = fact.join(dim, col("o_bucket") === col("c_bucket"))
        .groupBy("o_bucket").count()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning"), plan.take(600))
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
