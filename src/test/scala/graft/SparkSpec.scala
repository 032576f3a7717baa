package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites — one JVM-wide session (Spark
  * sessions are expensive; ScalaTest suites run sequentially here). Built
  * with the as-of planner like every `graft.Session`, so no suite's
  * optimizer depends on which suites ran before it. */
object SharedSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
  import scala.jdk.CollectionConverters._

  def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(r => r.toSeq)

  def df(schemaDdl: String, rows: Seq[org.apache.spark.sql.Row]): DataFrame =
    spark.createDataFrame(rows.asJava,
      org.apache.spark.sql.types.StructType.fromDDL(schemaDdl))
}
