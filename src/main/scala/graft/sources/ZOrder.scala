package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) data layout — multi-dimensional locality for the
  * write path. A single-column sort gives parquet row-group pruning on
  * ONE dimension; interleaving the bits of two sort keys makes files
  * tight in BOTH dimensions at once, so predicates on either column (or
  * both) skip most files via footer min/max stats. This is the layout
  * trick behind Delta/Iceberg OPTIMIZE ZORDER, expressed as a pure
  * Column expression + repartitionByRange — no table format needed.
  *
  * The interleave is plain integer arithmetic (shift/mask/or per bit),
  * fully codegen'd, deterministic, and engine-portable. Keys are first
  * rank-normalized to [0, 2^bits) percentiles so skewed domains spread
  * evenly across the curve (raw values would collapse the curve onto a
  * few prefixes when one dimension is dense) — via driver-side quantile
  * cuts, NOT a global window: the whole path is map-side projection +
  * one range exchange, nothing serializes through a single task.
  */
object ZOrder {

  /** k-ary Morton code: bit j of column i lands at interleaved position
    * `j*k + i` — the general form behind Delta/Iceberg's multi-column
    * ZORDER BY lists. All inputs must be non-negative ints in
    * [0, 2^bits); `k·bits ≤ 63` keeps the key in one signed long. */
  def zValueN(cols: Seq[Column], bits: Int = 16): Column = {
    val k = cols.size
    require(k >= 2 && k * bits <= 63,
      s"need 2+ columns and k*bits <= 63, got k=$k bits=$bits")
    (for (b <- 0 until bits; i <- 0 until k) yield
      shiftright(cols(i), b).bitwiseAND(lit(1)).cast("long") *
        lit(1L << (b * k + i))
    ).reduce(_ + _)
  }

  /** Rank-equalizing bucket cuts for a column: `2^bits - 1` interior
    * quantile boundaries from ONE driver-side `approxQuantile` pass
    * (Greenwald-Khanna sketch — a sampling aggregate, the same machinery
    * `repartitionByRange` trusts for its bounds). The earlier form
    * rank-normalized with a GLOBAL `ntile` window, which serializes the
    * whole write batch through one task — the W1-class plan this repo
    * eliminates everywhere else; the quantile cuts keep the even-spread
    * property at O(sketch) driver bytes with no global sort anywhere. */
  private def quantileCuts(df: DataFrame, cols: Seq[String], bits: Int): Seq[Array[Double]] = {
    val n = 1 << bits
    val probs = (1 until n).map(_.toDouble / n).toArray
    df.stat.approxQuantile(cols.toArray, probs, 0.001).toSeq
  }

  /** Order-preserving numeric view of a z-key column — what both the
    * quantile pass and the per-row bucket expression rank on.
    * `approxQuantile` is numeric-only, so temporal types (the natural
    * z-keys of a log table) map through their epoch numbers; anything
    * else must be pre-derived by the caller (an unordered string has no
    * locality for a space-filling curve to preserve anyway). */
  private def numericView(df: DataFrame, c: String): Column = {
    import org.apache.spark.sql.types._
    df.schema(c).dataType match {
      case _: NumericType => col(c).cast("double")
      case TimestampType | TimestampNTZType =>
        unix_micros(col(c).cast(TimestampType)).cast("double")
      case DateType => unix_date(col(c)).cast("double")
      case other => throw new IllegalArgumentException(
        s"z-order key '$c' has non-rankable type $other: pre-derive a " +
          "numeric rank column (epoch, id, score) to z-order on")
    }
  }

  /** Bucket id in [0, cuts.length] via a BALANCED `when` tree over the
    * broadcast cut array — log2(n) comparisons per row, fully codegen'd
    * (no per-row array walk, no window). Nulls fall to bucket 0, where
    * the ascending sort would have put them. */
  private[sources] def bucketOf(v: Column, cuts: Array[Double]): Column = {
    def go(lo: Int, hi: Int): Column =
      if (lo == hi) lit(lo)
      else {
        val mid = (lo + hi + 1) / 2
        when(v >= cuts(mid - 1), go(mid, hi)).otherwise(go(lo, mid - 1))
      }
    go(0, cuts.length)
  }

  /** Write `df` z-ordered on (xCol, yCol): rank-normalize both keys to
    * [0, 2^bits) through the quantile cuts, interleave, and partition by
    * the CURVE QUADRANT (the top 4 interleaved bits = a 4×4 grid cell),
    * z-sorting within each file. Partitioning must align to quadrant
    * boundaries: equal-count range splits of the raw z value land
    * mid-quadrant, and a Morton segment that crosses a quadrant jump has
    * a bounding box spanning both — measured: unaligned 16-way splits
    * left single-dimension slices touching 11/16 files vs ≤ 6 with
    * aligned cells. Layout quality is asserted in `StorageSpec` (slices
    * on EITHER dim prune files; a linear sort prunes only its own). */
  def writeZOrdered(df: DataFrame, path: String, xCol: String, yCol: String,
                    bits: Int = 7): Unit =
    writeZOrderedN(df, path, Seq(xCol, yCol), bits)

  /** The k-column form — ZORDER BY (c1, c2, ..., ck). Locality per
    * dimension dilutes as k grows (each file's bounding hyper-rectangle
    * spans 2^(bits - prefixBits/k) ranks per dimension), which is why
    * real deployments z-order on 2-4 hot columns, not every column. */
  def writeZOrderedN(df: DataFrame, path: String, zCols: Seq[String],
                     bits: Int = 7): Unit = {
    // the layout makes TWO passes over the batch (the quantile sketch,
    // then the write) — persist around them so an expensive upstream
    // plan (a join/aggregate output being compacted) computes once.
    // Only cache what WE cached: unpersisting a frame the caller
    // persisted would silently evict their cache-manager entry.
    val own = df.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val cached =
      if (own) df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else df
    try zLayoutN(cached, zCols, bits)
      .write.mode("overwrite").parquet(path)
    finally if (own) cached.unpersist(blocking = false)
  }

  private[graft] def zLayout(df: DataFrame, xCol: String, yCol: String,
                             bits: Int = 7): DataFrame =
    zLayoutN(df, Seq(xCol, yCol), bits)

  /** The layout plan the writers write — exposed so `StorageSpec` can
    * pin its shape (quantile-cut projection + range exchange; NO Window
    * operator — the ntile form this replaced serialized the whole write
    * batch through one task). Files align to complete CURVE CELLS: the
    * partition key is the top `prefixBits` of z rounded to a MULTIPLE OF
    * k, so every cell is a full hyper-cube of the rank space —
    * equal-count range splits of raw z land mid-cell, and a Morton
    * segment crossing a cell jump has a bounding box spanning both
    * (measured: unaligned 16-way splits left single-dimension slices
    * touching 11/16 files vs ≤ 6 aligned). NOTE: building this plan runs
    * the quantile job over `df` eagerly; the writers persist around the
    * two passes. */
  private[graft] def zLayoutN(df: DataFrame, zCols: Seq[String],
                              bits: Int = 7): DataFrame = {
    val k = zCols.size
    require(bits >= 2, "need at least 2 bits per dimension")
    // 2^bits-leaf when-tree per dimension: cap where generated code stays
    // comfortably under JVM method limits (file-level skipping needs few
    // ranks — files per write ≪ 2^8 cells along one dimension)
    require(bits <= 8, s"bits=$bits: the bucket tree is 2^bits-wide; use <= 8")
    require(k >= 2 && k * bits <= 63,
      s"need 2+ z-columns and k*bits <= 63, got k=$k bits=$bits")
    val views = zCols.map(c => numericView(df, c))
    val ranked = views.zipWithIndex.foldLeft(df) { case (d, (v, i)) =>
      d.withColumn(s"_v$i", v)
    }
    val cuts = quantileCuts(ranked, zCols.indices.map(i => s"_v$i"), bits)
    val buckets = zCols.indices.map(i => bucketOf(col(s"_v$i"), cuts(i)))
    // top ~log2(16) bits of z, rounded UP to a multiple of k so every
    // partition cell is a complete hyper-cube of the rank space
    val prefixBits = k * math.ceil(4.0 / k).toInt
    val tmp = zCols.indices.map(i => s"_v$i") ++ Seq("_z", "_zq")
    ranked
      .withColumn("_z", zValueN(buckets, bits))
      .withColumn("_zq", shiftright(col("_z"), k * bits - prefixBits))
      .repartitionByRange(16, col("_zq"), col("_z"))
      .sortWithinPartitions("_z")
      .drop(tmp: _*)
  }
}
