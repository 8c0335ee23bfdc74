package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout operators for scan pruning at scale. The reference sorts
  * on ONE key per run (`/root/reference/cmd/sorter/main.go:23-27`); a
  * 100 TB lake queried on several dimensions instead clusters files on a
  * space-filling curve so min/max footer stats prune scans for range
  * predicates on ANY participating column — the standard Z-ORDER
  * technique of Delta/Iceberg-style table layouts.
  */
object Layout {

  /** Morton (Z-curve) value: interleave the low `bits` bits of x and y
    * (x gets the even bit positions, y the odd). Pure column expression —
    * 2·bits shift/mask terms, whole-stage codegen'd, no UDF. Inputs must
    * already be non-negative and < 2^bits (use pmod / width_bucket to
    * normalize). */
  def zValue(x: Column, y: Column, bits: Int): Column = {
    require(bits > 0 && bits <= 31, s"bits must be in [1, 31], got $bits")
    (0 until bits).flatMap { i =>
      Seq(
        shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i),
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_.bitwiseOR(_))
  }

  /** Small-file compaction — the maintenance pass every long-lived lake
    * needs: streaming/incremental ingest leaves thousands of tiny files
    * per partition, and at 100 TB the scan's task-scheduling and footer
    * overhead comes to dominate (1 M files × ~1 ms planning ≫ the read).
    * Rewrites a fragmented directory into ~`targetFiles` outputs:
    * `coalesce` narrows partitions WITHOUT a shuffle (the cheap default;
    * output sizes mirror input skew), `shuffle=true` pays one exchange
    * for even sizes. `maxRecordsPerFile` caps any single output file so
    * a skewed coalesce cannot recreate the problem as one giant file. */
  def compact(spark: org.apache.spark.sql.SparkSession,
              inDir: String, outDir: String, targetFiles: Int,
              shuffle: Boolean = false, maxRecordsPerFile: Long = 0L): Unit = {
    require(targetFiles > 0, s"targetFiles must be positive, got $targetFiles")
    // in-place compaction is unsupported: overwriting the directory
    // being read fails at write time at best, and on sources that don't
    // detect self-overwrite it destroys the input — fail fast instead
    require(new org.apache.hadoop.fs.Path(inDir) !=
        new org.apache.hadoop.fs.Path(outDir),
      s"compact cannot write into its input directory ($inDir); " +
        "choose a different outDir and swap after the rewrite")
    val in = graft.sources.Tables.parquet(spark, inDir)
    val sized = if (shuffle) in.repartition(targetFiles) else in.coalesce(targetFiles)
    val writer = sized.write.mode("overwrite")
    (if (maxRecordsPerFile > 0)
       writer.option("maxRecordsPerFile", maxRecordsPerFile)
     else writer).parquet(outDir)
  }

  /** Cluster `df` by the Z-value of two (normalized) dimension columns:
    * range-partition + sort on (z, tiebreak) so each output partition
    * covers a compact rectangle of (x, y) space — both dimensions' file
    * min/max stats become selective. The curve math is a projection; the
    * one exchange is the range partitioning any clustered write pays.
    * Partition count controls the rectangle granularity: each of the
    * `numPartitions` z-ranges fixes ~log2(numPartitions) leading
    * interleaved bits, halving each dimension's span every TWO
    * partitions-doublings (sampled range boundaries can straddle a bit
    * flip, so edge partitions may span up to 2× the ideal rectangle). */
  def zOrderBy(df: DataFrame, x: Column, y: Column, bits: Int,
               tiebreak: Column, numPartitions: Int = 0): DataFrame = {
    val z = df.withColumn("__z", zValue(x, y, bits))
    val ranged =
      if (numPartitions > 0) z.repartitionByRange(numPartitions, col("__z"), tiebreak)
      else z.repartitionByRange(col("__z"), tiebreak)
    ranged.sortWithinPartitions(col("__z"), tiebreak)
  }
}
