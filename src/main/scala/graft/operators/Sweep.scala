package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Distributed sweep-line primitives: a scalable running (prefix) sum
  * over a total order, and interval-concurrency analysis built on it.
  *
  * The naive formulation — `sum(x) OVER (ORDER BY …)` with no
  * PARTITION BY — funnels the entire dataset through ONE task (Spark
  * even warns: "No Partition Defined for Window operation"). The shape
  * here is the classic zipWithIndex two-pass split, generalized from
  * row counting to an arbitrary additive measure (global ids,
  * [[Sorting.globalIds]], are its running count of 1 per row):
  *
  *  1. range-partition + sort within partitions on the order keys (the
  *     same single exchange any global ordering pays);
  *  2. collect ONE partial sum per partition (driver state = P longs,
  *     never the data) and prefix-scan them into per-partition offsets;
  *  3. per-partition imperative pass: running value = local running sum
  *     + the partition's offset, in parallel across partitions.
  *
  * Both passes run over the SAME RDD instance, so the range boundaries
  * are sampled once and the second pass reuses the first's shuffle
  * files (nothing pinned in executor memory; shuffle files are on local
  * disk and stage-retry-recoverable). The per-partition fold is exactly
  * the "genuine per-partition imperative logic" case where dropping to
  * the RDD API is warranted. At 100 TB this is THE way to compute
  * cumulative metrics (running totals, sweep-line counters, watermark
  * curves): the single-partition window dies at one executor's memory,
  * this scales with the cluster.
  */
object Sweep {

  /** Adds `outCol` = cumulative sum of `delta` in the total order given
    * by `order` (which must be total — include a unique tiebreak, or
    * values within ties are partition-placement-dependent). `delta`
    * must evaluate non-null on every row (coalesce a nullable measure
    * to 0 at the call site): a null would otherwise surface as an
    * opaque NPE deep inside the partition fold, so it is rejected with
    * a clear error instead. */
  def runningSum(df: DataFrame, delta: Column, outCol: String,
                 order: Column*): DataFrame = {
    val spark = df.sparkSession
    require(!df.columns.contains("__delta"),
      "runningSum uses '__delta' as a reserved internal column; rename it")
    val ranged = df.withColumn("__delta",
        when(delta.cast("long").isNull, raise_error(
          lit("runningSum: delta evaluated to null; coalesce nullable measures to 0")))
        .otherwise(delta.cast("long")))
      .repartitionByRange(order: _*)
      .sortWithinPartitions(order: _*)
    val di = ranged.schema.fieldIndex("__delta")
    val rdd = ranged.rdd // ONE instance: boundaries sampled once, shuffle reused
    val partSums = rdd.mapPartitionsWithIndex { (i, it) =>
      Iterator((i, it.foldLeft(0L)((a, r) => a + r.getLong(di))))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = partSums.scanLeft(0L)(_ + _)
    val out = rdd.mapPartitionsWithIndex { (i, it) =>
      var run = offsets(i)
      it.map { r =>
        run += r.getLong(di)
        Row.fromSeq(r.toSeq.patch(di, Nil, 1) :+ run)
      }
    }
    val schema = org.apache.spark.sql.types.StructType(
      ranged.schema.fields.patch(di, Nil, 1))
      .add(outCol, LongType, nullable = false)
    spark.createDataFrame(out, schema)
  }

  /** Interval concurrency via sweep line: for every interval, how many
    * intervals (itself included) are open at the instant it starts.
    * Inclusive-end semantics: an interval ending at t still overlaps one
    * starting at t (at equal timestamps, +1 deltas are processed before
    * −1 — the `delta DESC` leg of the order).
    *
    * `keyCols` must make each interval row unique (they complete the
    * total order, so the running values are deterministic under ties).
    * Returns the start-event rows only: (keyCols…, startCol, endCol,
    * concurrent). The delta relation is 2 rows per interval; the whole
    * pass is one [[runningSum]] — no self-join, no pair blowup, linear
    * in the interval count at any scale. */
  def concurrency(intervals: DataFrame, startCol: String, endCol: String,
                  keyCols: String*): DataFrame = {
    val keep = keyCols.map(col) :+ col(startCol) :+ col(endCol)
    val starts = intervals.select(keep: _*)
      .withColumn("__t", col(startCol)).withColumn("__d", lit(1L))
    val ends = intervals.select(keep: _*)
      .withColumn("__t", col(endCol)).withColumn("__d", lit(-1L))
    val order = col("__t") +: col("__d").desc +: keyCols.map(col) :+ col(startCol)
    val swept = runningSum(starts.unionByName(ends), col("__d"), "concurrent",
      order: _*)
    swept.filter(col("__d") === 1L)
      .select(keep :+ col("concurrent"): _*)
  }
}
