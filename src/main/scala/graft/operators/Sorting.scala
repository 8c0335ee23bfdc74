package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Total-order sort — the reference engine's entire capability surface.
  *
  * The reference (`internal/sort/external_sort.go:61-201,292-363`) hand-rolls
  * a two-phase external merge sort: chunk → in-memory sort → spill →
  * k-way min-heap merge, under a ~2 GB cap. In Spark that whole file is the
  * built-in `SortExec`: `orderBy` range-partitions the input (sampled range
  * boundaries ⇒ balanced partitions at any scale), sorts each partition with
  * the Tungsten `UnsafeExternalSorter` (which spills sorted runs and merges
  * them with a priority queue — byte-for-byte the reference's design, but
  * memory-pressure-driven and codegen'd), and the partition index gives the
  * global order. On a 1000-executor cluster the same plan holds: the range
  * exchange is the only shuffle, and each output partition is written
  * independently — no single-node merge bottleneck like the reference's
  * one Kafka sink (its own README flags that limit, `README.md:539-542`).
  *
  * Semantics preserved (SURVEY.md §2.3):
  *  - numeric keys sort as numbers, never strings ("10" < "9" trap);
  *  - string keys use Spark's default UTF8String *binary* comparison ≙ Go
  *    `<` on bytes (`external_sort.go:146-147`) — no ICU collation;
  *  - full payload passthrough — no columns projected away;
  *  - the reference sort is unstable with no tie-break (`sort.Slice`,
  *    `external_sort.go:140`), so graded variants take extra tie-break keys
  *    to make output deterministic for hash comparison.
  */
object Sorting {

  /** Globally total-ordered copy of `df` — ≙ `ExternalSort`
    * (`external_sort.go:69-201`). Payload passthrough: all columns kept. */
  def totalSort(df: DataFrame, keys: Column*): DataFrame =
    df.orderBy(keys: _*)

  /** Total sort for LOW-CARDINALITY keys (the reference's `continent`: 6
    * values over 50 M rows): a plain `orderBy(key)` range-partitions into
    * at most |distinct keys| non-empty partitions, capping parallelism at
    * 6 regardless of cluster size. Appending a hash tiebreak spreads each
    * key's ties over all partitions while keeping the key sequence
    * globally ordered. Valid exactly because the reference sort is
    * UNSTABLE (SURVEY.md §2.3 trap 3 — within-key order is unspecified);
    * use [[totalSort]] with explicit tie-break keys when determinism is
    * required (e.g. oracle-compared queries). */
  def totalSortSpread(df: DataFrame, key: Column, tiebreakInput: Column): DataFrame =
    df.orderBy(key, xxhash64(tiebreakInput))

  /** Contiguous global ids 0..N−1 in total `order` without a
    * single-partition window. `row_number() OVER (ORDER BY …)` — the
    * naive formulation — funnels ALL rows through one task; this is a
    * running count instead: [[Sweep.runningSum]] of 1 per row, shifted
    * down by one. That is the classic zipWithIndex two-pass (one range
    * exchange, one long per partition on the driver, a parallel
    * numbering pass over the same shuffle files), so driver state is the
    * partition count, never the data. The order must be total (include
    * a unique tiebreak) or ids within ties are partition-placement-
    * dependent. */
  def globalIds(df: DataFrame, order: Column*): DataFrame =
    Sweep.runningSum(df, lit(1L), "gid", order: _*)
      .withColumn("gid", col("gid") - 1L)

  /** Top-k by key — the scalable replacement for "sort then take first k":
    * Spark plans `orderBy.limit` as `TakeOrderedAndProject`, a per-partition
    * bounded heap + driver-side merge of k rows — no global shuffle at all. */
  def topK(df: DataFrame, k: Int, keys: Column*): DataFrame =
    df.orderBy(keys: _*).limit(k)

  /** Order-validation as a query — the reference's `test_validation.sh`
    * monotonicity check (`scripts/test_validation.sh:38-55,87-104`) done
    * properly: over ALL rows (not a 1000-row sample) count adjacent
    * inversions of `key` in the (ascending) order given by `ord`, and
    * report the row count for conservation checking (the reference never
    * did — SURVEY.md §5.1). Returns one row `(n_rows, n_inversions)`;
    * sorted input ⇒ `n_inversions = 0`.
    *
    * Scale design: a naive `lag` over a global `Window.orderBy` funnels
    * the whole dataset through ONE partition. Instead the sequence is
    * range-partitioned on `ord`; adjacent pairs are then either inside a
    * partition (counted by a per-partition window) or across one
    * partition seam (one `min_by`/`max_by` row per partition, joined
    * pid→pid+1). Every stage is distributed; the seam check touches
    * #partitions rows, not N. */
  def monotonicCheck(df: DataFrame, key: Column, ord: Column*): DataFrame = {
    val t = df
      .withColumn("__k", key)
      .withColumn("__ord", struct(ord: _*))
      .repartitionByRange(ord: _*)
      .withColumn("__pid", spark_partition_id())
    val w = Window.partitionBy(col("__pid")).orderBy(col("__ord"))
    val perPart = t
      .withColumn("__prev", lag(col("__k"), 1).over(w))
      .groupBy(col("__pid"))
      .agg(
        count(lit(1)).as("n"),
        count(when(col("__prev") > col("__k"), 1)).as("inv"),
        min_by(col("__k"), col("__ord")).as("first_k"),
        max_by(col("__k"), col("__ord")).as("last_k"))
    // Seam check via lead over the per-partition summary (≤ #partitions
    // rows — the single-partition window is bounded by config, not data;
    // Spark's "No Partition Defined for Window operation" WARN on this
    // stage is expected and benign for exactly that reason).
    // NOT a pid→pid+1 self-join: range partitioning can leave a partition
    // empty, and a gap in pids would silently skip that boundary.
    val seams = perPart
      .withColumn("__next_first",
        lead(col("first_k"), 1).over(Window.orderBy(col("__pid"))))
      .agg(coalesce(sum(when(col("last_k") > col("__next_first"), 1L).otherwise(0L)), lit(0L))
        .as("binv"))
    val within = perPart.agg(
      coalesce(sum(col("n")), lit(0L)).as("n_rows"),
      coalesce(sum(col("inv")), lit(0L)).as("winv"))
    within.crossJoin(seams)
      .select(col("n_rows"), (col("winv") + col("binv")).as("n_inversions"))
  }
}
