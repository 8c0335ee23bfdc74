package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation. At 100 TB a handful of hot keys (the reference's
  * `continent` column has 6 values over 50 M rows — SURVEY.md §1.3)
  * dominate shuffle partitions. Three lines of defense, in order:
  *
  *  1. Map-side partial aggregation (free — Spark does it for additive
  *     aggregates; keep aggregates partial-able, see Dedup's BIGINT
  *     minhash signatures).
  *  2. AQE skew-join splitting (`spark.sql.adaptive.skewJoin.enabled`,
  *     on by default) — handles sort-merge joins at runtime.
  *  3. Explicit salting — for the cases neither covers: shuffle-hash
  *     joins AQE won't split, hot-key aggregations whose buffers are not
  *     additive (collect_list/exact distinct), streaming state.
  */
object Skew {

  /** Salted inner equi-join: the big (skewed) side gets a random salt in
    * [0, salts); the small side is replicated `salts` times; the join key
    * becomes (key, salt), spreading each hot key across `salts` reducers.
    * Row-identical to `big.join(small, keys)`. */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
                 salts: Int): DataFrame = {
    // Deterministic salt (hash of the row content): a nondeterministic
    // salt (e.g. monotonically_increasing_id) feeding a shuffle key can
    // duplicate/drop rows when map tasks are recomputed after a fetch
    // failure — the SPARK-23207 class of bug.
    val saltedBig = big.withColumn("__salt",
      pmod(xxhash64(big.columns.toSeq.map(col): _*), lit(salts)))
    val replicatedSmall = small.withColumn("__salt",
      explode(expr(s"sequence(0, ${salts - 1})")))
    saltedBig.join(replicatedSmall, keys :+ "__salt").drop("__salt")
  }

  /** Bloom-filter pre-filtered left-semi join — the explicit form of the
    * runtime row-level filtering Spark's InjectRuntimeFilter applies to
    * eligible shuffle joins: hash the build side's keys into a bit array
    * (k positions per key, built distributedly — the driver only ever
    * collects DISTINCT bit positions, bounded by numBits, never the dim
    * keys), then probe the fact side with pure bit-test column
    * expressions BEFORE the join shuffle. False positives are removed by
    * the exact semi-join that follows; false negatives are impossible,
    * so the result is row-identical to `fact SEMI JOIN dim` — which is
    * exactly what the oracle asserts. At 100 TB the win is that fact
    * rows failing the bloom test never enter the exchange: for a
    * selective dim the shuffle shrinks by orders of magnitude at the
    * cost of one scan-speed codegen'd predicate.
    *
    * Sizing: ~10 bits per expected dim key keeps the false-positive
    * rate near 1% at k=3 (FPs only waste shuffle, never corrupt
    * results); the default 2^16 bits suits dims up to ~6k keys.
    */
  def bloomSemiJoin(fact: DataFrame, factKey: String,
                    dim: DataFrame, dimKey: String,
                    numBits: Int = 1 << 16, numHashes: Int = 3): DataFrame = {
    require(numBits > 0 && (numBits & (numBits - 1)) == 0,
      s"numBits must be a power of two, got $numBits")
    def positions(key: Column): Seq[Column] =
      (0 until numHashes).map(i => pmod(xxhash64(lit(i), key), lit(numBits.toLong)))
    // Build: distinct bit positions (≤ numBits rows) → driver-side bit
    // array. O(numBits) driver memory by construction, independent of
    // |dim|.
    val words = new Array[Long](numBits / 64)
    dim.select(explode(array(positions(col(dimKey)): _*)).as("p")).distinct()
      .collect().foreach { r =>
        val p = r.getLong(0); words((p >> 6).toInt) |= (1L << (p & 63))
      }
    // Probe: k bit tests, all built-in exprs (codegen'd, pushed ahead of
    // the join exchange).
    val bits = lit(words)
    val pass = positions(col(factKey)).map { p =>
      val word = element_at(bits, (p / 64).cast("int") + 1)
      call_function("shiftright", word, (p % 64).cast("int"))
        .bitwiseAND(lit(1L)) === 1L
    }.reduce(_ && _)
    fact.filter(pass)
      .join(dim.select(col(dimKey)).distinct(),
        col(factKey) === col(dimKey), "left_semi")
  }

  /** Two-phase salted aggregation for non-additive hot-key aggregates
    * (e.g. per-key exact distinct): phase 1 on (key, salt, value) spreads
    * the hot key; phase 2 combines partials per key. */
  def saltedDistinctCount(df: DataFrame, keyCols: Seq[String],
                          valueCol: String, salts: Int): DataFrame = {
    val salted = df.withColumn("__salt", pmod(hash(col(valueCol)), lit(salts)))
    salted
      .groupBy((keyCols.map(col) :+ col("__salt")): _*)
      .agg(countDistinct(col(valueCol)).as("__partial"))
      .groupBy(keyCols.map(col): _*)
      // salts partition the VALUE space (salt = hash(value) % salts), so
      // per-salt distinct counts are disjoint and sum exactly.
      .agg(sum(col("__partial")).as("n_distinct"))
  }
}
