package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{AsOfJoin, Hierarchy, Profiling, Sampling, Sketches, Skew, Sorting, Spread, Sweep, Upsert}
import graft.sources.Tables

/** The general relational query surface the reference lacks entirely
  * (SURVEY.md §2.2): aggregation, joins of every flavor, window functions,
  * grouping sets, set operations, scalar/JSON functions, event-time
  * windows, sessionization. All declared via the DataFrame API so Catalyst
  * supplies pushdown/pruning/join-selection; broadcast hints are given
  * only where a side is a genuine dimension table (nation: 25 rows at any
  * scale factor — safe to broadcast at 100 TB too).
  *
  * Determinism contract: every query ends in a full tie-break ORDER BY and
  * every floating-point aggregate is rounded, so the driver's hash compare
  * against DuckDB is stable (SURVEY.md §7.4 risk 2).
  */
object RelationalQueries {

  /** Per-JVM random tag for paths that must not collide across
    * concurrently running processes (e.g. the bucketed warehouse). */
  private val processTag: String =
    java.util.UUID.randomUUID().toString.take(8)

  /** 30-minute-gap sessionization of the events stream, per EVENT: each
    * event row gains its session_id. Shuffle once on user_id, then two
    * window passes over the same partitioning (no second exchange).
    * Shared by q_sessionize / the sweep-line concurrency query / the
    * event-pattern query. */
  private def sessionizedEvents(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts_ms"), col("event_type"))
      .withColumn("prev_ms", lag(col("ts_ms"), 1).over(
        Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))))
      .withColumn("new_sess",
        when(col("prev_ms").isNull || col("ts_ms") - col("prev_ms") > 1800000L, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("new_sess")).over(
        Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))

  /** Per-session aggregate of [[sessionizedEvents]] (the q_sessionize
    * output shape). */
  private def userSessions(s: SparkSession, dir: String): DataFrame =
    sessionizedEvents(s, dir)
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_ms")).as("sess_start_ms"),
        max(col("ts_ms")).as("sess_end_ms"))

  /** Priority × segment contingency cells with expected counts and the
    * per-cell χ² contribution quantized to exact micro-units — ONE
    * definition shared by q_chi_squared and q_cramers_v so the
    * quantization discipline cannot drift between the significance
    * test and its effect size. Quantize each cell BEFORE the total:
    * sum(double) is order-dependent (partial-aggregate order vs
    * DuckDB's sequential sum) — the r6 graph_modularity trap. The
    * per-cell round happens on identical IEEE inputs in both engines;
    * the micro-unit BIGINT sum is associative. BIGINT holds χ²·10⁶
    * < 9.2e18 — χ² beyond ~9e12 has no statistical meaning at any
    * scale. */
  private def priorityContingency(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderpriority"))
      .join(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderpriority"), col("c_mktsegment"))
      .agg(count(lit(1)).as("obs"))
    val rowTot = cells.groupBy("o_orderpriority")
      .agg(sum("obs").as("row_tot"))
    val colTot = cells.groupBy("c_mktsegment")
      .agg(sum("obs").as("col_tot"))
    val grand = cells.agg(sum("obs").as("grand"))
    cells
      .join(broadcast(rowTot), "o_orderpriority")
      .join(broadcast(colTot), "c_mktsegment")
      .crossJoin(broadcast(grand))
      .withColumn("expected", col("row_tot").cast("double") *
        col("col_tot").cast("double") / col("grand").cast("double"))
      .withColumn("contrib",
        (col("obs") - col("expected")) * (col("obs") - col("expected")) /
          col("expected"))
      .withColumn("cmicro", round(col("contrib") * 1e6, 0).cast("long"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1 shape: scan-heavy partial-agg-friendly aggregation. At scale
    // the groupBy keys are tiny (6 groups) so map-side partial aggregation
    // collapses nearly all rows before the shuffle.
    "q1_agg" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_extendedprice")), 4).as("avg_price"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    // TPC-H Q3 shape: selective filters pushed to all three scans, then
    // shuffle joins on the keys; top-10 via TakeOrderedAndProject.
    "q3_join_topk" -> ((s, dir) => {
      val cust = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") > lit("1998-03-15").cast("timestamp"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
      cust.join(ord, cust("c_custkey") === ord("o_custkey"))
        .join(li, ord("o_orderkey") === li("l_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .select(col("l_orderkey"), to_date(col("o_orderdate")).as("o_orderdate"), col("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // TPC-H Q5 shape: a 6-table join tree. The two fact tables (lineitem,
    // orders) shuffle-join on their keys; customer shuffles in on custkey;
    // supplier/nation/region are true dimensions (bounded at every SF) and
    // are broadcast so the 3 dim joins add ZERO exchanges. The
    // customer–supplier same-nation predicate rides the supplier broadcast
    // join as a second equi-key, so no extra join pass is needed for it.
    "q5_deep_join" -> ((s, dir) => {
      val asiaRegion = Tables.region(s, dir).filter(col("r_name") === "ASIA")
      val cust = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      val supp = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(supp),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(asiaRegion),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // Broadcast hash join against a true dimension (nation ≤ 25 rows at
    // every SF — broadcastable on a 1000-executor cluster too).
    "q_broadcast_join" -> ((s, dir) =>
      Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          round(sum(col("c_acctbal")), 2).as("sum_bal"))
        .orderBy(col("n_name"))),

    // Left-semi join: customers with ≥1 order in 2001 (filter pushed to the
    // orders scan; no duplication of the probe side).
    "q_semi_join" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
        .select("o_custkey")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    // Left-anti join: customers with no 2001 orders.
    "q_anti_join" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
        .select("o_custkey")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    // Left outer join + aggregation, preserving zero-order customers.
    "q_outer_join_agg" -> ((s, dir) => {
      val c = Tables.customer(s, dir).select("c_custkey")
      val o = Tables.orders(s, dir).select("o_custkey", "o_orderkey")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy(col("c_custkey"))
    }),

    // Window functions: per-customer top-3 orders by price.
    "q_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 3)
        .orderBy(col("o_custkey"), col("rn"))
    }),

    // ROLLUP grouping sets (explicit NULLS FIRST so both engines order the
    // subtotal rows identically).
    "q_rollup" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),

    // DISTINCT over a pair of columns.
    "q_distinct" -> ((s, dir) =>
      Tables.events(s, dir).select("user_id", "event_type").distinct()
        .orderBy("user_id", "event_type")),

    // Exact COUNT(DISTINCT) per group (expand + two-phase agg in Spark).
    "q_count_distinct" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
        .orderBy(col("event_type"))),

    // Lateral array explode (UDTF-style) and re-aggregation. min/max are
    // order-independent (float sums are not — never oracle-compare a sum
    // over an unnest whose order SQL does not define).
    "q_explode_stats" -> ((s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("vec_id"),
          explode(col("embedding").cast("array<double>")).as("v"))
        .groupBy(col("vec_id"))
        .agg(count(lit(1)).as("n_dims"),
          round(min(col("v")), 6).as("min_v"),
          round(max(col("v")), 6).as("max_v"))
        .orderBy(col("vec_id"))),

    // Pivot: one column per event type (fixed value list so the output
    // schema is deterministic for the oracle).
    "q_pivot" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .na.fill(0L)
        .orderBy(col("user_id"))),

    // Sketch-based approximate distinct (HyperLogLog++). The raw
    // estimate is algorithm-specific, so the graded surface is the
    // exact count plus a 10%-relative-error sanity bound on the sketch
    // (the oracle asserts the bound holds); the tight relative error is
    // additionally asserted in ScalaTest.
    //
    // KNOWN FAILURE MODE (deliberate): the oracle hardcodes
    // `TRUE AS approx_within_10pct`, so if Spark's HLL estimate ever
    // drifts past 10% relative error (different SF, Spark upgrade, new
    // rsd default) this query fails as a hash mismatch on the boolean
    // column. That IS the bound violation being reported — check
    // `approx_within_10pct` first when debugging a mismatch here. The
    // default rsd is 5%, so the 10% gate has 2× headroom.
    "q_approx_distinct" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id")).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"))
        // graded: the exact count plus the HLL estimate's sanity (within
        // 10% relative error) — the raw sketch value itself is
        // engine-specific, so it is checked as a bound, not a hash
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")) <=
            col("exact_users") * 0.1).as("approx_within_10pct"))
        .orderBy(col("event_type"))),

    // Fully REPLAYABLE HyperLogLog (Flajolet et al. 2007, the
    // HLL/HLL++ family every engine's approx_count_distinct descends
    // from) — unlike q_approx_distinct, which can only bound-check the
    // engine's opaque sketch, this builds the 256 registers explicitly
    // from md5 bits, so the estimate itself hash-grades against an
    // oracle that replays the identical algorithm. This IS the 100 TB
    // distinct-count path: register construction is one
    // partial-aggregable max per (group, bucket) — map-side combine
    // collapses each partition to ≤ m rows, i.e. the sketch MERGES by
    // construction across any partitioning — and everything after is
    // |groups|·256 algebra. Exactness discipline: the harmonic sum
    // Σ 2^(−M_j) scales by 2^60 into exact integers (M ≤ 57 ⇒ terms
    // are exact longs; the 256-term sum is an associative decimal
    // sum), so the only floats are the final α·m²·2^60/Σ division and
    // the small-range ln branch — both single deterministic ops on
    // identical inputs in both engines. The rho derivation is pure
    // STRING algebra on the hex digest (leading-'0' count + first
    // nonzero digit's bit length), mirrored verbatim by the oracle —
    // no 56-bit integer parsing anywhere.
    "q_hll_sketch" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val est = Sketches.hllEstimate(
        Sketches.hllRegisters(ev, "event_type", col("user_id")), "event_type")
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      est.join(exact, "event_type")
        .select(col("event_type"), col("exact_users"),
          col("registers_nonzero"), col("hll_estimate"),
          round((col("hll_estimate") - col("exact_users")) /
            col("exact_users"), 4).as("rel_err"))
        .orderBy(col("event_type"))
    }),

    // Datasketches THETA sketches (Spark 4 built-ins): the set-ALGEBRA
    // sketch family — unlike HLL, theta supports intersection and
    // difference, the audience-overlap algebra at sketch size. One
    // sketch per audience (theta_sketch_agg over user ids), then
    // union/intersection estimates from the two 4 KB sketch blobs —
    // at 100 TB the exact pairwise-overlap join is replaced by
    // constant-size sketch merges. Graded by the q_profile_approx
    // discipline: the EXACT legs (countDistinct per audience, union,
    // intersection) hash-grade against DuckDB, and each theta estimate
    // is adjudicated within a 5% band of that oracle-confirmed exact
    // value (theta RSE at lgK=12 is ~1.6%; 3σ ≈ 5%) — the bands are
    // TRUE/TRUE/TRUE/TRUE rows the oracle states literally.
    "q_theta_sketch" -> ((s, dir) => {
      val ut = Tables.events(s, dir)
        .filter(col("event_type").isin("view", "click"))
        .select(col("event_type"), col("user_id")).distinct()
      val sk = ut.groupBy(col("event_type"))
        .agg(theta_sketch_agg(col("user_id")).as("sk"))
      val a = sk.filter(col("event_type") === "view").select(col("sk").as("ska"))
      val b = sk.filter(col("event_type") === "click").select(col("sk").as("skb"))
      val est = a.crossJoin(b).select(
        theta_sketch_estimate(col("ska")).as("est_a"),
        theta_sketch_estimate(col("skb")).as("est_b"),
        theta_sketch_estimate(theta_union(col("ska"), col("skb"))).as("est_u"),
        theta_sketch_estimate(theta_intersection(col("ska"), col("skb")))
          .as("est_i"))
      val exact = ut.groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "view", 1).otherwise(0)).as("va"),
          max(when(col("event_type") === "click", 1).otherwise(0)).as("cb"))
        .agg(sum(col("va")).as("exact_a"), sum(col("cb")).as("exact_b"),
          count(lit(1)).as("exact_union"),
          sum(when(col("va") === 1 && col("cb") === 1, 1).otherwise(0))
            .as("exact_inter"))
      def ok(estC: Column, exC: Column): Column =
        abs(estC.cast("double") / exC.cast("double") - 1.0) <= 0.05
      exact.crossJoin(broadcast(est)).select(
        col("exact_a").cast("long").as("exact_a"),
        col("exact_b").cast("long").as("exact_b"),
        col("exact_union").cast("long").as("exact_union"),
        col("exact_inter").cast("long").as("exact_inter"),
        ok(col("est_a"), col("exact_a")).as("ok_a"),
        ok(col("est_b"), col("exact_b")).as("ok_b"),
        ok(col("est_u"), col("exact_union")).as("ok_union"),
        ok(col("est_i"), col("exact_inter")).as("ok_inter"))
    }),

    // The MERGEABLE sketch-table pattern (Datasketches HLL built-ins):
    // stage 1 materializes one HLL sketch per (audience, day) — the
    // daily sketch table a 100 TB estate maintains; stage 2 answers
    // "distinct users over the whole period" by hll_union_agg over the
    // SKETCH COLUMN — merging 4 KB blobs, never re-scanning raw events.
    // That mergeability (pre-aggregate once, re-slice forever) is the
    // entire point vs a one-shot approx_count_distinct. Graded by the
    // band discipline: exact legs (distinct users, day count) hash-
    // graded, the unioned estimate adjudicated within 5% in-plan.
    "q_hll_union" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_type"),
        col("user_id"), expr("ts_ms div 86400000").as("day"))
      val daily = ev.groupBy(col("event_type"), col("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      val est = daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_users"))
      val exact = ev.select(col("event_type"), col("user_id")).distinct()
        .groupBy(col("event_type")).agg(count(lit(1)).as("exact_users"))
      exact.join(est, "event_type")
        .select(col("event_type"), col("exact_users"), col("n_days"),
          (abs(col("est_users").cast("double") /
            col("exact_users").cast("double") - 1.0) <= 0.05).as("ok_est"))
        .orderBy("event_type")
    }),

    // Explicit salting — the defense for shuffle joins AQE won't split:
    // the skewed side's join key is widened to (key, salt). Results are
    // row-identical to the plain join, which is exactly what the oracle
    // asserts.
    "q_skew_salted_join" -> ((s, dir) => {
      val events = Tables.events(s, dir)
      val typeStats = events.groupBy(col("event_type"))
        .agg(count(lit(1)).as("type_total"))
      Skew.saltedJoin(events.select("event_id", "event_type"), typeStats,
          Seq("event_type"), salts = 8)
        .select(col("event_id"), col("event_type"), col("type_total"))
        .orderBy(col("event_id"))
    }),

    // Two-phase salted exact distinct for non-additive hot-key aggregates;
    // per-salt partials partition the value space, so they sum exactly.
    "q_skew_distinct" -> ((s, dir) =>
      Skew.saltedDistinctCount(Tables.events(s, dir), Seq("event_type"),
          "user_id", salts = 8)
        .orderBy(col("event_type"))),

    // The JOIN-STRATEGY HINT surface: the SAME logical fact⋈dim rollup
    // under all three strategy hints — broadcast, shuffle_hash, merge —
    // each overriding what AQE/Catalyst would pick on its own (the
    // knob a tuner reaches for when statistics mislead the optimizer:
    // a "small" dim that explodes after a filter-join, a build side
    // that OOMs the hash table, a sort the data already has). Graded
    // claim: the physical strategy is semantically INVISIBLE —
    // hash-identical rollups from three different join operators
    // (the stream_rocksdb_state discipline applied to join execution).
    // The triple fact scan is the demonstration harness, not a
    // production shape; each leg alone is the standard one-shuffle (or
    // zero-shuffle broadcast) dimension join. Exact integer cents; one
    // display division per row.
    "q_join_strategy_hints" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(col("l_suppkey"),
        floor(col("l_extendedprice") * 100).cast("long").as("cents"))
      val sup = Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_nationkey"))
      def leg(strategy: String) =
        li.join(sup.hint(strategy), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("s_nationkey"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
          .withColumn("strategy", lit(strategy))
      leg("broadcast").unionByName(leg("shuffle_hash")).unionByName(leg("merge"))
        .select(col("strategy"), col("s_nationkey"), col("n"),
          (col("cents") / 100.0).as("revenue"))
        .orderBy("strategy", "s_nationkey")
    }),

    // Custom typed UDAF (bounded top-k buffer) inside groupBy().agg() —
    // the shuffle carries k values per group, never the value list.
    "q_topk_udaf" -> ((s, dir) => {
      val topk = udaf(new graft.functions.TopKLongs(3))
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(topk(col("user_id")).as("top"))
        .select(col("event_type"), posexplode(col("top")).as(Seq("rank", "uid")))
        .orderBy(col("event_type"), col("rank"))
    }),

    // Set ops: INTERSECT (distinct semantics in both engines).
    "q_intersect" -> ((s, dir) =>
      Tables.events(s, dir).select(col("user_id").as("k"))
        .intersect(Tables.customer(s, dir).select(col("c_custkey").as("k")))
        .orderBy("k")),

    // Set ops: EXCEPT (customers minus those with 2001 orders).
    "q_except" -> ((s, dir) =>
      Tables.customer(s, dir).select(col("c_custkey").as("k"))
        .except(Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
          .select(col("o_custkey").as("k")))
        .orderBy("k")),

    // Set ops, MULTISET semantics: INTERSECT ALL keeps min(multiplicity)
    // copies, EXCEPT ALL subtracts per-occurrence — the bag forms the
    // DISTINCT queries above cannot express.
    "q_intersect_all" -> ((s, dir) =>
      Tables.events(s, dir).select(col("user_id").as("k"))
        .intersectAll(Tables.orders(s, dir).select(col("o_custkey").as("k")))
        .orderBy("k")),

    "q_except_all" -> ((s, dir) =>
      Tables.orders(s, dir).select(col("o_custkey").as("k"))
        .exceptAll(Tables.events(s, dir).select(col("user_id").as("k")))
        .orderBy("k")),

    // Scalar function battery: string / date / math / conditional.
    "q_scalar_funcs" -> ((s, dir) =>
      Tables.orders(s, dir).select(
        col("o_orderkey"),
        upper(col("o_orderpriority")).as("prio_up"),
        length(col("o_orderpriority")).as("prio_len"),
        substring(col("o_orderpriority"), 1, 1).as("prio_1"),
        concat_ws("-", col("o_orderstatus"), col("o_orderpriority")).as("status_prio"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dy"),
        date_add(to_date(col("o_orderdate")), 7).as("plus7"),
        round(abs(col("o_totalprice") * -1), 1).as("abs_price"),
        when(col("o_orderstatus") === "O", "open")
          .when(col("o_orderstatus") === "F", "filled")
          .otherwise("other").as("status_word"))
        .orderBy(col("o_orderkey"))),

    // JSON extraction from the events.props column.
    "q_json_extract" -> ((s, dir) =>
      // Spread before the per-row JSON path extraction (guide §2.5).
      Spread.forCompute(Tables.events(s, dir)
          .select(col("event_id"), col("props")))
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .orderBy(col("event_id"))),

    // The VARIANT semi-structured type (Spark 4's binary JSON): ingest
    // both the fixture's props JSON and a nested document synthesized
    // from typed columns through parse_json, then extract typed values
    // back out with variant_get path expressions. Grades the full
    // encode→binary-variant→typed-decode roundtrip against the ground
    // truth the JSON was built from — any shredding/coercion defect in
    // the variant path flips the hash. At 100 TB this is the schema-
    // on-read lever: ONE binary column absorbs heterogeneous event
    // payloads and the typed paths are extracted at scan time (no
    // per-row string re-parse in every downstream query, no brittle
    // full-schema inference over the corpus).
    "q_variant" -> ((s, dir) => {
      // Spread ahead of the per-row parse_json×4 kernel (guide §2.5).
      val ev = Spread.forCompute(Tables.events(s, dir).select(
        col("event_id"), col("props"), col("user_id"), col("event_type"),
        col("value")))
      val js = ev.select(col("event_id"), col("props"),
        to_json(struct(col("user_id").as("u"), col("event_type").as("t"),
          struct(floor(col("value") * 100).cast("long").as("cents"))
            .as("m"))).as("doc"))
      js.select(col("event_id"),
          variant_get(parse_json(col("doc")), "$.u", "bigint").as("u"),
          variant_get(parse_json(col("doc")), "$.t", "string").as("t"),
          variant_get(parse_json(col("doc")), "$.m.cents", "bigint").as("cents"),
          variant_get(parse_json(col("props")), "$.k", "int").as("k"))
        .orderBy(col("event_id"))
    }),

    // Case-insensitive grouping through the COLLATION surface (Spark 4
    // collated string type), not through a lower() rewrite: the segment
    // labels are deterministically re-cased (even keys upper, odd keys
    // lower) and grouped under UTF8_LCASE — the ENGINE's collation-aware
    // hash/equality does the folding. The presented key re-canonicalizes
    // via lower() only so the oracle (which has no collated types) can
    // state the same answer. Balances aggregate as exact integer cents.
    "q_collation" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      c.select(
          when(col("c_custkey") % 2 === 0, upper(col("c_mktsegment")))
            .otherwise(lower(col("c_mktsegment"))).as("seg_mixed"),
          floor(col("c_acctbal") * 100).cast("long").as("bal_cents"))
        .groupBy(collate(col("seg_mixed"), "UTF8_LCASE").as("seg_key"))
        .agg(count(lit(1)).as("n"), sum(col("bal_cents")).as("bal_cents"))
        .select(lower(col("seg_key")).as("segment"), col("n"), col("bal_cents"))
        .orderBy(col("segment"))
    }),

    // Event-time tumbling window aggregation (batch form of the streaming
    // windowed agg — same date_trunc bucketing Structured Streaming uses).
    // `ts` is epoch nanos (Long); hour bucket = integer-floor to the hour.
    "q_time_window" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(expr("(ts div 3600000000000) * 3600000").as("window_start_ms"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("window_start_ms"), col("event_type"))),

    // Overlapping SLIDING windows via the built-in window(col, len,
    // slide): each event lands in len/slide = 2 windows.
    "q_sliding_window" -> ((s, dir) =>
      Tables.events(s, dir)
        .withColumn("event_time", timestamp_millis(col("ts_ms")))
        .groupBy(window(col("event_time"), "1 hour", "30 minutes"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_millis(col("window.start")).as("window_start_ms"),
          col("event_type"), col("n"))
        .orderBy(col("window_start_ms"), col("event_type"))),

    // Rolling window FRAME (ROWS BETWEEN): per-user trailing-4 stats.
    // The rolling sum is over floor(value*100) longs — integer frame
    // sums are bit-exact in any engine, unlike a double avg whose
    // segment-tree summation order DuckDB may vary.
    "q_rolling_window" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_ms"), col("event_id"))
        .rowsBetween(-3, Window.currentRow)
      // Scale-gated keyed spread (guide §2.4/§2.5): the window's
      // ClusteredDistribution(user_id) is satisfied by this exchange
      // (REPARTITION_BY_NUM — AQE never coalesces it), so the frame
      // work runs cluster-wide instead of on the ~3 tasks byte-based
      // coalescing leaves for a KB-sized shuffle; a no-op on wide scans.
      graft.operators.Spread.byKey(
          Tables.events(s, dir)
            .select(col("user_id"), col("event_id"), col("ts_ms"),
              floor(col("value") * 100).cast("long").as("cents")),
          col("user_id"))
        .select(col("user_id"), col("event_id"), col("ts_ms"),
          sum(col("cents")).over(w).as("rolling_cents"),
          count(lit(1)).over(w).as("rolling_n"))
        .orderBy(col("user_id"), col("ts_ms"), col("event_id"))
    }),

    // Exponentially weighted moving average over a bounded 16-row frame:
    // the decay recurrence s_i = a·s_{i−1} + (1−a)·x_i is sequential, but
    // truncating to 16 taps (0.8^16 ≈ 2.8% residual weight) makes it a
    // per-row FRAME computation — collect_list over the running window,
    // then a codegen'd higher-order fold with position weights. No state
    // chain, no driver loop; at 100 TB it is one window pass per user
    // partition, identical in shape to q_rolling_window. Both engines
    // fold the frame list left-to-right, so even the float summation
    // order matches.
    "q_ewma" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_ms"), col("event_id"))
        .rowsBetween(-15, Window.currentRow)
      // Keyed spread ahead of the frame collect_list + interpreted
      // higher-order fold — the priciest per-row window kernel in the
      // family (see q_rolling_window for the mechanism/scale gate).
      graft.operators.Spread.byKey(
          Tables.events(s, dir)
            .select(col("user_id"), col("event_id"), col("ts_ms"),
              col("value").cast("double").as("v")),
          col("user_id"))
        .withColumn("vals", collect_list(col("v")).over(w))
        .select(col("user_id"), col("event_id"), col("ts_ms"),
          expr("""round(
            aggregate(transform(sequence(1, size(vals)),
                k -> element_at(vals, k) * power(0.8D, size(vals) - k)),
              0D, (a, x) -> a + x)
            / aggregate(transform(sequence(1, size(vals)),
                k -> power(0.8D, size(vals) - k)),
              0D, (a, x) -> a + x), 4)""").as("ewma"))
        .orderBy(col("user_id"), col("ts_ms"), col("event_id"))
    }),

    // Time-based RANGE window frame: trailing-1-hour per-user totals.
    // Unlike the ROWS frame above, the frame edge is a VALUE offset on
    // the (numeric) order key, so peers at the same timestamp share one
    // frame — the frame width adapts to event density instead of row
    // count. Integer cents keep the frame sum engine-exact.
    "q_range_frame" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_ms"))
        .rangeBetween(-3600000L, Window.currentRow)
      // Keyed spread for the RANGE-frame pass (see q_rolling_window).
      graft.operators.Spread.byKey(
          Tables.events(s, dir)
            .select(col("user_id"), col("event_id"), col("ts_ms"),
              floor(col("value") * 100).cast("long").as("cents")),
          col("user_id"))
        .select(col("user_id"), col("event_id"), col("ts_ms"),
          sum(col("cents")).over(w).as("hour_cents"),
          count(lit(1)).over(w).as("hour_n"))
        .orderBy(col("user_id"), col("ts_ms"), col("event_id"))
    }),

    // Sliding-window distinct counting (7-day rolling DAU): windowed
    // COUNT DISTINCT has no partial-aggregable window form, so the
    // scalable shape EXPANDS each (user, day) fact into the ≤7 window
    // ends it covers and counts distinct per window — shuffle volume is
    // 7× the DAILY-distinct table (already collapsed map-side), never
    // 7× the raw events. The window spine stays dense because every
    // event day contributes its own window end.
    "q_sliding_dau" -> ((s, dir) => {
      val ud = Tables.events(s, dir)
        .select(col("user_id"), expr("ts_ms div 86400000").as("day"))
        .distinct()
      val d1 = ud.groupBy("day").agg(countDistinct("user_id").as("dau"))
      val d7 = ud
        .select(col("user_id"), explode(expr("sequence(day, day + 6)")).as("w_end"))
        .groupBy("w_end").agg(countDistinct("user_id").as("dau7"))
      val bounds = ud.agg(min("day").as("mn"), max("day").as("mx"))
      d1.join(d7, d1("day") === d7("w_end"))
        .crossJoin(broadcast(bounds))
        .filter(col("day").between(col("mn"), col("mx")))
        .select(col("day"), col("dau"), col("dau7"))
        .orderBy("day")
    }),

    // Time-series gap fill: per event type, the observed hourly rollup is
    // left-joined onto a dense generated hour spine (sequence + explode —
    // the spine is derived per group, never a driver-side loop), missing
    // hours get n=0, and the last observed hourly total is carried
    // forward with last(ignoreNulls) — the standard repair step before
    // feeding time-series features to training. One shuffle for the
    // rollup, one broadcast-sized spine join, one window pass.
    // Gaps-and-islands: maximal runs of CONSECUTIVE active days per
    // user via the day − row_number() grouping constant. One shuffle on
    // user_id for the window; the island aggregation groups on
    // (user, grp), a refinement of the window partitioning, so the
    // partial aggregate runs without a second exchange.
    "q_islands" -> ((s, dir) => {
      val days = Tables.events(s, dir)
        .select(col("user_id"), expr("ts_ms div 86400000").as("day"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      days.withColumn("grp", col("day") - row_number().over(w))
        .groupBy(col("user_id"), col("grp"))
        .agg(min(col("day")).as("start_day"), max(col("day")).as("end_day"),
          count(lit(1)).as("n_days"))
        .select(col("user_id"), col("start_day"), col("end_day"), col("n_days"))
        .orderBy("user_id", "start_day")
    }),

    "q_gap_fill" -> ((s, dir) => {
      val hourly = Tables.events(s, dir)
        .withColumn("cents", floor(col("value") * 100).cast("long"))
        .groupBy(col("event_type"),
          expr("(ts_ms div 3600000) * 3600000").as("hour_ms"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      val spine = hourly.groupBy(col("event_type"))
        .agg(min(col("hour_ms")).as("lo"), max(col("hour_ms")).as("hi"))
        .select(col("event_type"),
          explode(sequence(col("lo"), col("hi"), lit(3600000L))).as("hour_ms"))
      val wf = Window.partitionBy(col("event_type")).orderBy(col("hour_ms"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(hourly, Seq("event_type", "hour_ms"), "left_outer")
        .select(col("event_type"), col("hour_ms"),
          coalesce(col("n"), lit(0L)).as("n"),
          last(col("sum_cents"), ignoreNulls = true).over(wf).as("filled_cents"))
        .orderBy(col("event_type"), col("hour_ms"))
    }),

    // The spark.sql surface end-to-end: temp views + ANSI SQL with an
    // IN-subquery (decorrelated to a semi-join by Catalyst — same plan
    // family as q_semi_join's DataFrame form).
    "q_sql_surface" -> ((s, dir) => {
      Seq("customer", "orders", "nation").foreach(n =>
        Tables.table(s, dir, n).createOrReplaceTempView(n))
      s.sql(
        """SELECT n_name, o_orderpriority, count(*) AS n,
          |       round(sum(o_totalprice), 2) AS sum_tp
          |FROM customer
          |JOIN orders ON c_custkey = o_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
          |GROUP BY n_name, o_orderpriority
          |ORDER BY n_name, o_orderpriority""".stripMargin)
    }),

    // SQL user-defined functions (Spark 4's CREATE FUNCTION ... RETURN):
    // a scalar money-algebra UDF and a table UDF defined in PURE SQL,
    // then used in a graded rollup. The analyzer INLINES the function
    // body into the plan (ResolveSQLFunctions), so unlike a JVM/Python
    // UDF the call costs nothing at scale — it stays inside whole-stage
    // codegen and predicate pushdown still sees through it. The oracle
    // states the same query with the bodies inlined by hand — the
    // function indirection must be plan- and hash-invisible.
    "q_sql_udf" -> ((s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_sqludf")
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_margin_cents(
              |    price DOUBLE, disc DOUBLE, tax DOUBLE) RETURNS BIGINT
              |RETURN CAST(floor(price * (1 - disc) * (1 + tax) * 100)
              |            AS BIGINT)""".stripMargin)
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_flag_bucket(
              |    flag STRING, status STRING) RETURNS STRING
              |RETURN concat(flag, '/', status)""".stripMargin)
      // a SQL TABLE function: the per-bucket rollup itself, parameterized
      // by a quantity floor — inlined by the analyzer like the scalars
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_bucket_rollup(
              |    min_qty DOUBLE)
              |RETURNS TABLE (bucket STRING, n BIGINT, margin_cents BIGINT)
              |RETURN SELECT graft_flag_bucket(l_returnflag, l_linestatus),
              |              count(*),
              |              sum(graft_margin_cents(l_extendedprice,
              |                                     l_discount, l_tax))
              |       FROM lineitem_sqludf WHERE l_quantity >= min_qty
              |       GROUP BY 1""".stripMargin)
      s.sql("""SELECT bucket, n, margin_cents
              |FROM graft_bucket_rollup(2.0D) ORDER BY bucket""".stripMargin)
    }),

    // Native Catalyst GENERATOR (true UDTF): graft_pos_ngrams streams
    // one (pos, gram_hash) row per word trigram through Catalyst's
    // Generate operator — per-partition fan-out, no shuffle introduced,
    // and unlike posexplode(ShingleHashes.positional(w)) it never
    // materializes the per-document hash array (peak memory per doc is
    // ONE gram). Exercised through the SQL LATERAL VIEW path so the
    // injectFunction registration is graded too; the 48-bit gram key is
    // the corpus-wide ShingleHashes.hashAt kernel, mirrored exactly by
    // the DuckDB oracle.
    "q_udtf_ngrams" -> ((s, dir) => {
      graft.plans.GraftExtensions.register(s)
      // Spread (guide §2.5): the UDTF gram generator is per-row eval
      // over the one-split fixture scan.
      Spread.forCompute(Tables.documents(s, dir).select(col("source"), col("text")))
        .createOrReplaceTempView("docs_udtf")
      s.sql("""SELECT source, count(*) AS n_grams,
              |       count(DISTINCT gram_hash) AS n_distinct,
              |       CAST(sum(pmod(gram_hash, 1000)) AS BIGINT) AS checksum,
              |       CAST(max(pos) AS BIGINT) AS max_pos
              |FROM (SELECT source, split(lower(trim(text)), '\\s+') AS w
              |      FROM docs_udtf) d
              |LATERAL VIEW graft_pos_ngrams(w, 3) t AS pos, gram_hash
              |GROUP BY source ORDER BY source""".stripMargin)
    }),

    // Native WITH RECURSIVE (Spark 4's UnionLoop execution): ancestor
    // expansion over the synthetic org chain c → c div 8 — every
    // (customer, ancestor) pair down to the root, rolled up per id.
    // Each iteration is ONE equi-join of the live frontier against the
    // dimension plus a union; the frontier shrinks monotonically (node
    // strictly decreases), so per-round work is bounded by the frontier,
    // and depth is log₈(N) — 4 rounds at sf0.01, ~7 at 100 TB. This is
    // the standard SQL recursion surface; for DEEP chains (depth ~ N)
    // the pointer-doubling operator behind q_recursive_hierarchy stays
    // the declared 100 TB path (O(log depth) rounds vs linear). Scale
    // guardrail (hit in a scale probe; COVERAGE.md's historical round-10
    // notes): the engine caps total recursion output at
    // spark.sql.cteRecursionRowLimit = 1e6 rows
    // with a loud RECURSION_ROW_LIMIT_EXCEEDED — a production run past
    // ~1 M ancestor rows must raise the knob deliberately (the right
    // default for an operator whose failure mode is divergence).
    "q_recursive_cte" -> ((s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("customer_rcte")
      s.sql("""WITH RECURSIVE anc(id, node, depth) AS (
              |  SELECT c_custkey, c_custkey div 8, 1 FROM customer_rcte
              |  WHERE c_custkey div 8 >= 1
              |  UNION ALL
              |  SELECT a.id, e.c_custkey div 8, a.depth + 1
              |  FROM anc a JOIN customer_rcte e ON a.node = e.c_custkey
              |  WHERE e.c_custkey div 8 >= 1
              |)
              |SELECT id, count(*) AS n_anc,
              |       CAST(max(depth) AS BIGINT) AS height,
              |       CAST(sum(node) AS BIGINT) AS anc_sum
              |FROM anc GROUP BY id ORDER BY id""".stripMargin)
    }),

    // SQL pipe syntax (Spark 4's |> operator): the linear dataflow form
    // of the classic SELECT — each stage reads top-to-bottom the way the
    // engine executes it. The stages are pure PARSER sugar: WHERE before
    // AGGREGATE plans as the pushed scan filter, WHERE after AGGREGATE
    // as HAVING, EXTEND as a projection — the physical plan is identical
    // to the classic restatement the oracle states, which is exactly
    // what the hash grade proves.
    "q_pipe_syntax" -> ((s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_pipe")
      s.sql("""FROM lineitem_pipe
              ||> WHERE l_quantity >= 2
              ||> EXTEND CAST(floor(l_extendedprice * (1 - l_discount) * 100)
              |     AS BIGINT) AS rev_cents
              ||> AGGREGATE count(*) AS n, sum(rev_cents) AS rev_cents_sum
              |     GROUP BY l_returnflag, l_linestatus
              ||> WHERE n > 50
              ||> ORDER BY l_returnflag, l_linestatus""".stripMargin)
    }),

    // Parameterized SQL with IDENTIFIER binding: named parameters bind
    // as LITERALS at parse time (`:floor` lands in PushedFilters like a
    // hand-written constant) and IDENTIFIER() resolves attacker-safe
    // table/column names — the injection-proof templating surface a
    // multi-tenant 100 TB catalog fronts every ad-hoc query with. The
    // bound plan must be byte-identical to the hand-written query; the
    // oracle states that hand-written form.
    "q_param_sql" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders_param")
      s.sql(
        """SELECT IDENTIFIER(:grp) AS grp, count(*) AS n,
          |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
          |            AS BIGINT) AS total_cents
          |FROM IDENTIFIER(:tbl)
          |WHERE o_totalprice > :floor
          |GROUP BY IDENTIFIER(:grp)
          |ORDER BY grp""".stripMargin,
        Map("tbl" -> "orders_param", "grp" -> "o_orderpriority",
          "floor" -> 5000))
    }),

    // Session variables (SQL DECLARE / SET VAR): a data-derived scalar —
    // the exact-integer mean in cents — is computed ONCE into a session
    // variable, then referenced in the big query, where the analyzer
    // substitutes it as a foldable LITERAL. The scale contract: the
    // threshold scan carries a constant predicate (one small aggregate
    // up front) instead of a scalar-subquery join replanned per query —
    // the two-phase "compute a knob, then parameterize the fleet of
    // queries with it" pattern every orchestrated 100 TB pipeline uses.
    // The variable's value itself is graded (th_cents column).
    "q_session_vars" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders_var")
      s.sql("DECLARE OR REPLACE VARIABLE graft_th_cents BIGINT DEFAULT 0L")
      s.sql("""SET VAR graft_th_cents =
              |  (SELECT sum(CAST(floor(o_totalprice * 100) AS BIGINT))
              |          div count(*) FROM orders_var)""".stripMargin)
      s.sql("""SELECT o_orderpriority, count(*) AS n,
              |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
              |            AS BIGINT) AS cents,
              |       max(graft_th_cents) AS th_cents
              |FROM orders_var
              |WHERE CAST(floor(o_totalprice * 100) AS BIGINT)
              |      >= graft_th_cents
              |GROUP BY 1 ORDER BY 1""".stripMargin)
    }),

    // EXECUTE IMMEDIATE — dynamic SQL: the statement TEXT lives in a
    // session variable, binds positional ? parameters at execution, and
    // lands its result in variables via multi-column INTO. This is the
    // orchestration surface for metadata-driven pipelines (statements
    // assembled from a catalog, thresholds bound per run) — with
    // IDENTIFIER/named-params (q_param_sql) covering the injection-safe
    // leg, this covers the fully dynamic one. Both splits are graded in
    // one output row against a single conditional-aggregation oracle,
    // so the two dynamic executions must exactly tile the table.
    "q_execute_immediate" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders_dyn")
      s.sql("DECLARE OR REPLACE VARIABLE graft_stmt STRING DEFAULT ''")
      s.sql("DECLARE OR REPLACE VARIABLE graft_n_hi BIGINT DEFAULT 0L")
      s.sql("DECLARE OR REPLACE VARIABLE graft_hi_cents BIGINT DEFAULT 0L")
      s.sql("DECLARE OR REPLACE VARIABLE graft_n_lo BIGINT DEFAULT 0L")
      s.sql("DECLARE OR REPLACE VARIABLE graft_lo_cents BIGINT DEFAULT 0L")
      s.sql("""SET VAR graft_stmt =
              |'SELECT count(*),
              |        coalesce(sum(CAST(floor(o_totalprice * 100)
              |                           AS BIGINT)), 0L)
              | FROM orders_dyn
              | WHERE o_totalprice >= ? AND o_totalprice < ?'""".stripMargin)
      s.sql("""EXECUTE IMMEDIATE graft_stmt
              |INTO graft_n_hi, graft_hi_cents
              |USING 150000.0D, 1000000000.0D""".stripMargin)
      s.sql("""EXECUTE IMMEDIATE graft_stmt
              |INTO graft_n_lo, graft_lo_cents
              |USING 0.0D, 150000.0D""".stripMargin)
      s.sql("""SELECT graft_n_hi AS n_hi, graft_hi_cents AS hi_cents,
              |       graft_n_lo AS n_lo, graft_lo_cents AS lo_cents,
              |       graft_n_hi + graft_n_lo AS n_total""".stripMargin)
    }),

    // SQL scripting (BEGIN … WHILE … END): an iteratively re-trimmed
    // mean — threshold starts at max(cents) and each round becomes the
    // integer mean of the values at-or-under the previous threshold.
    // No single SQL statement expresses this without recursion; the
    // script's WHILE loop is DRIVER-side control flow where every round
    // is an independent distributed query (fixed round count, so plan
    // depth is bounded; at 100 TB the scanned input would be cached
    // once). The DuckDB oracle unrolls the same five rounds as chained
    // CTEs — the grade pins every iteration's exact integer arithmetic.
    "q_sql_script" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders_scr")
      // conf-scoped (ParityQueries.withConf): the scripting switch must
      // not leak into the shared-session harness's other queries
      ParityQueries.withConf(s, "spark.sql.scripting.enabled", "true") {
      s.sql("""BEGIN
              |  DECLARE th BIGINT DEFAULT 0;
              |  DECLARE i INT DEFAULT 0;
              |  SET th = (SELECT max(CAST(floor(o_totalprice * 100)
              |                            AS BIGINT))
              |            FROM orders_scr);
              |  WHILE i < 5 DO
              |    SET th = (SELECT sum(CAST(floor(o_totalprice * 100)
              |                              AS BIGINT)) div count(*)
              |              FROM orders_scr
              |              WHERE CAST(floor(o_totalprice * 100)
              |                         AS BIGINT) <= th);
              |    SET i = i + 1;
              |  END WHILE;
              |  SELECT th AS trimmed_mean_cents,
              |         CAST(i AS BIGINT) AS rounds,
              |         (SELECT count(*) FROM orders_scr
              |          WHERE CAST(floor(o_totalprice * 100) AS BIGINT)
              |                <= th) AS n_below;
              |END""".stripMargin)
      }
    }),

    // approx_top_k (Spark 4.1's frequent-items sketch): heavy hitters
    // without materializing the full distinct-key aggregate — the
    // sketch's bounded state merges partially through the exchange, so
    // at 100 TB the shuffle carries one fixed-size summary per
    // partition instead of |distinct keys| rows (the built-in sibling
    // of the Misra-Gries UDAF behind text_heavy_hitters). At the graded
    // cardinality (5 event types ≫ tracked slots) the sketch is exact,
    // so the oracle is the exact top-3 by (count desc, key) — verified
    // tie-free at both graded SFs.
    "q_approx_topk" -> ((s, dir) => {
      Tables.events(s, dir)
        .agg(expr("approx_top_k(event_type, 3)").as("tk"))
        .select(explode(col("tk")).as("t"))
        .select(col("t.item").as("event_type"), col("t.count").as("n"))
        .orderBy(col("n").desc, col("event_type"))
    }),

    // Query-metrics observability (df.observe / CollectMetrics): audit
    // aggregates ride the SAME scan as the pipeline's real action (a
    // noop-sink write here) — at 100 TB this is how row counts, money
    // totals, and null/flag tallies are captured WITHOUT a second pass
    // over the data. The graded result is the observed metrics row
    // itself (O(1), driver-side by design), checked against the oracle
    // stating the same aggregates — the piggybacked metrics must equal
    // what a dedicated aggregation pass would have produced.
    "q_observe_metrics" -> ((s, dir) => {
      import s.implicits._
      val obs = org.apache.spark.sql.Observation()
      val li = Tables.lineitem(s, dir).select(col("l_orderkey"),
        floor(col("l_extendedprice") * 100).cast("long").as("cents"),
        col("l_returnflag"))
      li.observe(obs,
          count(lit(1)).as("n_rows"),
          sum(col("cents")).as("total_cents"),
          count(when(col("l_returnflag") === "R", 1)).as("n_returned"),
          min(col("cents")).as("min_cents"),
          max(col("cents")).as("max_cents"))
        .write.format("noop").mode("overwrite").save()
      val m = obs.get
      Seq((m("n_rows").asInstanceOf[Long], m("total_cents").asInstanceOf[Long],
          m("n_returned").asInstanceOf[Long], m("min_cents").asInstanceOf[Long],
          m("max_cents").asInstanceOf[Long]))
        .toDF("n_rows", "total_cents", "n_returned", "min_cents", "max_cents")
    }),

    // As-of join (no native Spark equivalent): latest order at-or-before
    // each event, via the union-window technique (one shuffle on the key,
    // linear cost — see operators.AsOfJoin).
    "q_asof_join" -> ((s, dir) => {
      val e = Tables.events(s, dir).select("event_id", "user_id", "ts_ms")
      val r = Tables.orders(s, dir)
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
        .withColumn("o_ms", unix_millis(col("o_orderdate").cast("timestamp")))
      AsOfJoin.asofLeft(e, r, "user_id", "ts_ms", "o_custkey", "o_ms",
          Seq("o_orderkey"))
        .orderBy("event_id")
    }),

    // Range (band) join against a tiny interval dimension — broadcast
    // nested-loop on a 3-row side, so the fact table is scanned once.
    "q_range_join" -> ((s, dir) => {
      import s.implicits._
      val bands = Seq(
        (0.0, 100000.0, "low"),
        (100000.0, 200000.0, "mid"),
        (200000.0, 1000000000000.0, "high")).toDF("lo", "hi", "band")
      Tables.orders(s, dir)
        .join(broadcast(bands),
          col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("sum_tp"))
        .orderBy(col("band"))
    }),

    // Bucketed co-located join: both sides written bucketed on the join
    // key, so the repeated fact/dim join pays ZERO exchanges (the plan
    // property StorageSpec asserts; this query grades the end-to-end
    // answer through the bucketed path). Quantities aggregate as integer
    // cents — exact in any order. At 100 TB, bucketing is THE lever that
    // turns every recurring join on the same key into a local merge.
    "q_bucket_join" -> ((s, dir) => {
      // The warehouse path carries a per-(JVM, session) component next
      // to the sfDir tag: table existence lives in the SESSION's
      // in-memory catalog, so two concurrent JVMs (or sessions) on the
      // same sfDir would otherwise both see tableExists=false and write
      // the same directory concurrently — corrupt bucketed reads.
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_") + "_" +
        RelationalQueries.processTag + "_" +
        Integer.toHexString(System.identityHashCode(s))
      // tracked for JVM-exit delete: the tag embeds this process, so no
      // other JVM can be reading the directory when the hook fires
      val wh = ParityQueries.ScratchDirs.track(
        new java.io.File(sys.props("java.io.tmpdir"), s"graft_wh_$tag").getPath)
      // Bucketed layout is a ONE-TIME cost amortized over every later
      // join — so build each (session, sfDir) table once and let
      // repeated runs measure the join itself, which is the bucketing
      // value proposition. Table names carry the sfDir tag: a session
      // that touches several SFs must never co-locate against the
      // wrong corpus. Fresh sessions rebuild (in-memory catalog).
      def ensure(name: String, key: String, path: String,
                 df: => org.apache.spark.sql.DataFrame): Unit =
        if (!s.catalog.tableExists(name))
          df.write.mode("overwrite").option("path", path)
            .bucketBy(8, key).sortBy(key).saveAsTable(name)
      ensure(s"graft_orders_bucketed_$tag", "o_orderkey", s"$wh/orders_b",
        Tables.orders(s, dir).select("o_orderkey", "o_custkey"))
      ensure(s"graft_lineitem_bucketed_$tag", "l_orderkey", s"$wh/lineitem_b",
        Tables.lineitem(s, dir).select("l_orderkey", "l_quantity"))
      s.table(s"graft_orders_bucketed_$tag").hint("merge")
        .join(s.table(s"graft_lineitem_bucketed_$tag"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(round(col("l_quantity") * 100, 0).cast("long")).as("qty_cents"))
        .orderBy(col("o_custkey"))
    }),

    // Type-1 upsert (MERGE INTO without a table format): a delta batch
    // (every even order, restatused + repriced) merged over a base
    // snapshot (orders not divisible by 3) — updated where matched,
    // inserted where new, base preserved where unmatched. One
    // full-outer join on the key.
    "q_upsert" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val base = o.filter(col("o_orderkey") % 3 =!= 0)
      val delta = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
          round(col("o_totalprice") + 1000, 2).as("o_totalprice"))
      Upsert(base, delta, "o_orderkey")
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // Winsorization (percentile clipping) — the outlier-taming transform
    // before loss-sensitive statistics: per-group p05/p95 exact
    // percentiles (one buffer, two probes), broadcast back (|groups|
    // rows), clip each value. Thresholds are compared at round-4 — the
    // granularity the engines provably share for interpolated
    // percentiles (q_percentiles precedent) — so the clip verdicts and
    // booleans are engine-portable.
    "q_winsorize" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val pct = e.groupBy(col("event_type"))
        .agg(expr("percentile(value, array(0.05D, 0.95D))").as("__p"))
        .select(col("event_type"),
          round(col("__p").getItem(0), 4).as("__lo"),
          round(col("__p").getItem(1), 4).as("__hi"))
      e.join(broadcast(pct), "event_type")
        .select(col("event_id"), col("event_type"),
          round(greatest(least(col("value"), col("__hi")), col("__lo")), 4)
            .as("v_clip"),
          (col("value") < col("__lo")).as("clipped_low"),
          (col("value") > col("__hi")).as("clipped_high"))
        .orderBy("event_id")
    }),

    // Per-column data profile (the pre-ingest audit): row/null/distinct
    // counts + native-typed min/max rendered as strings, ALL metrics in
    // one aggregation pass with the long form pivoted from the single
    // aggregated row. Nulls injected into o_orderpriority so the null
    // counter is exercised. Exact distinct counts (the grading path);
    // the operator's exact=false flag swaps in single-scan HLL at scale.
    "q_profile" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .withColumn("o_orderpriority",
          when(col("o_orderkey") % 7 === 0, lit(null).cast("string"))
            .otherwise(col("o_orderpriority")))
      Profiling.profile(o, Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "o_orderdate", "o_orderpriority"))
        .orderBy(col("column"))
    }),

    // The profile's 100 TB path, GRADED: `exact = false` swaps the
    // 6-way countDistinct expand (q_profile's known cost — the
    // grading path) for HLL++ sketches in ONE expand-free scan. Two
    // HLL implementations never agree digit-for-digit, so the approx
    // VALUE cannot be hash-compared across engines; what this row
    // grades instead is (a) the exact legs (rows/nulls/distinct/
    // min/max) value-for-value against DuckDB and (b) the HLL
    // estimate's accuracy contract — |approx − exact| ≤ 15% (3σ at
    // the default rsd 0.05) of the SAME exact count DuckDB just
    // confirmed — as an integer cross-multiplied boolean. A broken or
    // drifting sketch path flips nd_approx_ok and fails the hash
    // gate. The exact leg exists here only to adjudicate the band;
    // production profiling at 100 TB runs the HLL leg alone.
    "q_profile_approx" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .withColumn("o_orderpriority",
          when(col("o_orderkey") % 7 === 0, lit(null).cast("string"))
            .otherwise(col("o_orderpriority")))
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      val approx = Profiling.profile(o, cols, exact = false)
        .select(col("column"), col("n_distinct").as("nd_approx"))
      Profiling.profile(o, cols)
        .join(broadcast(approx), "column")
        .select(col("column"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_value"), col("max_value"),
          (abs(col("nd_approx") - col("n_distinct")) * 100 <=
            col("n_distinct") * 15).as("nd_approx_ok"))
        .orderBy(col("column"))
    }),

    // The approx profile SOLO — no exact leg anywhere in the plan, so
    // the bench finally shows what the 100 TB profile pass actually
    // costs. The engine-opaque approx_count_distinct is swapped for
    // the REPLAYABLE graft HLL (operators/Sketches): every column's
    // values stack into ONE (column, value-string) relation via a
    // 6-way explode, per-column row/null counts and the per-(column,
    // bucket) register maxima all ride partial-aggregable
    // HashAggregates off that single scan (register state ≤ 256 rows
    // per column through the exchange), and the ESTIMATE ITSELF
    // hash-grades — the oracle replays md5 → bucket/rho → register
    // max → harmonic sum bit-for-bit (oracleCtesOver), a strictly
    // stronger grade than q_profile_approx's 15%-band verdict. Values
    // hash through their CAST-to-string rendering, the double/date
    // parity q_profile's min/max strings already pin. An all-null
    // column has no registers: the left join + coalesce replays the
    // oracle's empty-spine estimate of 0.
    "q_profile_approx_solo" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .withColumn("o_orderpriority",
          when(col("o_orderkey") % 7 === 0, lit(null).cast("string"))
            .otherwise(col("o_orderpriority")))
      val cols = Seq("o_custkey", "o_orderdate", "o_orderkey",
        "o_orderpriority", "o_orderstatus", "o_totalprice")
      // Spread the pruned columns before the 6-way explode + md5 bucket
      // projection: the single-row-group scan would otherwise run the
      // whole stack single-threaded (guide §2.5; no-op at scale).
      val stacked = Spread.forCompute(o.select(cols.map(col): _*))
        .select(explode(array(cols.map(c =>
          struct(lit(c).as("column"), col(c).cast("string").as("v"))): _*))
          .as("p"))
        .select(col("p.column").as("column"), col("p.v").as("v"))
      // ONE linear chain, ONE scan: null values fold into a −1
      // sentinel bucket so the (column, bucket) pre-aggregation carries
      // row counts, null counts, AND the register maxima (≤257 rows per
      // column through the exchange); the second aggregate then
      // finalizes EVERYTHING per column in closed form — absent buckets
      // contribute (256 − present)·2^60 to the harmonic sum and
      // v0 = 256 − present (the hllEstimateMicro discipline: stored
      // registers always have mreg ≥ 1, so no 256-bucket spine, no
      // self-join, no consumer fan-out for column pruning to
      // specialize). All-null columns fall out for free: present = 0 →
      // linear-counting branch → estimate 0.
      val level1 = Sketches.hllBucketRho(stacked, "column", col("v"))
        .groupBy(col("column"), coalesce(col("bucket"), lit(-1)).as("bucket"))
        .agg(count(lit(1)).as("nrows"), max(col("rho")).as("mreg"))
      level1.groupBy(col("column"))
        .agg(sum(col("nrows")).as("n_rows"),
          sum(when(col("bucket") === -1, col("nrows")).otherwise(0L))
            .as("n_nulls"),
          (sum(when(col("bucket") >= 0, expr(
              "cast(shiftleft(cast(1 as bigint), 60 - mreg) as decimal(38,0))"))
              .otherwise(lit(0).cast("decimal(38,0)"))) +
            (lit(256L) - sum(when(col("bucket") >= 0, 1L).otherwise(0L)))
              .cast("decimal(38,0)") *
              lit(1152921504606846976L).cast("decimal(38,0)")).as("ssum"),
          sum(when(col("bucket") >= 0, 1L).otherwise(0L)).as("present"))
        .select(col("column"), col("n_rows"), col("n_nulls"),
          col("present").as("registers_nonzero"),
          round(Sketches.estimateExpr(col("ssum"), lit(256L) - col("present")),
            2).as("hll_estimate"))
        .orderBy(col("column"))
    }),

    // Referential-integrity audit: orphaned-FK counts for three
    // relationships in one report. Parents are filtered (%5 / %7) so
    // the orphan branches are non-trivial; null FKs are injected into
    // the customer→nation leg and counted separately (a null FK is not
    // an orphan). Each leg is one left join on the key + one aggregate.
    "q_referential_integrity" -> ((s, dir) => {
      val orders = Tables.orders(s, dir)
      val customer = Tables.customer(s, dir)
      val li = Tables.lineitem(s, dir)
      val oParent = orders.filter(col("o_orderkey") % 5 =!= 0)
      val cParent = customer.filter(col("c_custkey") % 7 =!= 0)
      val cChild = customer.withColumn("c_nationkey",
        when(col("c_custkey") % 11 === 0, lit(null).cast("long"))
          .otherwise(col("c_nationkey")))
      Profiling.orphans(li, "l_orderkey", oParent, "o_orderkey",
          "lineitem->orders")
        .unionByName(Profiling.orphans(orders, "o_custkey",
          cParent, "c_custkey", "orders->customer"))
        .unionByName(Profiling.orphans(cChild, "c_nationkey",
          Tables.nation(s, dir), "n_nationkey", "customer->nation"))
        .orderBy(col("relation"))
    }),

    // Ordered CDC changelog apply: three change batches (seq 1 update,
    // seq 2 delete tombstone, seq 3 update) against a base snapshot —
    // latest change per key wins via a partial-aggregable max_by (no
    // window), tombstoned keys drop, a later update RE-INSERTS a
    // deleted key (%40 keys), and updates to absent keys insert. The
    // full matrix of CDC outcomes in one full-outer join.
    "q_cdc_apply" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val base = o.filter(col("o_orderkey") % 3 =!= 0)
      val c1 = o.filter(col("o_orderkey") % 4 === 0)
        .select(col("o_orderkey"), lit(1L).as("seq"), lit("U").as("op"),
          lit("U1").as("o_orderstatus"),
          round(col("o_totalprice") + 500, 2).as("o_totalprice"))
      val c2 = o.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), lit(2L).as("seq"), lit("D").as("op"),
          lit(null).cast("string").as("o_orderstatus"),
          lit(null).cast("double").as("o_totalprice"))
      val c3 = o.filter(col("o_orderkey") % 8 === 0)
        .select(col("o_orderkey"), lit(3L).as("seq"), lit("U").as("op"),
          lit("U3").as("o_orderstatus"),
          round(col("o_totalprice") + 900, 2).as("o_totalprice"))
      Upsert.cdcApply(base, c1.unionByName(c2).unionByName(c3), "o_orderkey")
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // UNPIVOT (melt): the inverse of q_pivot — wide per-type counts back
    // to long (user_id, event_type, n) form. Expand-based, one pass.
    "q_unpivot" -> ((s, dir) => {
      val wide = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count().na.fill(0L)
      wide.unpivot(Array(col("user_id")),
          Array(col("click"), col("error"), col("purchase"),
            col("signup"), col("view")),
          "event_type", "n")
        .filter(col("n") > 0)
        .orderBy(col("user_id"), col("event_type"))
    }),

    // arg-max/arg-min aggregates (max_by/min_by): the accompanying-value
    // aggregation that avoids a self-join or window for "row of the max".
    // Ties broken deterministically by aggregating the EXTREME (max id)
    // among tied rows via a struct ordering: max_by with a composite
    // (price, key) ordering key.
    "q_argmax" -> ((s, dir) =>
      Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(
          expr("max_by(o_orderkey, struct(o_totalprice, o_orderkey))").as("top_order"),
          expr("min_by(o_orderkey, struct(o_totalprice, -o_orderkey))").as("bottom_order"),
          round(max(col("o_totalprice")), 2).as("max_tp"))
        .orderBy(col("o_custkey"))),

    // Bivariate statistics (Pearson correlation, population covariance,
    // OLS slope/intercept/R²) from EXACT integer moments: quantities and
    // prices become cents, the five sums accumulate as DECIMAL(38,0)
    // (DuckDB's BIGINT sum widens to HUGEINT — exact in both engines, and
    // Σy² at 10^14/row would overflow a raw BIGINT by sf0.1), and only
    // the FINAL combination runs in doubles. Because both engines combine
    // the same exact integers through the same IEEE expression tree, the
    // rounded statistics are bit-deterministic — no reliance on either
    // engine's streaming corr() kernel, whose partial-merge order is not
    // reproducible. One partial-aggregable groupBy; 3 groups.
    "q_corr_agg" -> ((s, dir) => {
      val m = Tables.lineitem(s, dir)
        .select(col("l_returnflag"),
          floor(col("l_quantity") * 100).cast("long").as("x"),
          floor(col("l_extendedprice") * 100).cast("long").as("y"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast("decimal(38,0)")).as("sx"),
          sum(col("y").cast("decimal(38,0)")).as("sy"),
          sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
          sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
          sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"))
      val nd = col("n").cast("double")
      val sxd = col("sx").cast("double")
      val syd = col("sy").cast("double")
      val sxyd = col("sxy").cast("double")
      val sxxd = col("sxx").cast("double")
      val syyd = col("syy").cast("double")
      val covNum = nd * sxyd - sxd * syd
      val varX = nd * sxxd - sxd * sxd
      val varY = nd * syyd - syd * syd
      m.select(col("l_returnflag"), col("n"),
          round(covNum / sqrt(varX * varY), 6).as("corr_xy"),
          round(covNum / (nd * nd), 6).as("covar_pop"),
          round(covNum / varX, 6).as("slope"),
          round((syd - covNum / varX * sxd) / nd, 6).as("intercept"),
          round(covNum * covNum / (varX * varY), 6).as("r2"))
        .orderBy(col("l_returnflag"))
    }),

    // Chi-square test of independence (order priority × market segment):
    // the contingency table is one partial-aggregable count over the
    // fact-dim join; marginals and the statistic are computed on the
    // 25-CELL aggregate, never the raw rows — row/col totals and the
    // grand total ride back as broadcast joins (at 100 TB the post-agg
    // stage is constant-size regardless of fact cardinality). Expected
    // counts go through doubles BEFORE multiplying (row_tot·col_tot
    // overflows BIGINT at cluster scale).
    "q_chi_squared" -> ((s, dir) => {
      val scored = priorityContingency(s, dir)
      val totals = scored.agg(sum(col("cmicro")).as("chi2m"),
        countDistinct(col("o_orderpriority")).as("np"),
        countDistinct(col("c_mktsegment")).as("ns"))
      scored.crossJoin(broadcast(totals))
        .select(col("o_orderpriority"), col("c_mktsegment"), col("obs"),
          round(col("expected"), 4).as("expected"),
          (col("cmicro") / 1e6).as("contrib"),
          (expr("(chi2m + 50) div 100") / 1e4).as("chi2_total"),
          ((col("np") - 1) * (col("ns") - 1)).as("dof"))
        .orderBy(col("o_orderpriority"), col("c_mktsegment"))
    }),

    // Exact per-group mode with a deterministic smallest-value tie-break:
    // two stacked partial-aggregable HashAggregates — (event_type, user)
    // counts, then an argmax packed into ONE BIGINT
    // (cnt·2^31 + (2^31−1−user)) so the buffer stays fixed-width (the
    // IVF-assignment / label-propagation pack; a struct max_by would
    // demote to ObjectHashAggregate). No window over the raw rows.
    "q_mode" -> ((s, dir) => {
      val pack = 1L << 31
      Tables.events(s, dir)
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("event_type"))
        .agg(max(col("cnt") * lit(pack) +
            (lit(pack - 1) - col("user_id"))).as("packed"),
          sum(col("cnt")).as("n_events"),
          count(lit(1)).as("n_users"))
        .select(col("event_type"),
          (lit(pack - 1) - pmod(col("packed"), lit(pack))).as("mode_user"),
          expr(s"packed div ${pack}").as("mode_cnt"),
          col("n_events"), col("n_users"))
        .orderBy(col("event_type"))
    }),

    // WITH RECURSIVE, distributed: every customer's root ancestor and
    // exact depth along the synthetic parent chain c → c − (c mod 7 + 1)
    // (root when the step goes negative). The sequential oracle walks
    // the chain one edge per recursion step (depth ≈ N/7 rounds); the
    // Spark side pointer-DOUBLES in 12 fixed self-joins — 2^12 = 4096
    // depth headroom covers sf0.1's max depth of 2,142 with the round
    // count growing only logarithmically in scale.
    "q_recursive_hierarchy" -> ((s, dir) =>
      Hierarchy.rootAndDepth(
        Tables.customer(s, dir)
          .select(col("c_custkey"),
            when(col("c_custkey") - (pmod(col("c_custkey"), lit(7)) + 1) < 0,
              lit(null).cast("long"))
              .otherwise(col("c_custkey") -
                (pmod(col("c_custkey"), lit(7)) + 1)).as("parent")),
        "c_custkey", "parent", rounds = 12)
        .orderBy(col("id"))),

    // Snapshot diff — classify every key across two corpus versions as
    // added / removed / changed / same in one full-outer join (the audit
    // report a data-versioning layer derives between ingests; the
    // companion of q_upsert, which produces the merged state).
    "q_table_diff" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val v1 = o.filter(col("o_orderkey") % 3 =!= 0)
      val v2 = Upsert(v1,
        o.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
            round(col("o_totalprice") + 1000, 2).as("o_totalprice")),
        "o_orderkey")
        // simulated deletions so the diff exercises all four branches
        .filter(col("o_orderkey") % 7 =!= 1)
      v1.as("a").join(v2.as("b"), Seq("o_orderkey"), "full_outer")
        .select(col("o_orderkey"),
          when(col("a.o_orderstatus").isNull, "added")
            .when(col("b.o_orderstatus").isNull, "removed")
            .when(col("a.o_orderstatus") === col("b.o_orderstatus") &&
              col("a.o_totalprice") === col("b.o_totalprice"), "same")
            .otherwise("changed").as("status"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("min_key"))
        .orderBy(col("status"))
    }),

    // SCD type-2 history between two snapshots: where q_upsert
    // overwrites (type 1), this KEEPS the old row and closes its
    // validity interval — unchanged keys stay open from v1, changed
    // keys get a closed v1 row + an open v2 row, deleted keys close,
    // inserted keys open at v2. One full-outer join, no window.
    "q_scd2" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val v1 = o.filter(col("o_orderkey") % 13 =!= 0)
      val v2 = o.filter(col("o_orderkey") % 7 =!= 1)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 5 === 0, "R")
            .otherwise(col("o_orderstatus")).as("o_orderstatus"),
          when(col("o_orderkey") % 5 === 0, round(col("o_totalprice") + 100, 2))
            .otherwise(col("o_totalprice")).as("o_totalprice"))
      Upsert.scd2(v1, v2, "o_orderkey")
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("o_totalprice"),
          col("valid_from"), col("valid_to"), col("is_current"))
        .orderBy(col("o_orderkey"), col("valid_from"))
    }),

    // Point-in-time (feature-store) join: every lineitem "event" sees
    // the order attributes that were LIVE at its version timestamp from
    // the SCD2 history — never its future (label leakage) and never a
    // deleted era. The as-of union-window shape keeps it ONE shuffle,
    // linear in |events|+|history| (the naive interval join is
    // O(|matches|)); events before a key's first version and events in
    // a deleted key's post-deletion era drop out, both exercised by the
    // v1/v2 construction.
    "q_pit_join" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val v1 = o.filter(col("o_orderkey") % 13 =!= 0)
      val v2 = o.filter(col("o_orderkey") % 7 =!= 1)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 5 === 0, "R")
            .otherwise(col("o_orderstatus")).as("o_orderstatus"),
          when(col("o_orderkey") % 5 === 0, round(col("o_totalprice") + 100, 2))
            .otherwise(col("o_totalprice")).as("o_totalprice"))
      val hist = Upsert.scd2(v1, v2, "o_orderkey")
      val events = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_linenumber") % 2 + 1).cast("long").as("t"))
      Upsert.pointInTime(events, hist, "l_orderkey", "t", "o_orderkey",
          pick = Seq("o_orderstatus", "o_totalprice"))
        .select(col("l_orderkey"), col("l_linenumber"), col("t"),
          col("o_orderstatus"), round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // Null-ordering semantics: Spark defaults to NULLS FIRST for ASC,
    // DuckDB (and the SQL standard's common choice) to NULLS LAST — the
    // graded query pins the explicit asc_nulls_last form so the engines
    // provably agree on where nulls sort.
    "q_sort_nulls" -> ((s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 7 === 0, lit(null).cast("string"))
            .otherwise(col("o_orderpriority")).as("prio"))
        .orderBy(col("prio").asc_nulls_last, col("o_orderkey"))),

    // Exact decimal aggregation: money summed as DECIMAL(18,2) is
    // bit-exact in any engine and any summation order (double sums are
    // not associative); the final cast to double is lossless because
    // the total stays far under 2^53 cents.
    "q_decimal_agg" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_returnflag"),
          col("l_extendedprice").cast("decimal(18,2)").as("p"))
        .groupBy(col("l_returnflag"))
        .agg(sum(col("p")).as("sp"), count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("sp").cast("double").as("sum_price"),
          col("n"))
        .orderBy(col("l_returnflag"))),

    // Fixed-width value histogram per group — one two-phase hash
    // aggregation; bucket count is bounded by the value domain, never
    // the row count.
    "q_histogram" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"),
          (floor(col("value") / 50) * 50).cast("long").as("bucket_lo"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"), col("bucket_lo"))),

    // Per-group outlier detection (|x − μ| > 2σ) in EXACT integer
    // arithmetic: with integer cents, n·x − S and n·Q − S² recast the
    // float z-score test as a cross-multiplied integer inequality
    // (n·x − S)² > 4·(n·Q − S²) — no doubles anywhere, so the
    // boundary rows that a float sqrt/stddev would make engine-flaky
    // are bit-deterministic. One aggregation + one broadcast-sized
    // join back (150 user rows); long-safe through sf≈10 (bounds in
    // the scaladoc-adjacent comment: d² ≤ 1.1e17, 4(nQ−S²) ≤ 4e17).
    "q_outliers" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .withColumn("cents", floor(col("value") * 100).cast("long"))
      val stats = e.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"),
          sum(col("cents") * col("cents")).as("q"))
      val d = col("n") * col("cents") - col("s")
      e.join(broadcast(stats), "user_id")
        .filter(d * d > lit(4L) * (col("n") * col("q") - col("s") * col("s")))
        .select(col("user_id"), col("event_id"), col("cents"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // Bloom-filter pre-filtered semi join (the explicit runtime-filter
    // pattern): lineitem rows are bit-tested against a bloom of the
    // selective orders subset BEFORE the join shuffle, then the exact
    // semi join removes false positives — row-identical to the plain
    // semi join, which is what the oracle asserts.
    "q_bloom_join" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select("l_orderkey", "l_quantity")
      val big = Tables.orders(s, dir)
        .filter(col("o_totalprice") > 400000.0)
        .select("o_orderkey")
      Skew.bloomSemiJoin(li, "l_orderkey", big, "o_orderkey")
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("l_orderkey"))
    }),

    // Exact interpolated percentiles per group (Spark `percentile` and
    // DuckDB `quantile_cont` share (n-1)*q linear interpolation).
    //
    // MEMORY BOUND: the exact `percentile` buffers EVERY value of the
    // group in one OpenHashMap — per-group memory is O(group size), so
    // this form is only safe when groups are known-small (here: grading
    // at sf≤0.1). At pipeline scale use q_percentiles_sketch below —
    // same shape, partial-aggregable constant-memory sketch.
    "q_percentiles" -> ((s, dir) =>
      // No spread: the exact percentile buffer is value-count state the
      // size of the column — parallel partial buffers just move the cost
      // into the 3-task merge + a fat buffer shuffle (measured 1.74 s →
      // 2.01 s with a spread, reverted).
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          // both l_quantity quantiles from ONE percentile buffer — the
          // exact percentile collects the column per group, so merging
          // the two probes halves that collection
          expr("percentile(l_quantity, array(0.5D, 0.9D))").as("__q"),
          expr("round(percentile(l_extendedprice, 0.5), 4)").as("p50_price"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"),
          round(col("__q").getItem(0), 4).as("p50_qty"),
          round(col("__q").getItem(1), 4).as("p90_qty"),
          col("p50_price"), col("n"))
        .orderBy(col("l_returnflag"))),

    // Sketch percentiles (Greenwald-Khanna quantile summaries via
    // `approx_percentile`): constant-memory, partial-aggregable — the
    // 100 TB replacement for the exact form above. The sketch value is
    // algorithm-specific, so the graded surface is the exact quantile
    // plus a relative-error bound on the sketch (q_approx_distinct
    // pattern): accuracy=2000 caps rank error at n/2000 — for these
    // group sizes (~200k rows at sf0.1) that is ~100 order statistics
    // of a smooth price distribution, far inside the 5% value gate,
    // at ~1/5 the summary size of the accuracy=10000 default.
    //
    // KNOWN FAILURE MODE (deliberate): the oracle hardcodes
    // `TRUE AS sketch_within_5pct`; if the sketch ever drifts past 5%
    // relative error the query fails as a hash mismatch on that boolean
    // — check `sketch_within_5pct` first when debugging here. Note the
    // spread below makes the merged GK summary depend on the partition
    // count (defaultParallelism), so the sketch value — and in
    // principle that boolean — is also a function of the HOST's core
    // count (ADVICE r13); the ~100-order-statistic headroom against a
    // 5% band keeps it safely TRUE at any partitioning.
    "q_percentiles_sketch" -> ((s, dir) =>
      // Spread: parallel partial sketch/percentile buffers (guide §2.5).
      // The GK summary is merge-sound under any partitioning and the
      // graded surface only reads it through the 5% accuracy band.
      Spread.forCompute(Tables.lineitem(s, dir).select(
          col("l_returnflag"), col("l_extendedprice")))
        .groupBy(col("l_returnflag"))
        .agg(
          expr("approx_percentile(l_extendedprice, array(0.5D, 0.9D), 2000)").as("__a"),
          expr("percentile(l_extendedprice, array(0.5D, 0.9D))").as("__e"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("n"),
          round(col("__e").getItem(0), 4).as("p50_exact"),
          round(col("__e").getItem(1), 4).as("p90_exact"),
          ((abs(col("__a").getItem(0) - col("__e").getItem(0)) <=
             col("__e").getItem(0) * 0.05) &&
           (abs(col("__a").getItem(1) - col("__e").getItem(1)) <=
             col("__e").getItem(1) * 0.05)).as("sketch_within_5pct"))
        .orderBy(col("l_returnflag"))),

    // Explicit GROUPING SETS — two independent one-dimension groupings
    // in a single pass over the fact table (a shape neither ROLLUP nor
    // CUBE expresses): one scan, Expand, one aggregation.
    "q_grouping_sets" -> ((s, dir) =>
      Tables.orders(s, dir)
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("sum_tp"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)),

    // CUBE grouping sets over two low-cardinality dimensions.
    "q_cube" -> ((s, dir) =>
      Tables.orders(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)),

    // Sessionization: 30-minute inactivity gap, pure window functions —
    // shuffle once on user_id, then two window passes over the same
    // partitioning (no second exchange).
    "q_sessionize" -> ((s, dir) =>
      userSessions(s, dir).orderBy(col("user_id"), col("session_id"))),

    // Interval concurrency over the sessionization output — "how many
    // sessions were open when this one started" — via the distributed
    // sweep line (Sweep.concurrency): ±1 deltas at interval endpoints,
    // one range exchange, per-partition prefix sums, P longs of driver
    // state. The naive global `sum() OVER (ORDER BY t)` would funnel
    // every delta through ONE task; the self-join formulation would be
    // O(n²) in concurrent sessions. This is linear at any scale.
    "q_sweep_concurrency" -> ((s, dir) =>
      Sweep.concurrency(userSessions(s, dir),
          "sess_start_ms", "sess_end_ms", "user_id", "session_id")
        .select(col("user_id"), col("session_id"),
          col("sess_start_ms"), col("sess_end_ms"), col("concurrent"))
        .orderBy(col("user_id"), col("session_id"))),

    // Distribution window functions: ntile / percent_rank / cume_dist
    // over the same one-shuffle partitioning as the other user windows.
    "q_window_distribution" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_ms"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_ms"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 4).as("pr"),
          round(cume_dist().over(w), 4).as("cd"))
        .orderBy(col("user_id"), col("ts_ms"), col("event_id"))
    }),

    // Aggregate FILTER clause — per-group conditional aggregation in the
    // SQL-standard form (one pass; a WHERE would change the group's base
    // rows). Money sums in integer cents, exact in any order.
    "q_filter_agg" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders_fa")
      s.sql("""
        SELECT o_orderstatus, count(*) AS n,
               count(*) FILTER (WHERE o_totalprice > 300000) AS n_big,
               sum(CAST(round(o_totalprice * 100) AS BIGINT))
                 FILTER (WHERE o_orderpriority = '1-URGENT') AS urgent_cents
        FROM orders_fa GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    }),

    // Position-independent UNION: the two legs present columns in
    // different orders; unionByName aligns by NAME (a positional UNION
    // would silently zip k with src). The oracle uses DuckDB's
    // UNION ALL BY NAME.
    "q_union_by_name" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val a = o.filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey").as("k"), lit("a").as("src"))
      val b = o.filter(col("o_orderkey") % 7 === 0)
        .select(lit("b").as("src"), col("o_orderkey").as("k"))
      a.unionByName(b).orderBy(col("k"), col("src"))
    }),

    // EXISTS + NOT EXISTS in one query — both decorrelate (semi join +
    // anti join); the graded point is that the two correlated predicates
    // compose without per-row re-execution.
    "q_exists_subquery" -> ((s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("customer_ex")
      Tables.orders(s, dir).createOrReplaceTempView("orders_ex")
      s.sql("""
        SELECT c_custkey, c_mktsegment
        FROM customer_ex c
        WHERE EXISTS (SELECT 1 FROM orders_ex o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 400000)
          AND NOT EXISTS (SELECT 1 FROM orders_ex o2
                          WHERE o2.o_custkey = c.c_custkey
                            AND o2.o_orderstatus = 'F')
        ORDER BY c_custkey""")
    }),

    // Calendar/date function battery over order dates — trunc, parts,
    // ISO week, end-of-month, month arithmetic (both engines clamp
    // add-months at month end), day diffs from an epoch date.
    // dayofweek: Spark is 1=Sunday, DuckDB dow is 0=Sunday — the oracle
    // adds 1 so the CONVENTION difference is pinned, not papered over.
    "q_datetime_funcs" -> ((s, dir) =>
      Tables.orders(s, dir).select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("yr"),
        quarter(col("o_orderdate")).cast("long").as("qtr"),
        weekofyear(col("o_orderdate")).cast("long").as("iso_week"),
        dayofweek(col("o_orderdate")).cast("long").as("dow1"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
        last_day(col("o_orderdate")).as("month_end"),
        add_months(to_date(col("o_orderdate")), 3).as("plus3m"),
        datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast("date"))
          .cast("long").as("days_since"))
        .orderBy(col("o_orderkey"))),

    // LATERAL correlated subquery — top-2 orders PER customer in the
    // SQL-standard lateral form. Catalyst decorrelates the per-row
    // LIMIT subquery into a ranked join (no nested-loop re-execution
    // per outer row — the property that makes the surface usable at
    // scale); the oracle runs the identical lateral SQL.
    "q_lateral_topk" -> ((s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("customer_lat")
      Tables.orders(s, dir).createOrReplaceTempView("orders_lat")
      s.sql("""
        SELECT c_custkey, o_orderkey, round(o_totalprice, 2) AS tp
        FROM customer_lat JOIN LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders_lat
          WHERE o_custkey = c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        ORDER BY c_custkey, o_orderkey""")
    }),

    // Navigation window functions: first/last/nth value and lead over
    // the per-user event timeline — the gap-to-next / session-anchor
    // shapes. last_value needs the FULL frame pinned explicitly (the
    // default frame stops at CURRENT ROW, silently returning the
    // current value — a classic window-semantics trap both engines
    // agree on once the frame is explicit). Values pass through
    // untouched, so cross-engine equality is bit-exact.
    "q_window_nav" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_ms"), col("event_id"))
      val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"),
          first(col("value")).over(w).as("first_v"),
          last(col("value")).over(wFull).as("last_v"),
          nth_value(col("value"), 2).over(w).as("second_v"),
          lead(col("value"), 1).over(w).as("next_v"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // GROUPING SETS with grouping() flags: the flags are the only way a
    // consumer can tell "NULL because aggregated away" from "NULL in the
    // data" — graded with both flags cast to BIGINT so the engines'
    // native grouping() widths can't drift the hash.
    "q_grouping_id" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders_gid")
      s.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
               CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority,
               count(*) AS n
        FROM orders_gid
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
        ORDER BY g_status, g_priority,
                 o_orderstatus ASC NULLS LAST, o_orderpriority ASC NULLS LAST""")
    }),

    // Ordered string aggregation (collect_list is order-nondeterministic
    // after a shuffle, so sort_array pins it — the deterministic twin of
    // DuckDB's string_agg(... ORDER BY ...)).
    "q_string_agg" -> ((s, dir) =>
      Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(concat_ws(",", sort_array(collect_list(col("o_orderstatus"))))
            .as("statuses"),
          count(lit(1)).as("n"))
        .orderBy(col("o_custkey"))),

    // Correlated SCALAR subquery — Catalyst decorrelates it into an
    // outer join + aggregate (the q_sql_surface IN-subquery's sibling).
    "q_scalar_subquery" -> ((s, dir) => {
      Seq("customer", "orders").foreach(n =>
        Tables.table(s, dir, n).createOrReplaceTempView(n))
      s.sql(
        """SELECT c_custkey,
          |       round((SELECT max(o_totalprice) FROM orders
          |              WHERE o_custkey = c_custkey), 2) AS max_tp
          |FROM customer WHERE c_custkey <= 300
          |ORDER BY c_custkey""".stripMargin)
    }),

    // The BUILT-IN session_window run in batch — the engine-managed twin
    // of q_sessionize's hand-rolled window formulation (and the batch
    // form of Streaming.sessionWindowAgg, which this calls directly).
    // Semantics differ from q_sessionize at the boundary: session_window
    // merges event windows that OVERLAP, so a gap of exactly 30 min
    // starts a new session here (>= gap splits) where q_sessionize's
    // `> gap` keeps it open — and the session end is last-event + gap,
    // not last-event. The oracle replays the merge rule exactly.
    "q_session_window" -> ((s, dir) =>
      graft.streaming.Streaming.sessionWindowAgg(
          Tables.events(s, dir), "30 minutes")
        .orderBy(col("user_id"), col("sess_start_ms"))),

    // Ordered conversion funnel (view → click → purchase, strictly
    // increasing event times per user): the product-analytics staple.
    // Each step is a per-user min-aggregate gated on the PREVIOUS step's
    // time — three partial-aggregable groupBys + two equi-joins on
    // user_id, never a per-user sort or a sequence window. The step
    // tables shrink monotonically (only converting users survive), so
    // at 100 TB each later stage joins against a smaller per-user
    // relation on the same key.
    "q_funnel" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts_ms"))
      val t1 = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts_ms")).as("t1"))
      val t2 = e.filter(col("event_type") === "click")
        .join(t1, "user_id").filter(col("ts_ms") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("ts_ms")).as("t2"))
      val t3 = e.filter(col("event_type") === "purchase")
        .join(t2, "user_id").filter(col("ts_ms") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("ts_ms")).as("t3"))
      def step(name: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("users")).withColumn("step", lit(name))
      step("1_view", t1).unionByName(step("2_click", t2))
        .unionByName(step("3_purchase", t3))
        .select(col("step"), col("users"))
        .orderBy(col("step"))
    }),

    // Triangle counting on the supplier co-occurrence graph (suppliers
    // sharing an order), the graph-analytics classic with a real scale
    // trap: the naive wedge join explodes on high-degree hubs. The
    // standard fix — orient every edge from the lower-(degree, id)
    // endpoint to the higher — bounds each vertex's out-degree by
    // O(sqrt(edges)), so the wedge self-join is near-linear on skewed
    // graphs instead of quadratic in the hub degree. Each triangle is
    // counted exactly once: only its lowest-rank vertex emits the wedge,
    // closed by the canonical (id-ordered) undirected edge.
    // The graded instance bounds the graph to suppkey <= 300: the
    // fixture's co-occurrence graph approaches COMPLETE as SF grows
    // (every pair eventually shares an order), where triangle count is
    // Theta(V^3) and any algorithm is output-bound — the cap keeps the
    // benchmark measuring the join shape, not the degenerate-graph
    // output size. (At sf0.01 every supplier is <= 300, so the graded
    // result is the full graph.)
    "q_triangles" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .filter(col("l_suppkey") <= 300)
        .select(col("l_orderkey"), col("l_suppkey"))
      val edges = li.alias("a").join(li.alias("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_suppkey") < col("b.l_suppkey"))
        .select(col("a.l_suppkey").as("u"), col("b.l_suppkey").as("v"))
        .distinct()
      val deg = edges.select(col("u").as("x"))
        .unionAll(edges.select(col("v").as("x")))
        .groupBy(col("x")).agg(count(lit(1)).as("d"))
      val withDeg = edges
        .join(deg.select(col("x").as("u"), col("d").as("du")), "u")
        .join(deg.select(col("x").as("v"), col("d").as("dv")), "v")
      val oriented = withDeg.select(
        when(col("du") < col("dv") ||
             (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("src"),
        when(col("du") < col("dv") ||
             (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("dst"))
      val triangles = oriented.alias("p").join(oriented.alias("q"),
          col("p.src") === col("q.src") && col("p.dst") < col("q.dst"))
        .select(col("p.dst").as("u"), col("q.dst").as("v"))
        .join(edges, Seq("u", "v"))
        .agg(count(lit(1)).as("triangles"))
      val vertices = deg.agg(count(lit(1)).as("vertices"))
      val edgeCount = edges.agg(count(lit(1)).as("edges"))
      vertices.crossJoin(edgeCount).crossJoin(triangles)
    }),

    // SQL null-semantics traps as a graded contract: NOT IN against a
    // NULL-containing subquery is empty BY DEFINITION (three-valued
    // logic — the comparison is never true, never false), NOT EXISTS
    // with the same predicate returns real rows, and null-safe equality
    // (<=> / IS NOT DISTINCT FROM) additionally matches the NULL-NULL
    // pairs. An engine that "fixes" any of these silently corrupts
    // every anti-join built on them; both engines must agree on all
    // five counts. Catalyst plans the legs as broadcast null-aware
    // anti/semi joins — no per-row subquery execution.
    "q_null_semantics" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          nullif(get_json_object(col("props"), "$.k").cast("long") % 10, lit(0))
            .as("b"))
        .createOrReplaceTempView("ns_base")
      s.sql("""
        WITH probe AS (SELECT DISTINCT nullif(user_id % 10, 3) AS p FROM ns_base)
        SELECT r.n_rows, r.n_b_notnull, ni.n_not_in, ne.n_not_exists, nsf.n_nullsafe
        FROM (SELECT count(*) AS n_rows, count(b) AS n_b_notnull FROM ns_base) r,
             (SELECT count(*) AS n_not_in FROM ns_base
              WHERE b NOT IN (SELECT p FROM probe)) ni,
             (SELECT count(*) AS n_not_exists FROM ns_base t
              WHERE NOT EXISTS (SELECT 1 FROM probe WHERE p = t.b)) ne,
             (SELECT count(*) AS n_nullsafe FROM ns_base t
              WHERE EXISTS (SELECT 1 FROM probe WHERE p <=> t.b)) nsf""")
    }),

    // Cumulative (running-total) metric over the whole order history —
    // the balance/rollforward query every ledger runs — via the same
    // distributed sweep (Sweep.runningSum): daily revenue aggregates in
    // EXACT integer cents, then a range-partitioned prefix sum. The
    // naive global-window formulation is a SinglePartition stage; this
    // is one shuffle + P longs of driver state at any scale.
    "q_running_total" -> ((s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("day_cents"))
      Sweep.runningSum(daily, col("day_cents"), "cum_cents", col("day"))
        .select(col("day"), col("day_cents"), col("cum_cents"))
        .orderBy(col("day"))
    }),

    // Last-touch marketing attribution: each purchase is attributed to
    // the user's most recent preceding click's campaign (props.k) via
    // the SAME as-of machinery as q_asof_join — one union + one window
    // over the user partitioning, no inequality-join explosion. Clicks
    // are pre-deduped to one row per (user, ts) with a max_by tie-break
    // (the as-of contract requires a unique right key/time), and
    // revenue aggregates in exact integer cents. Purchases with no
    // prior click land in the NULL-campaign bucket (organic), pinned
    // first in the output order on both engines.
    "q_attribution" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_ms"), col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k0"))
        .groupBy(col("user_id"), col("ts_ms"))
        .agg(expr("max_by(k0, event_id)").as("campaign"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id").as("buyer"),
          col("ts_ms").as("p_ms"),
          round(col("value") * 100, 0).cast("long").as("cents"))
      AsOfJoin.asofLeft(purchases, clicks,
          "buyer", "p_ms", "user_id", "ts_ms", pick = Seq("campaign"))
        .groupBy(col("campaign"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("cents")).as("revenue_cents"))
        .orderBy(col("campaign").asc_nulls_first)
    }),

    // GROUP-aware k-fold assignment (GroupKFold semantics): the FOLD is
    // a pure hash of the GROUP key (source domain), so every document
    // of a domain lands in the same fold — cross-validation splits that
    // leak near-duplicate siblings across folds overestimate every
    // metric. One partial-aggregable pass; fold membership is
    // reproducible by any engine from the md5 formula.
    "data_kfold" -> ((s, dir) =>
      Tables.documents(s, dir)
        .withColumn("fold", Sampling.hashBucket("source", 5))
        .groupBy(col("fold"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          min(col("doc_id")).as("min_doc"))
        .orderBy(col("fold"))),

    // Cohort retention — the product-analytics matrix: users bucketed
    // by first-activity week, activity counted per (cohort, week
    // offset). Two partial-aggregable aggregations + one equi-join on
    // user_id; the distinct-user count shuffles (cohort, offset,
    // user_id) keys with map-side dedup. No window, no per-user sort.
    "q_cohort_retention" -> ((s, dir) => {
      val weekMs = 604800000L
      val e = Tables.events(s, dir).select(col("user_id"), col("ts_ms"))
      val first = e.groupBy(col("user_id"))
        .agg(min(col("ts_ms")).as("first_ms"))
        .withColumn("cohort_week", expr(s"first_ms div $weekMs"))
      e.join(first, "user_id")
        .withColumn("week_offset",
          expr(s"(ts_ms div $weekMs) - cohort_week"))
        .groupBy(col("cohort_week"), col("week_offset"))
        .agg(countDistinct(col("user_id")).as("active_users"))
        .orderBy(col("cohort_week"), col("week_offset"))
    }),

    // Markov transition matrix over session-adjacent event pairs: one
    // lead() window over the session partitioning (the same single
    // exchange all session queries share), then a partial-aggregable
    // pair count; transition probabilities normalize against per-source
    // totals with a window over the GROUPED counts (|event types|² rows,
    // bounded by the vocabulary, never the data).
    "q_transition_matrix" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("session_id"))
        .orderBy(col("ts_ms"), col("event_id"))
      val pairs = sessionizedEvents(s, dir)
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      pairs
        .withColumn("p", round(col("n") /
          sum(col("n")).over(Window.partitionBy(col("from_type"))), 6))
        .orderBy(col("from_type"), col("to_type"))
    }),

    // MATCH_RECOGNIZE-lite: per session, the exact ordered event-type
    // sequence (one letter per event) and whether it matches the
    // view→click→purchase conversion pattern. The sequence is built by
    // array_sort over (ts_ms, event_id, letter) structs INSIDE the
    // per-session aggregate — deterministic ordered aggregation with one
    // shuffle on the session key and per-group state bounded by the
    // session length, never a global sort. The regex runs once per
    // session row (codegen), not per event.
    "q_event_pattern" -> ((s, dir) => {
      val lettered = sessionizedEvents(s, dir)
        .withColumn("letter", substring(col("event_type"), 1, 1))
      lettered.groupBy(col("user_id"), col("session_id"))
        .agg(concat_ws("",
            expr("transform(array_sort(collect_list(struct(ts_ms, event_id, letter))), x -> x.letter)"))
          .as("seq"))
        .withColumn("converted", col("seq").rlike("v.*c.*p"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    // Higher central moments (skewness / excess kurtosis) per group from
    // EXACT integer power sums: values go to micro-units (×1000), the four
    // raw power sums accumulate in decimal(38,0) (x⁴ ≈ 10²³ per row —
    // BIGINT would overflow; DuckDB mirrors with HUGEINT), and only the
    // final constant-per-group algebra runs in doubles. One
    // partial-aggregable HashAggregate — the same single-pass shape as
    // q_corr_agg, so at 100 TB the shuffle carries 5 groups × 5 numbers.
    // skew = m3/(m2·√m2) deliberately avoids pow(x, 1.5): sqrt is
    // correctly-rounded IEEE in both engines, libm pow is not.
    "q_moments" -> ((s, dir) => {
      val x = col("x")
      val m = Tables.events(s, dir)
        .select(col("event_type"),
          floor(col("value") * 1000).cast("decimal(38,0)").as("x"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(x).as("s1"), sum(x * x).as("s2"),
          sum(x * x * x).as("s3"), sum(x * x * x * x).as("s4"))
      val nd = col("n").cast("double")
      val a1 = col("s1").cast("double") / nd
      val a2 = col("s2").cast("double") / nd
      val a3 = col("s3").cast("double") / nd
      val a4 = col("s4").cast("double") / nd
      val m2 = a2 - a1 * a1
      val m3 = a3 - lit(3.0) * a1 * a2 + lit(2.0) * a1 * a1 * a1
      val m4 = a4 - lit(4.0) * a1 * a3 + lit(6.0) * a1 * a1 * a2 -
        lit(3.0) * a1 * a1 * a1 * a1
      m.select(col("event_type"), col("n"),
          // exact integer mean in 1e-4 units (micro-sum·10 div n) — the
          // round()-free form that cannot hit a half-digit boundary
          (expr("(cast(s1 as bigint) * 10) div n") / 10000.0).as("mean"),
          round(m3 / (m2 * sqrt(m2)), 6).as("skewness"),
          round(m4 / (m2 * m2) - 3.0, 6).as("excess_kurtosis"))
        .orderBy(col("event_type"))
    }),

    // Benford first-significant-digit audit over order totals — the
    // data-quality screen for fabricated/synthetic numerics. The digit is
    // taken from the decimal STRING rendering (both engines print doubles
    // via shortest-round-trip, so no libm log10 edge at powers of ten);
    // everything after the 9-row digit histogram is constant-size.
    "q_benford" -> ((s, dir) => {
      val digits = Tables.orders(s, dir)
        .select(substring(col("o_totalprice").cast("string"), 1, 1)
          .cast("int").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      val tot = digits.agg(sum(col("n")).as("total"))
      digits.crossJoin(broadcast(tot))
        .withColumn("obs_share", col("n").cast("double") / col("total").cast("double"))
        .withColumn("exp_share", log10(lit(1.0) + lit(1.0) / col("digit").cast("double")))
        .select(col("digit"), col("n"),
          round(col("obs_share"), 6).as("obs_share"),
          round(col("exp_share"), 6).as("exp_share"),
          round(col("total").cast("double") *
            (col("obs_share") - col("exp_share")) *
            (col("obs_share") - col("exp_share")) / col("exp_share"), 6)
            .as("chi2_contrib"))
        .orderBy(col("digit"))
    }),

    // Welch's unequal-variance t-test (click vs view event values) from
    // ONE conditional-aggregation pass over exact integer cents: n/Σx/Σx²
    // per arm ride a single partial-aggregable HashAggregate, and the
    // t-statistic + Welch–Satterthwaite df are constant-time algebra on
    // the 1-row aggregate. At petabyte counts the Σx² sums would move to
    // decimal(38,0) like q_moments; BIGINT is exact through sf100.
    "q_ttest_welch" -> ((s, dir) => {
      val cents = floor(col("value") * 100).cast("long")
      val isA = col("event_type") === "click"
      val isB = col("event_type") === "view"
      val m = Tables.events(s, dir)
        .filter(isA || isB)
        .select(col("event_type"), cents.as("c"))
        .agg(
          sum(when(isA, 1L).otherwise(0L)).as("n1"),
          sum(when(isA, col("c")).otherwise(0L)).as("s1"),
          sum(when(isA, col("c") * col("c")).otherwise(0L)).as("q1"),
          sum(when(isB, 1L).otherwise(0L)).as("n2"),
          sum(when(isB, col("c")).otherwise(0L)).as("s2"),
          sum(when(isB, col("c") * col("c")).otherwise(0L)).as("q2"))
      val n1 = col("n1").cast("double"); val n2 = col("n2").cast("double")
      val m1 = col("s1").cast("double") / n1
      val m2 = col("s2").cast("double") / n2
      val v1 = (col("q1").cast("double") - col("s1").cast("double") * col("s1").cast("double") / n1) / (n1 - 1.0)
      val v2 = (col("q2").cast("double") - col("s2").cast("double") * col("s2").cast("double") / n2) / (n2 - 1.0)
      val se1 = v1 / n1; val se2 = v2 / n2
      m.select(col("n1"), col("n2"),
          // exact integer means — cents/n ratios can land on decimal
          // half-digit boundaries where the engines' round() disagree
          (expr("(s1 * 100) div n1") / 10000.0).as("mean_click"),
          (expr("(s2 * 100) div n2") / 10000.0).as("mean_view"),
          round((m1 - m2) / sqrt(se1 + se2), 6).as("t_stat"),
          round((se1 + se2) * (se1 + se2) /
            (se1 * se1 / (n1 - 1.0) + se2 * se2 / (n2 - 1.0)), 4).as("welch_df"))
    }),

    // Rank-based AUC (Mann–Whitney U) of the value signal as a
    // purchase classifier — the eval-side companion of the statistical
    // tests: every model-quality pipeline ends in "what's the AUC".
    // Shape: the fact table collapses to per-VALUE (count, positives)
    // first (partial-aggregable, output bounded by distinct values);
    // tie-corrected average ranks come from Sweep.runningSum over that
    // value table (range partition + P longs of driver state — no
    // single-partition window at any scale). Exactness: average ranks
    // are half-integers, so everything runs in DOUBLED rank units —
    // U2 = Σ pos_v·(2·cum_before_v + cnt_v + 1) is an exact BIGINT
    // (≈ 2·n_pos·n at sf100 ≈ 1e17, within range), and
    // AUC = (U2 − n_pos(n_pos+1)) / (2·n_pos·n_neg) is ONE double
    // division — no float sum, no round() boundary anywhere upstream.
    "q_auc" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(floor(col("value") * 100).cast("long").as("cents"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
      val byVal = e.groupBy(col("cents"))
        .agg(count(lit(1)).as("cnt"), sum(col("pos")).as("npos"))
      val run = Sweep.runningSum(byVal, col("cnt"), "cum", col("cents"))
      val u = run
        .select((col("npos") *
          (lit(2) * (col("cum") - col("cnt")) + col("cnt") + 1)).as("u2"),
          col("npos"), col("cnt"))
        .agg(sum(col("u2")).as("u2"), sum(col("npos")).as("n_pos"),
          sum(col("cnt")).as("n"))
      u.select(col("n_pos"), (col("n") - col("n_pos")).as("n_neg"),
        round((col("u2") - col("n_pos") * (col("n_pos") + 1)).cast("double") /
          (lit(2.0) * col("n_pos").cast("double") *
            (col("n") - col("n_pos")).cast("double")), 6).as("auc"))
    }),

    // Two-sample Kolmogorov–Smirnov: D = max_x |F_a(x) − F_b(x)|
    // between the purchase and non-purchase value distributions — the
    // distribution-equality test the drift battery (PSI, JSD, chi²)
    // lacks: nonparametric, sensitive to ANY shape difference, not
    // just binned mass. Exactness: D's numerator runs entirely in
    // integers — per distinct value the single delta
    // ca·n_b − cb·n_a accumulates to cumA·n_b − cumB·n_a (one
    // runningSum), so D_num = max|·| is an exact BIGINT and
    // D = D_num/(n_a·n_b) is ONE double division (the q_auc
    // contract; products ≤ n² fit BIGINT through ~3e9 rows). The max
    // LOCATION ties break to the smallest value. Shape: the fact
    // table collapses to per-VALUE counts first (partial-aggregable,
    // bounded by distinct values); the cumulative walk is
    // Sweep.runningSum — range partition + P driver longs, never a
    // single-partition window; the two scalar re-joins broadcast
    // 1-row aggregates.
    "q_ks_test" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(floor(col("value") * 100).cast("long").as("cents"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("isa"))
      val byVal = e.groupBy(col("cents"))
        .agg(sum(col("isa")).as("ca"),
          (count(lit(1)) - sum(col("isa"))).as("cb"))
      val tot = byVal.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
      val d = byVal.crossJoin(broadcast(tot))
        .select(col("cents"),
          (col("ca") * col("nb") - col("cb") * col("na")).as("delta"))
      val run = Sweep.runningSum(d, col("delta"), "g", col("cents"))
      val mx = run.agg(max(abs(col("g"))).as("dnum"))
      val at = run.crossJoin(broadcast(mx))
        .filter(abs(col("g")) === col("dnum"))
        .agg(min(col("cents")).as("at_cents"))
      tot.crossJoin(broadcast(mx)).crossJoin(broadcast(at))
        .select(col("na").as("n_a"), col("nb").as("n_b"),
          round(col("dnum").cast("double") /
            (col("na") * col("nb")).cast("double"), 6).as("ks_d"),
          (col("at_cents") / lit(100.0)).as("ks_at"))
    }),

    // Holt double-exponential (level + trend) smoothing over the daily
    // revenue series — the forecasting primitive behind every capacity
    // and demand dashboard. The recurrence l_t = ½(y_t + l + b),
    // b_t = ½((l_t − l) + b) runs ENTIRELY in exact integer cents with
    // explicit floor-halving (v − pmod(v, 2) makes the operand even, so
    // Spark's truncating `div` and DuckDB's flooring `//` agree on
    // negatives too) — the "approximate" smoother carries an exact
    // replayable oracle, the pageRank trick applied to a sequential
    // recurrence. Shape: the fact table collapses to the calendar-
    // bounded daily rollup FIRST (partial-aggregable, ≤ 2.4k rows at
    // any SF — the q_changepoint contract), and the fold runs once over
    // the collected series in day order (sequential by nature; the
    // array is dimension-sized, never the data).
    "q_holt" -> ((s, dir) => {
      val daily = Tables.orders(s, dir)
        .select(to_date(col("o_orderdate")).as("day"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy(col("day")).agg(sum(col("cents")).as("cents"))
      val packed = daily
        .agg(sort_array(collect_list(struct(col("day"), col("cents")))).as("s"))
      packed.select(explode(expr(
        """aggregate(
          |  s,
          |  named_struct('l', cast(null as bigint), 'b', cast(0 as bigint),
          |    'out', cast(array() as array<struct<day:date,cents:bigint,level:bigint,trend:bigint>>)),
          |  (acc, x) -> CASE WHEN acc.l IS NULL THEN
          |      named_struct('l', x.cents, 'b', cast(0 as bigint),
          |        'out', array(named_struct('day', x.day, 'cents', x.cents,
          |          'level', x.cents, 'trend', cast(0 as bigint))))
          |    ELSE named_struct(
          |      'l', (x.cents + acc.l + acc.b
          |            - pmod(x.cents + acc.l + acc.b, 2)) div 2,
          |      'b', ((((x.cents + acc.l + acc.b
          |              - pmod(x.cents + acc.l + acc.b, 2)) div 2) - acc.l + acc.b)
          |            - pmod(((x.cents + acc.l + acc.b
          |              - pmod(x.cents + acc.l + acc.b, 2)) div 2) - acc.l + acc.b, 2))
          |           div 2,
          |      'out', array_append(acc.out, named_struct('day', x.day,
          |        'cents', x.cents,
          |        'level', (x.cents + acc.l + acc.b
          |                  - pmod(x.cents + acc.l + acc.b, 2)) div 2,
          |        'trend', ((((x.cents + acc.l + acc.b
          |                - pmod(x.cents + acc.l + acc.b, 2)) div 2) - acc.l + acc.b)
          |              - pmod(((x.cents + acc.l + acc.b
          |                - pmod(x.cents + acc.l + acc.b, 2)) div 2) - acc.l + acc.b, 2))
          |             div 2)))
          |    END,
          |  acc -> acc.out)""".stripMargin)).as("r"))
        .select(col("r.day").as("day"), col("r.cents").as("cents"),
          col("r.level").as("level_cents"), col("r.trend").as("trend_cents"))
        .orderBy("day")
    }),

    // Difference-in-differences — the quasi-experimental effect
    // estimator (did = (μ_treat,post − μ_treat,pre) − (μ_ctrl,post −
    // μ_ctrl,pre)). ONE conditional-aggregation pass over exact integer
    // cents builds all four cell sums; every displayed number derives
    // from the QUANTIZED integer means ((s·100) div n — the
    // q_seasonality lesson: raw cents/n ratios land on half-digit
    // round() boundaries), so the effect is exact integer algebra with
    // no round() call anywhere. Constant-size after the first aggregate
    // at any event volume; the split day comes from the data's own
    // min/max (scale-factor-free), matching q_cuped's protocol.
    "q_diff_in_diff" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("user_id"), expr("ts_ms div 86400000").as("day"),
          floor(col("value") * 100).cast("long").as("cents"))
      val split = e.agg(expr("(min(day) + max(day) + 1) div 2").as("sd"))
      val cells = e.crossJoin(broadcast(split))
        .select(pmod(col("user_id"), lit(2)).as("arm"),
          when(col("day") >= col("sd"), 1).otherwise(0).as("post"),
          col("cents"))
        .groupBy(col("arm"), col("post"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
        // pmod-subtraction: truncating div ≡ floor even for a negative
        // cents sum (refund-heavy cells), matching the oracle's //
        .withColumn("mean_e4", expr("(s * 100 - pmod(s * 100, n)) div n"))
      val wide = cells.groupBy()
        .pivot(concat(col("arm"), lit("_"), col("post")),
          Seq("0_0", "0_1", "1_0", "1_1"))
        .agg(first(col("mean_e4")))
      wide.select(
        (col("0_0") / 1e4).as("ctrl_pre"), (col("0_1") / 1e4).as("ctrl_post"),
        (col("1_0") / 1e4).as("treat_pre"), (col("1_1") / 1e4).as("treat_post"),
        ((col("1_1") - col("1_0") - (col("0_1") - col("0_0"))) / 1e4).as("did"))
    }),

    // Poisson bootstrap CI for the mean — THE scalable bootstrap
    // (Chamandy et al., Google 2012): instead of resampling n rows B
    // times (impossible distributed), each row draws an independent
    // Poisson(1) weight per replicate — one pass, B counters per
    // partition, fully partial-aggregable at 100 TB. Weights come from
    // the md5-seeded inverse CDF (the data_dp_noise replayability
    // device: a real release swaps in a CSPRNG); the cumulative
    // thresholds are shared literals, so both engines draw identical
    // weights. The digest is AMORTIZED: each 128-bit md5 carves into
    // FOUR 24-bit uniforms (hex chars 1–6, 7–12, 13–18, 19–24), so
    // B=48 replicates cost 12 digests per row, not 48 — md5 dominates
    // this query's CPU and this is a straight 4× on the hot loop.
    // Replicate sums are exact longs; each replicate mean is one
    // double division; the CI is one percentile over B=48 values.
    "q_bootstrap_ci" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("event_id"), floor(col("value") * 100).cast("long").as("cents"))
      // 12 md5 digests + 48 hex-substring uniforms per row: spread the
      // two-column input so the replicate-weight projection runs on
      // every core instead of the one scan task (guide §2.5). All
      // downstream aggregates are exact integer sums (w, w·cents) and a
      // percentile buffer — partition-order-invariant.
      val reps = Spread.forCompute(e).select(col("event_id"), col("cents"),
          explode(expr("sequence(0, 11)")).as("g"))
        .withColumn("hx", md5(concat(col("event_id").cast("string"), lit("|"),
          col("g").cast("string"))))
        .select(col("cents"), col("g"), col("hx"),
          explode(expr("sequence(0, 3)")).as("j"))
        .select(col("cents"), (col("g") * 4 + col("j")).as("b"),
          (expr("cast(conv(substr(hx, 1 + 6 * j, 6), 16, 10) as double)")
            / lit(16777216.0)).as("u"))
        .withColumn("w", when(col("u") < 0.36787944117144233, 0L)
          .when(col("u") < 0.7357588823428847, 1L)
          .when(col("u") < 0.9196986029286058, 2L)
          .when(col("u") < 0.9810118431238462, 3L)
          .when(col("u") < 0.9963401531726563, 4L)
          .when(col("u") < 0.9994058151824183, 5L)
          .when(col("u") < 0.9999167588507119, 6L)
          .when(col("u") < 0.9999897508033253, 7L).otherwise(8L))
      val repMeans = reps.groupBy(col("b"))
        .agg(sum(col("w")).as("n"), sum(col("w") * col("cents")).as("sc"))
        .select(col("b"),
          (col("sc").cast("double") / col("n").cast("double")).as("m"))
      val ci = repMeans.agg(
        expr("percentile(m, array(0.025D, 0.975D))").as("ci"),
        count(lit(1)).as("n_replicates"))
      val base = e.agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"))
      base.crossJoin(broadcast(ci))
        .select(col("n"),
          // exact integer point mean in 1e-4 cents (the half-digit-safe
          // form; pmod-subtraction keeps div ≡ floor for negative sums)
          (expr("(sc * 10000 - pmod(sc * 10000, n)) div n") / 1e4)
            .as("point_mean_cents"),
          round(col("ci").getItem(0), 4).as("ci_lo_cents"),
          round(col("ci").getItem(1), 4).as("ci_hi_cents"),
          col("n_replicates"))
    }),

    // Sample-ratio-mismatch guard — the first sanity gate of every A/B
    // readout (a biased assignment invalidates q_diff_in_diff/q_cuped
    // before any effect math). For a 50/50 design the 1-dof chi-square
    // collapses algebraically to (a−b)²/N — exact integer numerator,
    // ONE division — and the 3.841 cut (p < 0.05) compares on exact
    // values. One distinct-user aggregate; everything after is 1-row
    // algebra.
    "q_ab_srm" -> ((s, dir) => {
      val arms = Tables.events(s, dir)
        .select(col("user_id")).distinct()
        .select(pmod(col("user_id"), lit(2)).as("arm"))
        .groupBy(col("arm")).agg(count(lit(1)).as("n"))
      val w = arms.agg(
        sum(when(col("arm") === 0, col("n")).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1, col("n")).otherwise(0L)).as("n_b"))
      w.select(col("n_a"), col("n_b"),
        round((col("n_a") - col("n_b")).cast("double") *
          (col("n_a") - col("n_b")).cast("double") /
          (col("n_a") + col("n_b")).cast("double"), 6).as("chi2"),
        ((col("n_a") - col("n_b")).cast("double") *
          (col("n_a") - col("n_b")).cast("double") /
          (col("n_a") + col("n_b")).cast("double") > 3.841).as("srm_flag"))
    }),

    // Population Stability Index between the first and second half of
    // the event stream — the drift monitor every production scoring
    // pipeline runs (PSI > 0.2 ⇒ retrain). Bins are the full-stream
    // value deciles (ONE percentile aggregate, broadcast back — no
    // ntile window over events); per-bin shares are exact counts and
    // the Σ (p−q)·ln(p/q) total quantizes each term to pico-units
    // before an associative BIGINT sum with integer HALF_UP rounding —
    // the text_js_divergence discipline (PSI's ln terms are the same
    // order-dependent float-sum trap).
    "q_psi" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(expr("ts_ms div 86400000").as("day"),
          floor(col("value") * 100).cast("long").as("cents"))
      val split = e.agg(expr("(min(day) + max(day) + 1) div 2").as("sd"))
      val cuts = e.agg(expr(
        "percentile(cents, array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D))")
        .as("cs"))
      val binned = e.crossJoin(broadcast(split)).crossJoin(broadcast(cuts))
        .select(when(col("day") < col("sd"), 0).otherwise(1).as("half"),
          expr("size(filter(cs, c -> c < cents))").as("bin"))
        .groupBy(col("bin"))
        .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("na"),
          sum(when(col("half") === 1, 1L).otherwise(0L)).as("nb"))
      val tot = binned.agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"))
      val scored = binned.crossJoin(broadcast(tot))
        .withColumn("p", col("na").cast("double") / col("ta").cast("double"))
        .withColumn("q", col("nb").cast("double") / col("tb").cast("double"))
        // An EMPTY half-bin makes the textbook term infinite (ln of 0
        // or of ∞) — precisely the total-drift case. Flag it instead
        // of letting ±Inf corrupt the BIGINT sum (Spark) or crash the
        // cast (DuckDB): the flag IS the alarm, and finite bins still
        // report their mass.
        .withColumn("empty_bin", col("na") === 0 || col("nb") === 0)
        .withColumn("pico",
          when(col("empty_bin"), lit(0L)).otherwise(
            round((col("p") - col("q")) * log(col("p") / col("q")) * 1e12, 0)
              .cast("long")))
      val t = scored.agg(sum(col("pico")).as("psi_pico"),
        max(col("empty_bin")).as("psi_truncated"))
      scored.crossJoin(broadcast(t))
        .select(col("bin"), col("na"), col("nb"), col("empty_bin"),
          (col("pico") / 1e12).as("term"),
          (expr("(psi_pico + 500000) div 1000000") / 1e6).as("psi"),
          col("psi_truncated"))
        .orderBy("bin")
    }),

    // Kaplan–Meier survivor curve over user lifetime (days between
    // first and last event; the fixture observes every lifetime, so the
    // KM product-limit estimator reduces EXACTLY to the empirical
    // survivor function — each step is (N − cum_deaths)/N, one exact
    // integer ratio, no running float product anywhere). Shape: the
    // event table collapses to per-user (first, last) in ONE
    // partial-aggregable pass; the curve lives on the ≤ |distinct
    // lifetime| day grid with Sweep-free cumulative counting via a
    // calendar-bounded window (lifetimes ≤ the fixture's day span).
    "q_survival_km" -> ((s, dir) => {
      val life = Tables.events(s, dir)
        .select(col("user_id"), expr("ts_ms div 86400000").as("day"))
        .groupBy(col("user_id"))
        .agg((max(col("day")) - min(col("day"))).as("lifetime"))
      val byT = life.groupBy(col("lifetime").as("t"))
        .agg(count(lit(1)).as("d"))
      val tot = byT.agg(sum(col("d")).as("n_users"))
      val w = Window.orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byT.crossJoin(broadcast(tot))
        .withColumn("cum_d", sum(col("d")).over(w))
        .select(col("t"), col("d"),
          (col("n_users") - col("cum_d") + col("d")).as("n_at_risk"),
          round(col("d").cast("double") /
            (col("n_users") - col("cum_d") + col("d")).cast("double"), 6)
            .as("hazard"),
          round((col("n_users") - col("cum_d")).cast("double") /
            col("n_users").cast("double"), 6).as("survival"))
        .orderBy("t")
    }),

    // Robust outlier screen: per-group median + MAD (median absolute
    // deviation), flagging |x − med| > 3·1.4826·MAD. Three passes over
    // events, but the per-group medians/MADs come back as BROADCAST
    // joins (5 rows), so no pass shuffles the fact table. The exact
    // `percentile` buffers per-group values — same documented bound as
    // q_percentiles; the sketch variant is the stated 100 TB path.
    "q_mad_outliers" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("event_type"), floor(col("value") * 100).cast("long").as("cents"))
      val med = e.groupBy(col("event_type"))
        .agg(expr("percentile(cents, 0.5D)").as("med"), count(lit(1)).as("n"))
      val dev = e.join(broadcast(med), "event_type")
        .withColumn("adev", abs(col("cents") - col("med")))
      val mad = dev.groupBy(col("event_type"))
        .agg(expr("percentile(adev, 0.5D)").as("mad"))
      dev.join(broadcast(mad), "event_type")
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n"), max(col("med")).as("med_c"), max(col("mad")).as("mad_c"),
          sum(when(col("adev") > lit(4.4478) * col("mad"), 1L).otherwise(0L)).as("n_outliers"))
        .select(col("event_type"), col("n"),
          round(col("med_c") / 100.0, 4).as("median"),
          round(col("mad_c") / 100.0, 4).as("mad"),
          col("n_outliers"),
          round(col("n_outliers").cast("double") / col("n").cast("double"), 6).as("outlier_pct"))
        .orderBy(col("event_type"))
    }),

    // k-anonymity audit over quasi-identifiers (nation × market segment)
    // — the privacy gate a training-data release pipeline runs before
    // shipping user-derived rows. Group sizes are one partial-aggregable
    // count; the corpus-level k / at-risk mass is a 1-row aggregate of
    // the ≤175-row group table crossed back by broadcast.
    "q_k_anonymity" -> ((s, dir) => {
      val g = Tables.customer(s, dir)
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("k"))
      val tot = g.agg(min(col("k")).as("k_anonymity"),
        sum(when(col("k") < 5, col("k")).otherwise(0L)).as("at_risk_rows"),
        sum(col("k")).as("n_rows"))
      g.crossJoin(broadcast(tot))
        .select(col("c_nationkey"), col("c_mktsegment"), col("k"),
          (col("k") < 5).as("at_risk"),
          col("k_anonymity"), col("at_risk_rows"),
          round(col("at_risk_rows").cast("double") / col("n_rows").cast("double"), 6)
            .as("at_risk_pct"))
        .orderBy(col("c_nationkey"), col("c_mktsegment"))
    }),

    // Order-independent table fingerprint — the migration/replication
    // integrity check ("is the copied table EXACTLY the source?"). Each
    // row hashes its full field tuple through md5 (48-bit prefix); the
    // fingerprint is the SUM of row hashes — commutative/associative,
    // so ANY partitioning, file order, or engine computes the same
    // value, and a single changed, dropped, or duplicated row flips
    // it. The accumulator is decimal(38,0) (Σ 2^48-scale hashes passes
    // BIGINT ~1e5 rows) folded to BIGINT by one modulus. ONE scan, one
    // partial-aggregable sum — the cheapest possible whole-table
    // equality witness at 100 TB.
    "q_table_fingerprint" -> ((s, dir) => {
      val h = Tables.customer(s, dir)
        .select(expr(
          """cast(conv(substr(md5(concat_ws('|',
            |  cast(c_custkey as string), c_name,
            |  cast(c_nationkey as string), c_mktsegment)), 1, 12), 16, 10)
            |  as decimal(38,0))""".stripMargin).as("h"))
      h.agg(count(lit(1)).as("n_rows"), sum(col("h")).as("s"))
        .select(col("n_rows"),
          expr("cast(s % 9223372036854775807 as bigint)").as("fingerprint"))
    }),

    // Degree assortativity of the synthetic link graph — Newman's
    // degree-correlation coefficient (do hubs link to hubs?), the
    // topology diagnostic for crawl/link graphs. Per symmetrized edge
    // the endpoint degrees join from the degree table; the Pearson r
    // over (deg_u, deg_v) pairs runs on exact BIGINT moment sums (the
    // q_corr_agg pattern on graph data) with one sqrt at the end.
    "graph_assortativity" -> ((s, dir) => {
      val d = TrainingDataQueries.linkGraph(Tables.documents(s, dir))
      val e = d.union(d.select(col("dst").as("src"), col("src").as("dst")))
        .filter(col("src") =!= col("dst")).distinct()
      val deg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
      val pairs = e
        .join(deg.select(col("id").as("src"), col("deg").as("x")), "src")
        .join(deg.select(col("id").as("dst"), col("deg").as("y")), "dst")
      val m = pairs.agg(count(lit(1)).as("ne"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      val ne = col("ne").cast("double")
      val sx = col("sx").cast("double"); val sy = col("sy").cast("double")
      val sxy = col("sxy").cast("double"); val sxx = col("sxx").cast("double")
      val syy = col("syy").cast("double")
      m.select(col("ne").as("n_edges"),
        round((ne * sxy - sx * sy) /
          sqrt((ne * sxx - sx * sx) * (ne * syy - sy * sy)), 6)
          .as("assortativity"))
    }),

    // l-diversity audit — k-anonymity's stronger sibling: a QI group
    // can be large (k-safe) yet expose its members if everyone shares
    // the SAME sensitive value. Per (nation, segment) group: distinct
    // sensitive values (order priority of the members' orders) and the
    // frequency of the modal value; l = min distinct, and groups where
    // one value dominates (> 80%) flag even when k passes. Two stacked
    // partial-aggregable HashAggregates (group × value, then group)
    // with the packed-BIGINT argmax — bounded by |QI| × |values|.
    "q_l_diversity" -> ((s, dir) => {
      val pack = 1L << 31
      val joined = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
        .join(Tables.orders(s, dir)
          .select(col("o_custkey"), col("o_orderpriority")),
          col("c_custkey") === col("o_custkey"))
      val byVal = joined
        .groupBy(col("c_nationkey"), col("c_mktsegment"),
          col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))
      // priority rank 1..5 from its leading digit keeps the argmax pack
      // numeric without hashing the string
      val g = byVal
        .withColumn("pv", substring(col("o_orderpriority"), 1, 1).cast("long"))
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("l_distinct"),
          sum(col("cnt")).as("n_rows"),
          max(col("cnt") * lit(pack) + (lit(pack - 1) - col("pv"))).as("packed"))
      g.select(col("c_nationkey"), col("c_mktsegment"),
          col("l_distinct"), col("n_rows"),
          expr(s"packed div $pack").as("modal_cnt"),
          (lit(pack - 1) - pmod(col("packed"), lit(pack))).as("modal_priority"),
          (expr(s"packed div $pack") * 5 > col("n_rows") * 4).as("dominance_flag"))
        .orderBy(col("c_nationkey"), col("c_mktsegment"))
    }),

    // Maximum drawdown of the cumulative daily revenue curve — the
    // risk-analytics classic (peak-to-trough drop of a running series).
    // The fact table collapses to the DAILY rollup first; cumulative
    // sum, running max, and the argmax drawdown all run on the
    // calendar-bounded series (≤366 rows/year — the q_changepoint
    // contract), so the unpartitioned windows never see data-sized
    // input. Exact integer cents end to end.
    "q_drawdown" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .select(expr("ts_ms div 86400000").as("day"),
          floor(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("day")).agg(sum(col("cents")).as("rev"))
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily
        .withColumn("cum", sum(col("rev")).over(w))
        .withColumn("runmax", max(col("cum")).over(w))
        .withColumn("drawdown", col("runmax") - col("cum"))
        .select(col("day").as("trough_day"), col("cum"), col("runmax"),
          col("drawdown"))
        .orderBy(col("drawdown").desc, col("trough_day"))
        .limit(1)
    }),

    // Join-key skew audit — the diagnostic a 100 TB engineer runs BEFORE
    // choosing salted-vs-plain join: per-key fan-out from one
    // partial-aggregable count, then the count-of-counts distribution
    // (bounded by the max fan-out, never the key count) with each
    // fan-out tier's share of total rows. A heavy tier at high fan-out =
    // salt the join (Skew.saltedJoin); flat = plain shuffle is fine.
    "q_key_skew_audit" -> ((s, dir) => {
      val fanout = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("fanout"))
      val tot = fanout.agg(count(lit(1)).as("n_keys"), sum(col("fanout")).as("n_rows"))
      fanout.groupBy(col("fanout")).agg(count(lit(1)).as("n_keys_at"))
        .crossJoin(broadcast(tot))
        .select(col("fanout"), col("n_keys_at"),
          (col("fanout") * col("n_keys_at")).as("rows_at"),
          round((col("fanout") * col("n_keys_at")).cast("double") /
            col("n_rows").cast("double"), 6).as("row_share"),
          round(col("n_keys_at").cast("double") / col("n_keys").cast("double"), 6)
            .as("key_share"))
        .orderBy("fanout")
    }),

    // Split-integrity audit — the assertion a pipeline runs before
    // training: per-split counts, exact coverage (Σ splits = corpus,
    // graded — a row lost by the assigner breaks the hash), and the
    // permille drift from the 800/100/100 target. All on the |3|-row
    // rollup of one partial-aggregable count.
    "data_split_audit" -> ((s, dir) => {
      val sp = Sampling.splitAssign(Tables.documents(s, dir), "doc_id")
        .groupBy(col("split")).agg(count(lit(1)).as("n_docs"))
      val tot = sp.agg(sum(col("n_docs")).as("corpus"))
      val target = when(col("split") === "train", 800)
        .when(col("split") === "val", 100).otherwise(100)
      sp.crossJoin(broadcast(tot))
        .select(col("split"), col("n_docs"), col("corpus"),
          expr("(n_docs * 1000) div corpus").as("permille"),
          (abs(expr("(n_docs * 1000) div corpus") - target) <= 30)
            .as("within_3pct"))
        .orderBy("split")
    }),

    // New-vs-returning daily actives — the growth-accounting split:
    // first-seen day per user is ONE partial-aggregable min, joined back
    // on user_id (the same shuffle axis as the distinct), and the daily
    // rollup is a second HashAggregate — no window over the fact table.
    "q_new_vs_returning" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("user_id"), expr("ts_ms div 86400000").as("day"))
        .distinct()
      val first = e.groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
      e.join(first, "user_id")
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_active"),
          sum(when(col("day") === col("first_day"), 1L).otherwise(0L)).as("n_new"))
        .select(col("day"), col("n_active"), col("n_new"),
          (col("n_active") - col("n_new")).as("n_returning"),
          round(col("n_new").cast("double") / col("n_active").cast("double"), 6)
            .as("new_share"))
        .orderBy("day")
    }),

    // RFM segmentation — the lifecycle-marketing classic: per-user
    // recency/frequency/monetary from ONE conditional aggregate over
    // purchases, quintile scores from a single percentile aggregate
    // broadcast back (comparison projections — no ntile window over
    // users). Scores are value-ascending (r_score 5 = longest-stale);
    // exact integer inputs, interpolated cut points compared exactly.
    "q_rfm" -> ((s, dir) => {
      val p = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), expr("ts_ms div 86400000").as("day"),
          floor(col("value") * 100).cast("long").as("cents"))
      val horizon = p.agg(max(col("day")).as("maxday"))
      val rfm = p.crossJoin(broadcast(horizon))
        .groupBy(col("user_id"))
        .agg(min(col("maxday") - col("day")).as("r_days"),
          count(lit(1)).as("freq"), sum(col("cents")).as("monetary"))
      val cuts = rfm.agg(
        expr("percentile(r_days, array(0.2D, 0.4D, 0.6D, 0.8D))").as("rc"),
        expr("percentile(freq, array(0.2D, 0.4D, 0.6D, 0.8D))").as("fc"),
        expr("percentile(monetary, array(0.2D, 0.4D, 0.6D, 0.8D))").as("mc"))
      def score(v: Column, c: Column): Column =
        lit(1) + (0 to 3).map(i => when(v > c.getItem(i), 1).otherwise(0))
          .reduce(_ + _)
      rfm.crossJoin(broadcast(cuts))
        .select(col("user_id"), col("r_days"), col("freq"), col("monetary"),
          score(col("r_days"), col("rc")).as("r_score"),
          score(col("freq"), col("fc")).as("f_score"),
          score(col("monetary"), col("mc")).as("m_score"))
        .orderBy("user_id")
    }),

    // ABC inventory classification — cumulative-revenue-share classes
    // over the part dimension: per-part revenue (one partial-aggregable
    // rollup), the DESCENDING cumulative sum via Sweep.runningSum (range
    // partition + per-partition folds — no single-partition window),
    // class cut at 80%/95% of the broadcast total, then a |3|-row class
    // rollup. The Pareto sibling of q_gini on the same machinery.
    "q_abc_analysis" -> ((s, dir) => {
      val parts = Tables.lineitem(s, dir)
        .select(col("l_partkey"),
          floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
            .cast("long").as("cents"))
        .groupBy(col("l_partkey"))
        .agg(sum(col("cents")).as("rev"))
      val run = Sweep.runningSum(parts, col("rev"), "cum",
        col("rev").desc, col("l_partkey"))
      val tot = parts.agg(sum(col("rev")).as("total"))
      run.crossJoin(broadcast(tot))
        .withColumn("cls",
          when(col("cum") * 100 <= col("total") * 80, "A")
            .when(col("cum") * 100 <= col("total") * 95, "B")
            .otherwise("C"))
        .groupBy(col("cls"))
        .agg(count(lit(1)).as("n_parts"), sum(col("rev")).as("rev_cents"),
          max(col("total")).as("__t"))
        .select(col("cls"), col("n_parts"), col("rev_cents"),
          round(col("rev_cents").cast("double") / col("__t").cast("double"), 6)
            .as("rev_share"))
        .orderBy("cls")
    }),

    // Year-over-year growth — the BI staple: monthly revenue (one
    // partial-aggregable rollup to |months| rows, exact integer cents),
    // then a self-join of the MONTH table against itself shifted one
    // year. Everything after the first aggregate is dimension-sized;
    // months without a prior year report null growth (left join), not 0.
    "q_yoy_growth" -> ((s, dir) => {
      val monthly = Tables.orders(s, dir)
        .select((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .cast("long").as("ym"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy(col("ym"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("rev_cents"))
      val prev = monthly.select((col("ym") + 100).as("ym"),
        col("rev_cents").as("prev_cents"))
      monthly.join(prev, Seq("ym"), "left")
        .select(col("ym"), col("n_orders"), col("rev_cents"), col("prev_cents"),
          round((col("rev_cents") - col("prev_cents")).cast("double") /
            col("prev_cents").cast("double"), 6).as("yoy_growth"))
        .orderBy("ym")
    }),

    // TPC-H Q5 shape — the 6-table star join with the LOCAL-SUPPLIER
    // correlation (c_nationkey = s_nationkey rides in the supplier join
    // key next to l_suppkey). Dimension chain region→nation folds into
    // one broadcast before touching any fact table; orders carries its
    // date filter to the scan; the only data-sized shuffles are the two
    // fact-fact joins on their natural keys. The classic plan the
    // optimizer must get right at 100 TB: broadcast the dims, never
    // shuffle a fact against a dimension.
    "q5_local_supplier" -> ((s, dir) => {
      val nat = Tables.nation(s, dir)
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val cust = Tables.customer(s, dir)
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
      val sup = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
      cust.join(ord, col("c_custkey") === col("o_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(sup),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // TPC-H Q7 shape — volume shipping between two nations: the
    // DISJUNCTIVE cross-nation predicate ((n1, n2) ∈ {(A,B), (B,A)})
    // rides entirely in the two BROADCAST nation joins, so neither fact
    // table ever shuffles against a dimension; the only data-sized
    // exchanges are lineitem⋈orders and orders⋈customer on their
    // natural keys, and the shipdate range pushes into the lineitem
    // scan. Revenue in exact cents (the money-sum audit's BIGINT path):
    // price·(1−disc) is a 4-decimal-exact value, so scaling by 10⁴
    // before the sum makes the aggregate associative-exact.
    "q7_volume_shipping" -> ((s, dir) => {
      val n1 = Tables.nation(s, dir)
        .filter(col("n_name").isin("NATION_1", "NATION_2"))
        .select(col("n_nationkey").as("s_natkey"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, dir)
        .filter(col("n_name").isin("NATION_1", "NATION_2"))
        .select(col("n_nationkey").as("c_natkey"), col("n_name").as("cust_nation"))
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_suppkey"), year(col("l_shipdate")).as("l_year"),
          (floor(col("l_extendedprice") * 100).cast("long") *
            (lit(10000L) - floor(col("l_discount") * 10000).cast("long")))
            .as("vol_e6"))
      val sup = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_natkey"))
        .select(col("s_suppkey"), col("supp_nation"))
      val cust = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
        .join(broadcast(n2), col("c_nationkey") === col("c_natkey"))
        .select(col("c_custkey"), col("cust_nation"))
      val ord = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
        // decimal accumulator: Σ cents·1e4 crosses BIGINT ~sf100
        .agg((sum(col("vol_e6").cast("decimal(38,0)")).cast("double") / 1e6)
          .as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),

    // TPC-H Q10 shape — returned-item revenue ranking: one quarter of
    // orders, only returned lines (flag pushed to the lineitem scan),
    // revenue per customer with the nation dim broadcast; top 20 via
    // TakeOrderedAndProject. Exact-cents revenue like Q7.
    "q10_returned_items" -> ((s, dir) => {
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      val li = Tables.lineitem(s, dir)
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          (floor(col("l_extendedprice") * 100).cast("long") *
            (lit(10000L) - floor(col("l_discount") * 10000).cast("long")))
            .as("vol_e6"))
      val cust = Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)
          .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"),
          floor(col("c_acctbal") * 100).cast("long").as("acctbal_cents"),
          col("n_name"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("acctbal_cents"), col("n_name"))
        .agg(sum(col("vol_e6").cast("decimal(38,0)")).as("rev_e6"))
        .select(col("c_custkey"), col("c_name"),
          (col("rev_e6").cast("double") / 1e6).as("revenue"),
          (col("acctbal_cents") / 100.0).as("c_acctbal"), col("n_name"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // TPC-H Q18 shape — large-volume orders: the HAVING-filtered
    // aggregate (Σ quantity > 250) is built FIRST as a partial-aggregable
    // rollup of lineitem, and only its tiny survivor set joins back to
    // orders and customer — the aggregate-then-join shape that keeps the
    // big tables out of any post-filter join. Top-100 via
    // TakeOrderedAndProject.
    "q18_large_orders" -> ((s, dir) => {
      val big = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"))
        .filter(col("sum_qty") > 250.0)
      Tables.orders(s, dir)
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          to_date(col("o_orderdate")).as("o_orderdate"),
          round(col("o_totalprice"), 2).as("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    }),

    // TPC-H Q4 shape — order-priority checking: the EXISTS subquery is
    // a LEFT SEMI join on the order key with the lateness predicate as
    // the join residual (this fixture has no commit/receipt dates, so
    // "late" is shipped ≥60 days after the order date — the same
    // correlated-exists shape). The quarter filter pushes to the orders
    // scan; the semi join never materializes lineitem matches. Pure
    // integer counts — nothing to round.
    "q4_priority_check" -> ((s, dir) => {
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_shipdate"))
      ord.join(li,
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") >= col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),

    // TPC-H Q6 shape — forecasting revenue change: the pure
    // scan-filter-agg plan every engine benchmarks first. All three
    // predicates (shipdate range, discount band, quantity cap) push to
    // the parquet scan as literal comparisons; revenue = Σ
    // price·discount in exact e6 units (cents × discount basis
    // points), decimal accumulator, ONE division at the end.
    "q6_revenue_change" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .select((floor(col("l_extendedprice") * 100).cast("long") *
          floor(col("l_discount") * 10000).cast("long")).as("rev_e6"))
        .agg((sum(col("rev_e6").cast("decimal(38,0)")).cast("double") / 1e6)
          .as("revenue"))),

    // TPC-H Q13 shape — customer order-count distribution: LEFT OUTER
    // join keeps zero-order customers, the first groupBy is per
    // customer, the second is a histogram over the (tiny) count domain
    // — a groupBy-of-groupBy whose second aggregate's input is already
    // customer-sized, so the expensive shuffle happens exactly once on
    // the join key. The priority exclusion stands in for Q13's comment
    // NOT LIKE (filtered BEFORE the join ≡ putting it in the outer-join
    // ON clause). Exact integer counts.
    "q13_order_distribution" -> ((s, dir) => {
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderpriority") =!= "5-LOW")
        .select(col("o_custkey"))
      Tables.customer(s, dir).select(col("c_custkey"))
        .join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_custkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // TPC-H Q14 shape — promo revenue share: one month of lineitem
    // against the part dim (left to AQE: part is broadcastable at
    // graded scale and a plain key-equi shuffle join past that — the
    // plan stays valid either way), CASE-gated numerator and total in
    // the SAME aggregate pass (never two scans), exact e6 units in
    // decimal accumulators, one final division — a quotient of exact
    // integers, bit-identical in both engines, left unrounded.
    "q14_promo_share" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-09-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-10-01").cast("timestamp"))
        .select(col("l_partkey"),
          (floor(col("l_extendedprice") * 100).cast("long") *
            (lit(10000L) - floor(col("l_discount") * 10000).cast("long")))
            .as("vol_e6"))
      li.join(Tables.part(s, dir).select(col("p_partkey"), col("p_type")),
          col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO", col("vol_e6")).otherwise(0L)
            .cast("decimal(38,0)")).as("promo_e6"),
          sum(col("vol_e6").cast("decimal(38,0)")).as("total_e6"))
        .select((lit(100.0) * col("promo_e6").cast("double") /
          col("total_e6").cast("double")).as("promo_revenue_pct"))
    }),

    // TPC-H Q19 shape — discounted revenue under an OR-of-ANDs
    // predicate: three (brand, size-range, quantity-range) disjuncts
    // evaluated on the joined row (the fixture lacks
    // shipmode/container; brand+size+quantity keep the triple-disjunct
    // structure). Catalyst extracts the common quantity bounds
    // (1 ≤ q ≤ 30) and the brand disjunction as scan-level pushdowns —
    // the disjuncts only run on pre-filtered rows. Revenue exact e6 in
    // decimal, one division.
    "q19_discounted_revenue" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_quantity"),
          (floor(col("l_extendedprice") * 100).cast("long") *
            (lit(10000L) - floor(col("l_discount") * 10000).cast("long")))
            .as("vol_e6"))
      val p = Tables.part(s, dir)
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      li.join(p, col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#13" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#14" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30)))
        .agg((sum(col("vol_e6").cast("decimal(38,0)")).cast("double") / 1e6)
          .as("revenue"))
    }),

    // TPC-H Q8 shape — national market share: what fraction of one
    // region's market for one part type does a given supplier nation
    // hold, by year? The region restriction rides in two BROADCAST
    // dimension joins (nation⋈region → customer; nation → supplier);
    // the part-type filter is an inner filtering join; the share is a
    // CASE-gated numerator and total in ONE aggregate pass over exact
    // e6 units — never two scans of the fact join. Per-year division
    // of exact integers, left unrounded.
    "q8_market_share" -> ((s, dir) => {
      val natR = Tables.nation(s, dir)
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"))
      val cust = Tables.customer(s, dir)
        .join(broadcast(natR), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"))
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"),
          year(col("o_orderdate")).as("o_year"))
      val pp = Tables.part(s, dir).filter(col("p_type") === "ECONOMY")
        .select(col("p_partkey"))
      val supN = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)
          .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          (floor(col("l_extendedprice") * 100).cast("long") *
            (lit(10000L) - floor(col("l_discount") * 10000).cast("long")))
            .as("vol_e6"))
        .join(pp, col("l_partkey") === col("p_partkey"))
        .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_year"))
        .agg(
          sum(when(col("n_name") === "NATION_5", col("vol_e6")).otherwise(0L)
            .cast("decimal(38,0)")).as("nat_e6"),
          sum(col("vol_e6").cast("decimal(38,0)")).as("tot_e6"))
        .select(col("o_year"),
          (col("nat_e6").cast("double") / col("tot_e6").cast("double"))
            .as("mkt_share"))
        .orderBy("o_year")
    }),

    // TPC-H Q15 shape — top supplier(s) by quarterly revenue: the
    // revenue view is ONE partial-aggregable rollup of lineitem; the
    // scalar max comes back as a broadcast 1-row aggregate and the
    // survivors (exact integer equality on e6 units — no float
    // threshold) join the supplier dim. The revenue rollup is
    // supplier-sized, so everything after the first aggregate is
    // dimension-scale.
    "q15_top_supplier" -> ((s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .select(col("l_suppkey"),
          (floor(col("l_extendedprice") * 100).cast("long") *
            (lit(10000L) - floor(col("l_discount") * 10000).cast("long")))
            .as("vol_e6"))
        .groupBy(col("l_suppkey"))
        .agg(sum(col("vol_e6").cast("decimal(38,0)")).as("rev_e6"))
      val mx = rev.agg(max(col("rev_e6")).as("max_e6"))
      rev.crossJoin(broadcast(mx))
        .filter(col("rev_e6") === col("max_e6"))
        .join(broadcast(Tables.supplier(s, dir)
          .select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          (col("rev_e6").cast("double") / 1e6).as("total_revenue"))
        .orderBy("s_suppkey")
    }),

    // TPC-H Q16 shape — supplier-count distribution: distinct
    // suppliers able to supply each surviving (brand, type, size)
    // combo, with the complaints exclusion as a LEFT ANTI join (the
    // fixture has no partsupp, so the part↔supplier link is the
    // observed lineitem pairs, and no comment column means the
    // exclusion keys on a name substring). count(DISTINCT) runs as the
    // standard two-phase expand — partial-aggregable, no single-point
    // collect of the pair set.
    "q16_supplier_count" -> ((s, dir) => {
      val excl = Tables.supplier(s, dir)
        .filter(col("s_name").contains("7")).select(col("s_suppkey"))
      val p = Tables.part(s, dir)
        .filter(col("p_brand") =!= "Brand#5" &&
          col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
      Tables.lineitem(s, dir).select(col("l_partkey"), col("l_suppkey"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .join(broadcast(excl), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    }),

    // TPC-H Q11 shape — important stock: the value of each part's
    // stock positions held by one region's suppliers, keeping parts
    // whose value clears a global threshold — THE decorrelated
    // scalar-subquery pattern (HAVING value > (SELECT fraction·total)).
    // No partsupp in the fixture (the q2/q9/q16 idiom), so a position
    // is an observed (part, supplier) pair from lineitem: availqty :=
    // Σ⌊qty⌋, supplycost := the pair's minimum exact unit price
    // (cents·10⁴ div qty, positive so truncation ≡ floor on both
    // engines). The threshold is SF-ROBUST: keep parts worth > 2× the
    // average position value — TPC-H's 0.0001/SF fraction re-pinned to
    // the part universe so the slice stays non-vacuous from sf0.001
    // (4 rows) through 100 TB, instead of drifting with corpus mass.
    // Plan: region→nation→supplier collapses to a broadcast key dim
    // BEFORE the fact scan; the fact then aggregates twice on
    // shrinking keys ((part,supp) → part); the scalar (total, n_parts)
    // is a broadcast 1-row crossJoin — exactly the plan Catalyst's
    // scalar-subquery decorrelation rewrites to, declared directly.
    // Exactness: value_e6 is a decimal(38,0) sum of qty·unit_e6
    // products (HUGEINT in the oracle); the threshold cross-multiplies
    // in decimal (value·n_parts > total·2) so no float fraction ever
    // exists; ONE display division; ordered by the EXACT value, not
    // its double rendering, then the key.
    "q11_important_stock" -> ((s, dir) => {
      val supEur = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)
          .join(broadcast(Tables.region(s, dir)
            .filter(col("r_name") === "EUROPE").select(col("r_regionkey"))),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      val pos = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_suppkey"),
          floor(col("l_quantity")).cast("long").as("qty_i"),
          expr("(CAST(floor(l_extendedprice * 100) AS BIGINT) * 10000) div " +
            "CAST(floor(l_quantity) AS BIGINT)").as("u_e6"))
        .join(broadcast(supEur), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("qty_i")).as("avail_qty"), min(col("u_e6")).as("cost_e6"))
      // localCheckpoint: v feeds BOTH the kept rows and the scalar
      // total — without it Catalyst plans two full fact scans (no
      // ReuseExchange across the extra aggregate), a doubled 100 TB
      // pass for a part-universe-bounded intermediate (~|parts| rows).
      val v = pos.groupBy(col("l_partkey").as("partkey"))
        .agg(sum(expr("cast(avail_qty as decimal(38,0)) * cost_e6"))
          .as("value_e6"))
        .localCheckpoint()
      val tot = v.agg(sum(col("value_e6")).as("total_e6"),
        count(lit(1)).as("n_parts"))
      v.crossJoin(broadcast(tot))
        .filter(col("value_e6") * col("n_parts") > col("total_e6") * 2)
        .orderBy(col("value_e6").desc, col("partkey"))
        .select(col("partkey"),
          (col("value_e6").cast("double") / 1e6).as("value"))
    }),

    // TPC-H Q20 shape — potential part promotion: suppliers in one
    // nation sitting on enough stock of the promoted parts — the
    // NESTED SEMI-JOIN CHAIN (supplier ← qualifying pairs ← name-
    // filtered parts) with a correlated quantity threshold, the
    // decorrelation shape Q20 exists to stress. Fixture adaptation
    // (no partsupp): a supplier's stock position in a red part is its
    // observed 1995 shipped quantity, the demand is the 1996 quantity,
    // and the position qualifies when 1995 stock strictly exceeds the
    // ENTIRE 1996 demand (qty96 > 0 grounds the test in observed
    // demand — at sf0.01 this keeps 2 of NATION_3's 3 suppliers, so
    // the semi-join genuinely discriminates). Plan: the name filter
    // prunes part to a broadcast dim BEFORE the fact scan; the
    // correlated per-(part,supp) two-year comparison is ONE
    // partial-aggregable pass (two sum(CASE)s — never a self-join or
    // per-year re-scan); the qualifying set enters supplier as a LEFT
    // SEMI (existence — a supplier with many qualifying parts appears
    // once, no fan-out, no distinct needed); nation rides broadcast.
    // Exact integer quantities end to end; no division anywhere.
    "q20_potential_promotion" -> ((s, dir) => {
      val redParts = Tables.part(s, dir)
        .filter(col("p_name").startsWith("red")).select(col("p_partkey"))
      val qualifying = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_suppkey"),
          floor(col("l_quantity")).cast("long").as("qty_i"),
          col("l_shipdate"))
        .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(
          sum(when(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1996-01-01").cast("timestamp"),
            col("qty_i")).otherwise(0L)).as("qty95"),
          sum(when(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1997-01-01").cast("timestamp"),
            col("qty_i")).otherwise(0L)).as("qty96"))
        .filter(col("qty95") > col("qty96") && col("qty96") > 0)
        .select(col("l_suppkey"))
      Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)
          .filter(col("n_name") === "NATION_3").select(col("n_nationkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .join(qualifying, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
        .orderBy("s_name")
    }),

    // TPC-H Q17 shape — small-quantity-order revenue: lines below 20%
    // of their part's average quantity. The correlated avg is a
    // per-part rollup joined back to the filtered lines, and the
    // threshold test cross-multiplies to exact integers
    // (qty·5·n < Σqty — quantities are integral) so no float average
    // ever exists to disagree on. One division at the very end
    // (cents/700 = dollars/7).
    "q17_small_quantity" -> ((s, dir) => {
      val p = Tables.part(s, dir)
        .filter(col("p_brand") === "Brand#10" && col("p_size") <= 10)
        .select(col("p_partkey"))
      val li = Tables.lineitem(s, dir)
        .select(col("l_partkey"),
          floor(col("l_quantity")).cast("long").as("qty_i"),
          floor(col("l_extendedprice") * 100).cast("long").as("cents"))
        .join(p, col("l_partkey") === col("p_partkey"))
      val stats = li.groupBy(col("l_partkey").as("sp_key"))
        .agg(count(lit(1)).as("n"), sum(col("qty_i")).as("sq"))
      li.join(stats, col("l_partkey") === col("sp_key"))
        .filter(col("qty_i") * 5 * col("n") < col("sq"))
        .agg((sum(col("cents").cast("decimal(38,0)")).cast("double") / 700.0)
          .as("avg_yearly"))
    }),

    // TPC-H Q22 shape — global sales opportunity: customers from a
    // country-code set (nationkey mod 10 stands in for the phone
    // prefix) with above-average positive balances and NO orders. The
    // average is a broadcast 1-row (Σ, n) pair and the threshold test
    // cross-multiplies (cents·n > Σcents) — exact integers, no float
    // average; the "lapsed" test is a LEFT ANTI join on the natural
    // customer key against the recent-order window (the date filter
    // pushes to the orders scan, shrinking the anti side before the
    // shuffle). Integer cent sums; one display division.
    "q22_sales_opportunity" -> ((s, dir) => {
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey"),
          floor(col("c_acctbal") * 100).cast("long").as("cents"),
          pmod(col("c_nationkey"), lit(10)).as("cntrycode"))
        .filter(col("cntrycode").isin(1, 3, 5, 7, 9))
      val avgPos = cust.filter(col("cents") > 0)
        .agg(sum(col("cents")).as("s_cents"), count(lit(1)).as("n_pos"))
      cust.join(Tables.orders(s, dir)
            .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
            .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .crossJoin(broadcast(avgPos))
        .filter(col("cents") * col("n_pos") > col("s_cents"))
        .groupBy(col("cntrycode"))
        .agg(count(lit(1)).as("numcust"), sum(col("cents")).as("bal_cents"))
        .select(col("cntrycode"), col("numcust"),
          (col("bal_cents") / 100.0).as("totacctbal"))
        .orderBy("cntrycode")
    }),

    // TPC-H Q2 shape — minimum-cost supplier: for each part in a
    // size/type slice, the cheapest regional supplier. No partsupp in
    // the fixture, so the offer book is the OBSERVED lineitem unit
    // price; the unit price is an exact scaled integer
    // (cents·10⁴ div qty — positive, so truncating div ≡ floor in both
    // engines), which makes the correlated-min join-back an exact
    // integer equality instead of a float threshold. Region and
    // supplier dims ride broadcast; the per-part min is a rollup of
    // the already part-filtered offers.
    "q2_min_cost_supplier" -> ((s, dir) => {
      val natE = Tables.nation(s, dir)
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val sup = Tables.supplier(s, dir)
        .join(broadcast(natE), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"),
          floor(col("s_acctbal") * 100).cast("long").as("acct_cents"),
          col("n_name"))
      val p = Tables.part(s, dir)
        .filter(col("p_size") === 15 && col("p_type") === "STANDARD")
        .select(col("p_partkey"), col("p_name"))
      val offers = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_suppkey"),
          expr("(CAST(floor(l_extendedprice * 100) AS BIGINT) * 10000) div " +
            "CAST(floor(l_quantity) AS BIGINT)").as("u_e6"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("p_partkey"), col("p_name"), col("s_suppkey"),
          col("s_name"), col("acct_cents"), col("n_name"))
        .agg(min(col("u_e6")).as("u_e6"))
      val best = offers.groupBy(col("p_partkey").as("bp"))
        .agg(min(col("u_e6")).as("best_e6"))
      offers.join(best,
          col("p_partkey") === col("bp") && col("u_e6") === col("best_e6"))
        .select((col("acct_cents") / 100.0).as("s_acctbal"), col("s_name"),
          col("n_name"), col("p_partkey"), col("p_name"),
          (col("u_e6").cast("double") / 1e6).as("unit_cost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    }),

    // TPC-H Q9 shape — product-type profit by nation and year: profit
    // = revenue − cost where cost stands in as 60% of the part's
    // retail price per unit (no partsupp supplycost in the fixture).
    // Everything is exact e6 integer units — vol_e6 minus
    // qty·retail_cents·6000 — summed in decimal (profits can be
    // negative; the signed sum is still associative-exact), ONE
    // division for display. The name filter prunes part before the
    // fact join; supplier→nation rides broadcast.
    "q9_product_profit" -> ((s, dir) => {
      val p = Tables.part(s, dir)
        .filter(col("p_name").contains("widget"))
        .select(col("p_partkey"),
          floor(col("p_retailprice") * 100).cast("long").as("retail_cents"))
      val supN = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)
          .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      val ord = Tables.orders(s, dir)
        .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          floor(col("l_quantity")).cast("long").as("qty_i"),
          (floor(col("l_extendedprice") * 100).cast("long") *
            (lit(10000L) - floor(col("l_discount") * 10000).cast("long")))
            .as("vol_e6"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .select(col("n_name").as("nation"), col("o_year"),
          (col("vol_e6") - col("qty_i") * col("retail_cents") * lit(6000L))
            .as("profit_e6"))
        .groupBy(col("nation"), col("o_year"))
        .agg((sum(col("profit_e6").cast("decimal(38,0)")).cast("double") / 1e6)
          .as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),

    // TPC-H Q12 shape — shipping priority classes: lines shipped ≥30
    // days after their order (the lateness stand-in for Q12's
    // commit/receipt window; no shipmode column, so the class axis is
    // l_linestatus), split into urgent-or-high vs other order
    // priorities — both counts CASE-gated in ONE aggregate pass over
    // the joined rows. Exact integer counts.
    "q12_ship_priority" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linestatus"), col("l_shipdate"))
      val ord = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") >= col("o_orderdate") + expr("INTERVAL 30 DAYS"))
        .groupBy(col("l_linestatus"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_count"))
        .orderBy("l_linestatus")
    }),

    // TPC-H Q21 shape — suppliers who kept orders waiting: late lines
    // (shipped ≥75 days after a finished order) where ANOTHER supplier
    // was on the order (LEFT SEMI with a ≠-supplier residual) but NO
    // other supplier was late (LEFT ANTI against the late set itself)
    // — the classic exists/not-exists double-correlated pair as two
    // equi-key joins with inequality residuals. Pure counts, top 100.
    "q21_waiting_supplier" -> ((s, dir) => {
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      val late = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") >= col("o_orderdate") + expr("INTERVAL 75 DAYS"))
        .select(col("l_orderkey"), col("l_suppkey"))
      val withOther = late.join(
        li.select(col("l_orderkey").as("o2"), col("l_suppkey").as("s2")),
        col("l_orderkey") === col("o2") && col("s2") =!= col("l_suppkey"),
        "left_semi")
      val sole = withOther.join(
        late.select(col("l_orderkey").as("o3"), col("l_suppkey").as("s3")),
        col("l_orderkey") === col("o3") && col("s3") =!= col("l_suppkey"),
        "left_anti")
      sole.join(broadcast(Tables.supplier(s, dir)
          .select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    }),

    // CUPED variance reduction (the experimentation-analytics workhorse):
    // pre-period covariate X and post-period metric Y per user, θ =
    // cov(X,Y)/var(X) fitted GLOBALLY, per-arm adjusted means and the
    // achieved variance reduction. One shuffle on user_id builds the
    // exact per-user integer (x, y) cents; everything after is a 2-row
    // per-arm aggregate of exact BIGINT moment sums + broadcast global
    // algebra — constant-size regardless of event volume. The split day
    // derives from the data's own min/max (scale-factor-free).
    "q_cuped" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("user_id"), expr("ts_ms div 86400000").as("day"),
          floor(col("value") * 100).cast("long").as("cents"))
      val split = e.agg(expr("(min(day) + max(day) + 1) div 2").as("split_day"))
      val per = e.crossJoin(broadcast(split))
        .groupBy(col("user_id"))
        .agg(sum(when(col("day") < col("split_day"), col("cents")).otherwise(0L)).as("x"),
          sum(when(col("day") >= col("split_day"), col("cents")).otherwise(0L)).as("y"))
        .withColumn("arm", pmod(col("user_id"), lit(2)))
      val arms = per.groupBy(col("arm"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
      val g = arms.agg(sum(col("n")).as("gn"), sum(col("sx")).as("gsx"),
        sum(col("sy")).as("gsy"), sum(col("sxy")).as("gsxy"),
        sum(col("sxx")).as("gsxx"))
      val gn = col("gn").cast("double"); val gsx = col("gsx").cast("double")
      val gsy = col("gsy").cast("double"); val gsxy = col("gsxy").cast("double")
      val gsxx = col("gsxx").cast("double")
      val theta = (gn * gsxy - gsx * gsy) / (gn * gsxx - gsx * gsx)
      val nd = col("n").cast("double")
      val sx = col("sx").cast("double"); val sy = col("sy").cast("double")
      val sxy = col("sxy").cast("double"); val sxx = col("sxx").cast("double")
      val syy = col("syy").cast("double")
      val meanY = sy / nd
      val meanYadj = meanY - col("theta") * (sx / nd - col("mean_x_g"))
      val varY = syy / nd - (sy / nd) * (sy / nd)
      val eAdj2 = (syy - lit(2.0) * col("theta") * sxy +
        col("theta") * col("theta") * sxx) / nd
      val eAdj = (sy - col("theta") * sx) / nd
      val varYadj = eAdj2 - eAdj * eAdj
      arms.crossJoin(broadcast(
          g.select(theta.as("theta"), (gsx / gn).as("mean_x_g"))))
        .select(col("arm"), col("n"),
          // exact integer mean (the q_seasonality lesson: cents/n ratios
          // land on decimal half-digit boundaries where the two engines'
          // round() kernels disagree); the θ-adjusted mean cannot
          // terminate decimally, so its round() is safe
          (expr("(sy * 100) div n") / 10000.0).as("mean_y"),
          round(meanYadj / 100.0, 4).as("mean_y_adj"),
          round(col("theta"), 6).as("theta"),
          round(lit(1.0) - varYadj / varY, 6).as("var_reduction"))
        .orderBy(col("arm"))
    }),

    // Gini concentration of order revenue — the inequality/concentration
    // audit (is 1% of orders most of the revenue?). Gini needs a GLOBAL
    // rank over the value column; that rank comes from the two-pass
    // zipWithIndex globalIds (range-partition once, P partition counts
    // to the driver, per-partition local numbering — NO single-partition
    // window at any scale). The rank-weighted sum Σ i·cents is
    // accumulated in decimal(38,0): the per-row product i·cents stays
    // in BIGINT far past sf1000 (overflow needs n > ~6e11 rows), but the
    // SUM crosses 9.2e18 around sf1 — Spark sum(long) would wrap
    // silently while DuckDB's HUGEINT would not, so the exact
    // accumulator type is the scale contract, not a nicety. The closed
    // form G = 2·Σi·xᵢ/(n·Σx) − (n+1)/n is a 1-row projection; n·Σx is
    // likewise a double product (its exact long product also wraps ~sf1).
    "q_gini" -> ((s, dir) => {
      val cents = Tables.orders(s, dir)
        .select(col("o_orderkey"), floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val ranked = Sorting.globalIds(cents, col("cents"), col("o_orderkey"))
        .withColumn("i", col("gid") + 1)
      ranked.agg(count(lit(1)).as("n"),
          sum(col("cents")).as("total_cents"),
          sum((col("i") * col("cents")).cast("decimal(38,0)")).as("w"))
        .select(col("n"), col("total_cents"),
          round(lit(2.0) * col("w").cast("double") /
              (col("n").cast("double") * col("total_cents").cast("double")) -
            (col("n") + 1).cast("double") / col("n").cast("double"), 6).as("gini"))
    }),

    // Weighted median (quantity-weighted line price): the global
    // cumulative-weight scan reuses Sweep.runningSum — range partition on
    // the value order, per-partition folds, P longs of driver state (no
    // single-partition window at any scale); the crossing point is then
    // ONE aggregate min over the qualifying suffix. Exact integer
    // weights and cents throughout; the displayed median is a single
    // deterministic double division, no round() boundary.
    "q_weighted_median" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(floor(col("l_extendedprice") * 100).cast("long").as("cents"),
          floor(col("l_quantity")).cast("long").as("wgt"),
          col("l_orderkey"), col("l_linenumber"))
      val run = Sweep.runningSum(li, col("wgt"), "cw",
        col("cents"), col("l_orderkey"), col("l_linenumber"))
      val tot = li.agg(sum(col("wgt")).as("w_total"))
      run.crossJoin(broadcast(tot))
        .filter(col("cw") * 2 >= col("w_total"))
        .groupBy(col("w_total"))
        .agg(min(col("cents")).as("med_cents"))
        .select(col("w_total"), (col("med_cents") / 100.0).as("median_price"))
    }),

    // Market-basket association rules over orders (item = partkey bucket):
    // pairwise support / confidence / lift. The self-join runs on the
    // DISTINCT (basket, item) table shuffled on the basket key — each
    // basket emits ≤ |its items|² pairs (TPC-H baskets are ~7 lines), so
    // the join output is linear in baskets; item totals and the basket
    // count ride back as broadcasts of dimension-sized aggregates.
    "q_market_basket" -> ((s, dir) => {
      val items = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("bk"), pmod(col("l_partkey"), lit(50)).as("item"))
        .distinct()
      val sizes = items.groupBy(col("item")).agg(count(lit(1)).as("n_item"))
      val tot = items.agg(countDistinct(col("bk")).as("n_baskets"))
      val pairs = items.as("a")
        .join(items.as("b"),
          col("a.bk") === col("b.bk") && col("a.item") < col("b.item"))
        .groupBy(col("a.item").as("item_a"), col("b.item").as("item_b"))
        .agg(count(lit(1)).as("n_pair"))
        .filter(col("n_pair") >= 20)
      pairs
        .join(broadcast(sizes.withColumnRenamed("item", "item_a")
          .withColumnRenamed("n_item", "n_a")), "item_a")
        .join(broadcast(sizes.withColumnRenamed("item", "item_b")
          .withColumnRenamed("n_item", "n_b")), "item_b")
        .crossJoin(broadcast(tot))
        .select(col("item_a"), col("item_b"), col("n_pair"), col("n_a"), col("n_b"),
          round(col("n_pair").cast("double") / col("n_baskets").cast("double"), 6)
            .as("support"),
          round(col("n_pair").cast("double") / col("n_a").cast("double"), 6)
            .as("confidence"),
          round(col("n_pair").cast("double") * col("n_baskets").cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double")), 6).as("lift"))
        .orderBy(col("lift").desc, col("item_a"), col("item_b"))
        .limit(20)
    }),

    // Pairwise audience overlap (Jaccard of user sets per event type) —
    // the segment-overlap matrix. The self-join runs on the DISTINCT
    // (type, user) table and shuffles on user_id: each user contributes
    // ≤ |types|² pair rows, so the join output is |users|·|types|² —
    // linear in users at any scale — and the per-type set sizes ride
    // back as a broadcast of the |types|-row aggregate.
    "q_audience_overlap" -> ((s, dir) => {
      val ut = Tables.events(s, dir)
        .select(col("event_type"), col("user_id")).distinct()
      val sizes = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n_users"))
      val pairs = ut.as("a")
        .join(ut.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
        .agg(count(lit(1)).as("n_both"))
      pairs
        .join(broadcast(sizes.withColumnRenamed("event_type", "type_a")
          .withColumnRenamed("n_users", "n_a")), "type_a")
        .join(broadcast(sizes.withColumnRenamed("event_type", "type_b")
          .withColumnRenamed("n_users", "n_b")), "type_b")
        .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("n_both"),
          (col("n_a") + col("n_b") - col("n_both")).as("n_union"),
          round(col("n_both").cast("double") /
            (col("n_a") + col("n_b") - col("n_both")).cast("double"), 6)
            .as("jaccard"))
        .orderBy(col("type_a"), col("type_b"))
    }),

    // Hour-of-day × day-of-week seasonality matrix — the usage-rhythm
    // profile. Bucketing is pure integer epoch arithmetic (no timezone
    // surface to disagree on), so the whole query is ONE
    // partial-aggregable HashAggregate to ≤168 cells plus a broadcast
    // 1-row total; epoch day 0 is a Thursday, hence the +4 shift.
    "q_seasonality" -> ((s, dir) => {
      val cells = Tables.events(s, dir)
        .select(pmod(expr("ts_ms div 86400000") + 4, lit(7)).cast("int").as("dow"),
          expr("pmod(ts_ms, 86400000) div 3600000").cast("int").as("hod"),
          floor(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("dow"), col("hod"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
      val tot = cells.agg(sum(col("n")).as("total"))
      cells.crossJoin(broadcast(tot))
        .select(col("dow"), col("hod"), col("n"),
          // exact integer mean in 1e-4-dollar units, then ONE double
          // division — no round() call to land on a half-digit boundary
          (expr("(s * 100) div n") / 10000.0).as("avg_value"),
          round(col("n").cast("double") / col("total").cast("double"), 6)
            .as("share"))
        .orderBy(col("dow"), col("hod"))
    }),

    // Single change-point detection over the daily value series: the
    // split day maximizing |mean_left − mean_right|·√(n_l·n_r/(n_l+n_r))
    // (the two-sample CUSUM-style statistic). The fact table collapses
    // to ONE partial-aggregable daily aggregate first; every remaining
    // step (prefix sums, the argmax scan) runs on the DIMENSION-SIZED
    // day series (≤366 rows/year), so the unpartitioned window is
    // bounded by the calendar, not the data.
    "q_changepoint" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .select(expr("ts_ms div 86400000").as("day"),
          floor(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = daily.agg(sum(col("n")).as("nt"), sum(col("s")).as("st"))
      val scored = daily
        .withColumn("cn", sum(col("n")).over(w))
        .withColumn("cs", sum(col("s")).over(w))
        .crossJoin(broadcast(tot))
        .filter(col("cn") < col("nt"))
        .select(col("day"), col("cn").as("n_left"),
          (col("nt") - col("cn")).as("n_right"),
          (col("cs").cast("double") / col("cn").cast("double")).as("ml"),
          ((col("st") - col("cs")).cast("double") /
            (col("nt") - col("cn")).cast("double")).as("mr"),
          col("nt").cast("double").as("ntd"))
        .withColumn("score",
          round(abs(col("ml") - col("mr")) *
            sqrt(col("n_left").cast("double") * col("n_right").cast("double") /
              col("ntd")), 6))
      scored
        .select(col("day").as("split_day"), col("n_left"), col("n_right"),
          round(col("ml") / 100.0, 4).as("mean_left"),
          round(col("mr") / 100.0, 4).as("mean_right"),
          col("score"))
        .orderBy(col("score").desc, col("split_day"))
        .limit(1)
    }),

    // 2-D Pareto skyline (minimize price, maximize size): the classic
    // "best tradeoff frontier" operator (Börzsönyi et al., ICDE 2001),
    // expressed WITHOUT the quadratic all-pairs dominance test. For a
    // 2-D skyline, a point survives iff no strictly-cheaper point has
    // size >= its size AND no equal-price point has size > its size —
    // i.e. it is the max-size point of its price group AND its size
    // strictly exceeds the running max over cheaper price groups. The
    // expensive pass is ONE distributed groupBy(cents, size); the
    // running-max walk runs on the per-price rollup, whose cardinality
    // is bounded by the PRICE DOMAIN (distinct cent values of a bounded
    // decimal price), not the row count — the same dimension-bounded
    // window contract as q_changepoint's calendar. The oracle is the
    // textbook NOT EXISTS dominance query — a genuinely independent
    // formulation, so the differential gate checks the sweep's
    // semantics, not its implementation.
    "q_skyline" -> ((s, dir) => {
      val p = Tables.part(s, dir)
        .select(floor(col("p_retailprice") * 100).cast("long").as("cents"),
          col("p_size").cast("long").as("size"))
      val b = p.groupBy(col("cents"), col("size"))
        .agg(count(lit(1)).as("n_parts"))
      val g = b.groupBy(col("cents")).agg(max(col("size")).as("gmax"))
      val w = Window.orderBy(col("cents"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val sky = g.withColumn("rm", max(col("gmax")).over(w))
        .filter(col("rm").isNull || col("gmax") > col("rm"))
        .select(col("cents"), col("gmax"))
      b.join(broadcast(sky), Seq("cents"))
        .filter(col("size") === col("gmax"))
        .select(col("cents"), col("size"), col("n_parts"))
        .orderBy("cents")
    }),

    // Grouped closed-form OLS (revenue-vs-time trend per customer
    // nation): slope/intercept/R² from the five sufficient statistics
    // n, Σx, Σy, Σxy, Σx², Σy² — ONE distributed aggregate over the
    // orders⋈customer join, then 25-row algebra. x is exact epoch-days,
    // y exact cents, every sum an ASSOCIATIVE decimal(38,0) integer sum
    // (per-row products x·y ≈ 6e11 and y² ≈ 2.5e15 sit far inside
    // BIGINT; the group sums n·Σxy ≈ 2e25 at sf100 need the decimal
    // accumulator — same contract as q_gini), so aggregation order
    // cannot move a bit. The only doubles are per-GROUP single
    // divisions of exact numerators (slope = (nΣxy−ΣxΣy)/(nΣx²−(Σx)²);
    // R² squares the covariance numerator in double because its exact
    // square would overflow decimal(38)) — deterministic IEEE ops both
    // engines. Degenerate groups (den_x or den_y = 0) are filtered, not
    // NaN'd.
    "q_linreg" -> ((s, dir) => {
      val dec = "decimal(38,0)"
      val o = Tables.orders(s, dir)
        .select(col("o_custkey"),
          datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast("date"))
            .cast("long").as("x"),
          floor(col("o_totalprice") * 100).cast("long").as("y"))
      val c = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey").cast("long").as("nation"))
      val sums = o.join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("nation"))
        .agg(count(lit(1)).cast(dec).as("n"),
          sum(col("x").cast(dec)).as("sx"),
          sum(col("y").cast(dec)).as("sy"),
          sum((col("x") * col("y")).cast(dec)).as("sxy"),
          sum((col("x") * col("x")).cast(dec)).as("sxx"),
          sum((col("y") * col("y")).cast(dec)).as("syy"))
      sums
        .withColumn("num", col("n") * col("sxy") - col("sx") * col("sy"))
        .withColumn("den_x", col("n") * col("sxx") - col("sx") * col("sx"))
        .withColumn("den_y", col("n") * col("syy") - col("sy") * col("sy"))
        .filter(col("den_x") > 0 && col("den_y") > 0)
        .withColumn("slope",
          col("num").cast("double") / col("den_x").cast("double"))
        .select(col("nation"), col("n").cast("long").as("n"),
          round(col("slope"), 6).as("slope"),
          round((col("sy").cast("double") -
              col("slope") * col("sx").cast("double")) /
            col("n").cast("double"), 2).as("intercept"),
          round(col("num").cast("double") * col("num").cast("double") /
            (col("den_x").cast("double") * col("den_y").cast("double")), 6)
            .as("r2"))
        .orderBy("nation")
    }),

    // Autocorrelation function of the daily-revenue series, lags 1..7 —
    // the seasonality/trend diagnostic every forecasting pipeline runs
    // before model choice. The series index is gap-collapsed via the
    // two-pass globalIds (range partition + P partition counts — never
    // a single-partition window over the raw series), lag pairing is an
    // EQUI-join on gid+k = gid2 (7 bounded copies of the day-level
    // rollup), and the whole statistic is computed in mean-free exact
    // integer form: multiplying the centered covariance by n² clears
    // every μ=S/n denominator, giving acf_k = (n²·C_k − n·S·(A_k+B_k) +
    // n_k·S²) / (n²·Q − n·S²) with every term an associative
    // decimal(38,0) product of BIGINT sums (n²·C_k ≈ 1.4e30 at sf100 —
    // inside decimal(38) and DuckDB's HUGEINT alike). ONE double
    // division per lag at the end.
    "q_acf" -> ((s, dir) => {
      val dec = "decimal(38,0)"
      val daily = Tables.orders(s, dir)
        .select(datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast("date"))
            .cast("long").as("day"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy(col("day")).agg(sum(col("cents")).as("x"))
      val idx = Sorting.globalIds(daily, col("day")).select(col("gid"), col("x"))
      val tot = idx.agg(count(lit(1)).cast(dec).as("n"),
        sum(col("x").cast(dec)).as("s"),
        sum(col("x").cast(dec) * col("x").cast(dec)).as("q"))
      val pairs = idx
        .select(col("gid"), col("x"),
          explode(sequence(lit(1L), lit(7L))).as("lag_k"))
        .join(idx.select(col("gid").as("gid2"), col("x").as("x2")),
          col("gid") + col("lag_k") === col("gid2"))
      val per = pairs.groupBy(col("lag_k"))
        .agg(count(lit(1)).cast(dec).as("nk"),
          sum(col("x").cast(dec)).as("ak"),
          sum(col("x2").cast(dec)).as("bk"),
          sum(col("x").cast(dec) * col("x2").cast(dec)).as("ck"))
      per.crossJoin(broadcast(tot))
        .select(col("lag_k"), col("nk").cast("long").as("n_pairs"),
          round((col("n") * col("n") * col("ck")
              - col("n") * col("s") * (col("ak") + col("bk"))
              + col("nk") * col("s") * col("s")).cast("double")
            / (col("n") * col("n") * col("q")
              - col("n") * col("s") * col("s")).cast("double"), 6).as("acf"))
        .orderBy("lag_k")
    }),

    // Sequential pattern mining (ordered event bigrams): which action
    // FOLLOWS which, per user journey — the order-aware counterpart of
    // q_market_basket's unordered lift. Consecutive pairs come from ONE
    // lead() over the user-partitioned time order (scale-right: the
    // window shuffles on user_id, never a global sort), support counts
    // both occurrences and distinct users (two-phase distinct), and
    // confidence n(a→b)/n(a→*) is a single division of exact counts —
    // the denominator joins back from a ≤|event-type-alphabet|-row
    // broadcast rollup.
    "q_seq_mining" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_ms"), col("event_id"))
      val big = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts_ms"), col("event_id"))
        .withColumn("b", lead(col("event_type"), 1).over(w))
        .filter(col("b").isNotNull)
      val pairs = big
        .groupBy(col("event_type").as("a"), col("b"))
        .agg(count(lit(1)).as("n_occ"),
          count_distinct(col("user_id")).as("n_users"))
      val fromA = pairs.groupBy(col("a")).agg(sum(col("n_occ")).as("n_from_a"))
      pairs.join(broadcast(fromA), Seq("a"))
        .select(col("a"), col("b"), col("n_occ"), col("n_users"),
          round(col("n_occ").cast("double") / col("n_from_a").cast("double"), 6)
            .as("confidence"))
        .orderBy("a", "b")
    }),

    // Grid-bucketed spatial nearest-neighbor join: each customer finds
    // its nearest supplier among the 3×3 grid-cell neighborhood — the
    // standard way a spatial kNN becomes an EQUI-join (geohash/grid
    // bucketing), never an all-pairs cross. Coordinates are
    // hash-derived micro-degree integers (the fixture has no geo
    // columns; the md5-unit derivation is the house Sampling
    // convention, replayed bit-for-bit by the oracle), so the squared
    // Euclidean distance is an EXACT BIGINT (δ ≤ 1e6 → δ² ≤ 2e12) and
    // the argmin needs no float compare. Semantics: bounded-radius NN —
    // customers with an empty 3×3 neighborhood are absent by contract
    // (grid search, not exhaustive scan). Tie on distance breaks to the
    // smallest supplier key via a second exact aggregate (min-over-ties),
    // not a nondeterministic min_by — and both ride ONE packed argmin
    // min(d2·10¹⁰ + suppkey) in exact decimal(38,0) (the packed-BIGINT
    // argmax house pattern, widened to decimal because d2·10¹⁰ ≈ 2e22
    // overflows BIGINT; 10¹⁰ > any practical suppkey so the pack order
    // IS the lexicographic (d2, suppkey) order). The decimal min keeps
    // the aggregate a fixed-width two-phase HashAggregate — min(struct)
    // would demote both phases to SortAggregate and sort the candidate
    // relation map-side — and the candidate relation is scanned once:
    // no aggregate-then-join-back rescan. 100 TB shape: pick the cell
    // size so per-cell supplier counts stay bounded; the probe side
    // explodes ×9 and the join shuffles on the cell key only — at
    // graded scale the supplier side is dimension-sized and broadcasts.
    "q_geo_knn" -> ((s, dir) => {
      def coord(k: String, off: Int): Column = expr(
        s"pmod(cast(conv(substr(md5(cast($k as string)), $off, 8), 16, 10) as bigint), 1000000)")
      val cell = 62500L
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey"),
          coord("c_custkey", 1).as("clat"), coord("c_custkey", 9).as("clon"))
      val supp = Tables.supplier(s, dir)
        .select(col("s_suppkey"),
          coord("s_suppkey", 1).as("slat"), coord("s_suppkey", 9).as("slon"))
        .withColumn("cx", expr(s"slat div $cell"))
        .withColumn("cy", expr(s"slon div $cell"))
      val probe = cust
        .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
        .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
        .withColumn("cx", expr(s"clat div $cell") + col("dx"))
        .withColumn("cy", expr(s"clon div $cell") + col("dy"))
      val cand = probe.join(broadcast(supp), Seq("cx", "cy"))
        .select(col("c_custkey"),
          ((col("clat") - col("slat")) * (col("clat") - col("slat")) +
            (col("clon") - col("slon")) * (col("clon") - col("slon"))).as("d2"),
          col("s_suppkey"))
      val dec = "decimal(38,0)"
      cand.groupBy(col("c_custkey").as("custkey"))
        .agg(min(col("d2").cast(dec) * lit(10000000000L) +
          col("s_suppkey").cast(dec)).as("pack"))
        .select(col("custkey"),
          expr("pack div 10000000000").as("dist2"),
          pmod(col("pack"), lit(10000000000L)).cast("long").as("suppkey"))
        .orderBy("custkey")
    }),

    // Cumulative gains / lift curve: rank users by total spend, cut
    // into deciles, and ask how much of all purchase volume the top
    // k/10 captures — the targeting-model evaluation chart. The global
    // rank is the two-pass globalIds (range partition + P partition
    // counts — no single-partition window over users); everything after
    // is 10-row algebra: cumulative sums over the DECILE rollup
    // (cardinality 10 by construction) and lift/capture as single
    // divisions of exact counts against a broadcast 1-row total.
    "q_lift_curve" -> ((s, dir) => {
      val ut = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(sum(floor(col("value") * 100).cast("long")).as("spend"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("npurch"))
      val n = ut.count()
      val ranked = Sorting.globalIds(ut, col("spend").desc, col("user_id"))
        .withColumn("decile", expr(s"(gid * 10) div $n"))
      val byDec = ranked.groupBy(col("decile"))
        .agg(count(lit(1)).as("n_users"), sum(col("npurch")).as("n_purchases"))
      val tot = byDec.agg(sum(col("n_users")).as("nu"),
        sum(col("n_purchases")).as("np"))
      val w = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byDec
        .withColumn("cum_users", sum(col("n_users")).over(w))
        .withColumn("cum_purchases", sum(col("n_purchases")).over(w))
        .crossJoin(broadcast(tot))
        .select(col("decile"), col("n_users"), col("n_purchases"),
          col("cum_purchases"),
          round(col("cum_purchases").cast("double") / col("np").cast("double"),
            6).as("capture_rate"),
          round(col("cum_purchases").cast("double") * col("nu").cast("double") /
            (col("np").cast("double") * col("cum_users").cast("double")), 6)
            .as("lift"))
        .orderBy("decile")
    }),

    // Cohen's kappa — inter-annotator agreement between two independent
    // labelers of the same orders (every labeled-training-data pipeline
    // audits its raters before trusting the labels): rater A grades by
    // price tercile, rater B by order priority (urgent/high → 2,
    // medium → 1, low → 0). The two signals are independent in the
    // fixture, so kappa ≈ 0 — chance-level agreement, which is exactly
    // what the statistic should report. Exactness: the confusion matrix
    // is pure counts; the marginal product S and the kappa
    // numerator/denominator accumulate in decimal(38,0) (S ≤ N², which
    // overflows BIGINT past ~3e6 rows — decimal holds it through 1e12
    // rows with room, the q_moments convention); po = D/N,
    // pe = S/N², and kappa = (N·D − S)/(N² − S) are each ONE double
    // division of exact decimal values — both engines cast the same
    // exact integer to the same nearest double, so no float sum and no
    // round() boundary exists anywhere. Shape: one partial-aggregable
    // pass builds the 9-cell matrix; everything after is algebra on
    // broadcast 3-row marginals — at 100 TB the only data-sized stage
    // is the first groupBy.
    "q_cohens_kappa" -> ((s, dir) => {
      val dec = "decimal(38,0)"
      val o = Tables.orders(s, dir)
        .select(
          least(expr("cast(floor(o_totalprice * 100) as bigint) div 16666667"),
            lit(2L)).as("rater_a"),
          when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 2L)
            .when(col("o_orderpriority") === "3-MEDIUM", 1L)
            .otherwise(0L).as("rater_b"))
      val cells = o.groupBy(col("rater_a"), col("rater_b"))
        .agg(count(lit(1)).as("n"))
      val ra = cells.groupBy(col("rater_a").as("k")).agg(sum(col("n")).as("ra"))
      val cb = cells.groupBy(col("rater_b").as("k")).agg(sum(col("n")).as("cb"))
      val stats = cells.agg(
          sum(col("n")).as("nn"),
          sum(when(col("rater_a") === col("rater_b"), col("n"))
            .otherwise(0L)).as("d"))
        .crossJoin(broadcast(
          ra.join(cb, "k")
            .agg(sum(col("ra").cast(dec) * col("cb").cast(dec)).as("s"))))
        .select(col("nn"), col("d"), col("s"),
          (col("d").cast("double") / col("nn").cast("double")).as("po"),
          (col("s").cast("double") /
            (col("nn").cast(dec) * col("nn").cast(dec)).cast("double"))
            .as("pe"),
          ((col("nn").cast(dec) * col("d").cast(dec) - col("s"))
            .cast("double") /
            (col("nn").cast(dec) * col("nn").cast(dec) - col("s"))
              .cast("double")).as("kappa"))
      cells.crossJoin(broadcast(stats))
        .select(col("rater_a"), col("rater_b"), col("n"),
          col("po"), col("pe"), col("kappa"))
        .orderBy("rater_a", "rater_b")
    }),

    // Precision/recall curve — the classifier-eval companion of q_auc:
    // predict "purchase" when value ≥ t, sweeping t over every distinct
    // observed value. Shape: the fact table collapses to per-VALUE
    // (count, positives) first (partial-aggregable, bounded by distinct
    // values — the q_auc contract), and ONE descending
    // Sweep.runningSum yields both cumulative counts via a packed
    // BIGINT delta (cnt·2³¹ + npos: cum npos stays < 2³¹ through ~2e9
    // events, far past graded SFs; a 100 TB run would widen the pack to
    // decimal(38,0) or run two sweeps). Exactness: tp/fp/fn are exact
    // integers; precision, recall, and F1 are each ONE floor division
    // to micro-units — no float sum, no round() anywhere.
    "q_pr_curve" -> ((s, dir) => {
      val byVal = Tables.events(s, dir)
        .select(floor(col("value") * 100).cast("long").as("cents"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
        .groupBy(col("cents"))
        .agg(count(lit(1)).as("cnt"), sum(col("pos")).as("npos"))
      val run = Sweep.runningSum(
        byVal, col("cnt") * lit(2147483648L) + col("npos"), "packed",
        col("cents").desc)
      // Loud ceiling guard: the cnt·2³¹+npos pack is exact only while
      // total positives < 2³¹ and total rows < 2³², so the 1-row total
      // asserts both — a corpus past the ceiling fails the job with this
      // message instead of silently wrapping. assert_true returns NULL
      // on success, so `p + coalesce(assert, 0)` keeps the check inside
      // a LIVE column that pruning cannot drop.
      // coalesce(cond, true): empty input makes both sums NULL and a
      // NULL condition would RAISE (assert_true treats NULL as failed)
      // — an empty slice must yield an empty result, not a misleading
      // ceiling error.
      val tot = byVal.agg(sum(col("npos")).as("p0"), sum(col("cnt")).as("c0"))
        .select((col("p0") + coalesce(
          assert_true(
            coalesce(
              col("p0") < lit(2147483648L) && col("c0") < lit(4294967296L),
              lit(true)),
            lit("q_pr_curve: totals exceed the cnt*2^31+npos BIGINT pack" +
              " ceiling - widen the pack to decimal(38,0)")).cast("long"),
          lit(0L))).as("p"))
      run.crossJoin(broadcast(tot))
        .select(col("cents"), expr("packed div 2147483648").as("cumn"),
          pmod(col("packed"), lit(2147483648L)).as("tp"), col("p"))
        .select((col("cents") / 100.0).as("score"),
          col("tp"), (col("cumn") - col("tp")).as("fp"),
          (col("p") - col("tp")).as("fn"),
          (expr("(tp * 1000000) div cumn") / 1e6).as("precision"),
          (expr("(tp * 1000000) div p") / 1e6).as("recall"),
          (expr("(2 * tp * 1000000) div (cumn + p)") / 1e6).as("f1"))
        .orderBy(col("score").desc)
    }),

    // Union-of-intervals coverage per user — "how much wall-clock was
    // this user actually active", the dwell-time / ad-exposure /
    // machine-utilization primitive. Each event opens a VARIABLE-length
    // interval (duration carved from the value column), so intervals
    // genuinely nest and overlap and the merge needs the running-max
    // END (a lag of the previous start+len would silently lose
    // containment — the classic interval-union bug; q_sessionize's
    // fixed-gap rule never faces it). Exactness: durations are
    // floor(value·1000) — one correctly-rounded IEEE multiply both
    // engines share — then pure BIGINT ms arithmetic. Shape: windows
    // are all PARTITIONED by user (running max / running sum / rollup),
    // so the plan is one shuffle on user_id followed by
    // partition-local sorts — no global window, scales with users, not
    // events.
    "q_interval_union" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("ts_ms"), col("event_id"),
          (col("ts_ms") +
            pmod(expr("cast(floor(value * 1000) as bigint)"), lit(540001L)) +
            lit(60000L)).as("end_ms"))
      val order = Seq(col("ts_ms"), col("event_id"))
      val wPrev = Window.partitionBy("user_id").orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, -1)
      val wRun = Window.partitionBy("user_id").orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, 0)
      val marked = ev
        .withColumn("prev_max_end", max(col("end_ms")).over(wPrev))
        .withColumn("is_new",
          when(col("prev_max_end").isNull ||
            col("ts_ms") > col("prev_max_end"), 1L).otherwise(0L))
        .withColumn("island", sum(col("is_new")).over(wRun))
      marked.groupBy(col("user_id"), col("island"))
        .agg(min(col("ts_ms")).as("st"), max(col("end_ms")).as("en"),
          count(lit(1)).as("n_ev"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_intervals"),
          sum(col("n_ev")).as("n_events"),
          sum(col("en") - col("st")).as("covered_ms"),
          (max(col("en")) - min(col("st"))).as("span_ms"))
        .orderBy("user_id")
    }),

    // Rolling z-score anomaly detection over the daily revenue series —
    // the windowed control-chart every ops dashboard runs. The daily
    // rollup is GAP-FILLED onto the dense calendar spine (a zero-event
    // day is 0 revenue, and without the spine a gap would silently
    // stretch the ROWS frame past 14 calendar days). Exactness: the
    // trailing-14-day moments are exact decimal(38,0) sums; the
    // z denominator n·Σx²−(Σx)² is an exact integer, so z is ONE
    // division + ONE sqrt of exact integers (identical IEEE both
    // engines, no round()), and the |z|>3 outlier FLAG avoids floats
    // entirely — num² > 9·den is a pure integer comparison, so the
    // alarm can never flip on a ulp. Shape: the fact table collapses to
    // the calendar-bounded daily rollup FIRST (the q_drawdown
    // contract); the spine is a sequence-explode of the 1-row min/max
    // aggregate; the unpartitioned window runs over ≤2.4k dimension
    // rows, never the data.
    "q_rolling_zscore" -> ((s, dir) => {
      val dec = "decimal(38,0)"
      val rollup = Tables.events(s, dir)
        .groupBy(expr("ts_ms div 86400000").as("day"))
        .agg(sum(expr("cast(floor(value * 100) as bigint)")).as("cents"))
      val spine = rollup.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
        .select(explode(expr("sequence(mn, mx)")).as("day"))
      val daily = spine.join(rollup, Seq("day"), "left")
        .select(col("day"), coalesce(col("cents"), lit(0L)).as("cents"))
      val w = Window.orderBy("day").rowsBetween(-13, 0)
      daily
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("sx", sum(col("cents").cast(dec)).over(w))
        .withColumn("sx2",
          sum(col("cents").cast(dec) * col("cents")).over(w))
        .select(col("day"), col("cents"), col("n"),
          expr(s"cast(n as $dec) * cents - sx").as("num"),
          expr(s"cast(n as $dec) * sx2 - sx * sx").as("den"))
        .select(col("day"), col("cents"), col("n"),
          when(col("den") > 0,
            col("num").cast("double") / sqrt(col("den").cast("double")))
            .otherwise(lit(null).cast("double")).as("z"),
          (col("num") * col("num") > lit(9) * col("den") && col("den") > 0)
            .as("is_outlier"))
        .orderBy("day")
    }),

    // Seasonal-naive backtest — forecast(d) = actual(d−7), the baseline
    // every forecasting system must beat, evaluated as an exact MAE:
    // per-day absolute errors are exact BIGINT cents, MAE is ONE micro
    // floor division, and the worst day rides a packed-BIGINT argmax
    // (err·2²¹ + complemented epoch-day — epoch days sit far below 2²¹;
    // the pack is exact while err < 2⁴² cents). The lag-7 is a
    // CALENDAR-day self-join on day = day−7, not a row offset — a
    // zero-event day in the rollup must not slide every later forecast
    // to the wrong weekday. Same daily-rollup-first shape; the
    // self-join is dimension-sized.
    "q_backtest_snaive" -> ((s, dir) => {
      val pack = 2097152L // 2^21
      val daily = Tables.events(s, dir)
        .groupBy(expr("ts_ms div 86400000").as("day"))
        .agg(sum(expr("cast(floor(value * 100) as bigint)")).as("cents"))
      daily.join(daily.select((col("day") + 7).as("day"),
          col("cents").as("fc")), Seq("day"))
        .withColumn("err", abs(col("cents") - col("fc")))
        // Ceiling weave (the q_pr_curve discipline): the err·2²¹ pack
        // is exact only while every per-day err < 2⁴² cents — a corpus
        // past that fails HERE with the named contract instead of a
        // silent BIGINT wrap (DuckDB would raise; Spark's non-ANSI
        // multiply would not). coalesce(cond, true): an empty rollup
        // must stay empty-aggregate NULL, not a misleading error.
        .agg(count(lit(1)).as("n_days"),
          sum(col("err")).as("total_err"),
          (max(col("err") * pack + (lit(pack - 1) - col("day"))) + coalesce(
            assert_true(coalesce(max(col("err")) < lit(1L << 42), lit(true)),
              lit("q_backtest_snaive: a per-day error tops the err*2^21 " +
                "BIGINT pack ceiling (2^42 cents) - widen the pack to " +
                "decimal(38,0)")).cast("long"),
            lit(0L))).as("pmax"))
        // total_err·1e6 widens to decimal(38,0) FIRST: at ~9.2e12 total
        // cents of error the BIGINT product would wrap silently in
        // Spark while the HUGEINT oracle kept going — the classic
        // silent-divergence trap. decimal div bigint is an integral
        // divide (LongType), so the micro quotient stays exact.
        .select(col("n_days"), col("total_err"),
          (expr("(cast(total_err as decimal(38,0)) * 1000000) div n_days")
            / 1e6).as("mae"),
          expr("pmax div 2097152").as("max_err"),
          (lit(pack - 1) - pmod(col("pmax"), lit(pack))).as("worst_day"))
    }),

    // Duplicate-event / double-charge audit — same user, same dollar
    // amount, within 30 minutes: the idempotency check every payments
    // or telemetry pipeline runs. The non-equi time predicate rides as
    // a RESIDUAL on an equi-join: the later side keeps its 30-min
    // bucket, the earlier side explodes into (own, next) buckets, so
    // every qualifying pair meets exactly once on (user, dollars,
    // bucket) — never a range-join explosion, never a per-user
    // all-pairs. Exact integer ms/dollars; the (Δt > 0 OR id order)
    // residual dedups the zero-gap pairs and excludes self-pairs.
    "q_duplicate_events" -> ((s, dir) => {
      // PLANTED duplicates (the stream_late_drop fixture idiom): every
      // 37th event re-fires 60 s later under a new id — so the audit
      // has a known-positive set at every SF (organic collisions alone
      // are too thin at small fixtures to grade the join non-vacuously),
      // and the oracle replays the same plant. The planted-id offset is
      // bit 62 (2⁶²), NOT a decimal constant inside the organic range:
      // organic event_ids are a dense 0-based sequence, so any offset
      // the id space can reach (1e8 at ~23 GB of events) would collide
      // a plant with a real id and silently corrupt the known-positive
      // set; 2⁶² is unreachable (4.6e18 rows) yet keeps id+offset < 2⁶³.
      val plantBit = 1L << 62
      val base = Tables.events(s, dir).select(col("user_id"),
        col("event_id"), col("ts_ms"),
        expr("cast(floor(value * 100) as bigint) div 100").as("dollars"))
      val planted = base.filter(col("event_id") % 37 === 0)
        .select(col("user_id"), (col("event_id") + plantBit).as("event_id"),
          (col("ts_ms") + 60000L).as("ts_ms"), col("dollars"))
      val ev = base.unionAll(planted)
      val a = ev.select(col("user_id"), col("dollars"),
          col("event_id").as("id_a"), col("ts_ms").as("ts_a"))
        .withColumn("bkt", explode(array(expr("ts_a div 1800000"),
          expr("ts_a div 1800000 + 1"))))
      val b = ev.select(col("user_id"), col("dollars"),
        col("event_id").as("id_b"), col("ts_ms").as("ts_b"),
        expr("ts_ms div 1800000").as("bkt"))
      a.join(b, Seq("user_id", "dollars", "bkt"))
        .filter((col("ts_b") - col("ts_a")).between(0, 1800000) &&
          (col("ts_b") > col("ts_a") || col("id_a") < col("id_b")))
        .select(col("user_id"), col("dollars"), col("id_a"), col("id_b"),
          (col("ts_b") - col("ts_a")).as("gap_ms"))
        .orderBy("user_id", "id_a", "id_b")
    }),

    // Recency-decayed engagement score — the freshness weighting every
    // ranking/retention rollup applies, with the half-life decay done
    // as EXACT integer halving: weight = cents >> (age_days div 30),
    // the power-of-2 half-life approximation (2^-k decay per 30-day
    // epoch — stated approximation, zero libm, identical on both
    // engines because the operands are nonneg-clamped integers and the
    // shift count is capped). Shape: the "now" anchor is a broadcast
    // 1-row max; the per-user rollup is one partial-aggregable
    // HashAggregate.
    "q_decay_score" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("user_id"), col("ts_ms"),
        expr("greatest(cast(floor(value * 100) as bigint), 0)").as("cents"))
      val now = ev.agg(max(col("ts_ms")).as("now_ms"))
      ev.crossJoin(broadcast(now))
        .withColumn("hl",
          expr("least(((now_ms - ts_ms) div 86400000) div 30, 62)"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("cents")).as("raw_cents"),
          sum(expr("shiftright(cents, cast(hl as int))")).as("decayed_cents"))
        .orderBy("user_id")
    }),

    // Expected calibration error — the reliability audit every
    // quality-classifier pipeline runs before trusting model scores as
    // probabilities: bin predictions by confidence decile, compare each
    // bin's mean confidence to its empirical positive rate. Confidence
    // is a replayable md5-carved uniform in micro-units (the
    // data_dp_noise device — a real run reads the model's score column);
    // independence from the label means every bin's accuracy sits at the
    // base rate, so the report shows the textbook signature of an
    // uncalibrated uniform scorer. Exactness: per-bin n/pos/Σconf are
    // exact BIGINTs; |pos·1e6 − Σconf| is exact; acc, avg_conf, and
    // ECE = Σ_b |…| / (N·1e6) are each ONE floor division to
    // micro-units. Shape: one partial-aggregable pass to 10 bin rows;
    // the total is a broadcast 1-row aggregate.
    "q_ece_calibration" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"),
          expr("(cast(conv(substr(md5(cast(event_id as string)), 1, 6)," +
            " 16, 10) as bigint) * 1000000) div 16777216").as("conf_micro"))
      val bins = e.groupBy(expr("conf_micro div 100000").as("bin"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("pos"),
          sum(col("conf_micro")).as("conf_sum"))
        .withColumn("gap_abs", abs(col("pos") * lit(1000000L) - col("conf_sum")))
      val tot = bins.agg(sum(col("n")).as("nn"), sum(col("gap_abs")).as("g"))
        .select(expr("(g div nn)").as("ece_micro"))
      bins.crossJoin(broadcast(tot))
        .select(col("bin"), col("n"), col("pos"),
          (expr("(pos * 1000000) div n") / 1e6).as("acc"),
          (expr("conf_sum div n") / 1e6).as("avg_conf"),
          (col("ece_micro") / 1e6).as("ece"))
        .orderBy("bin")
    }),

    // The SparkSessionExtensions SQL-function path graded end-to-end:
    // graft's native codegen expressions invoked BY NAME from SQL text
    // (GraftExtensions registers the same builders injectFunction
    // wires at session construction — a user running `SET
    // spark.sql.extensions=graft.plans.GraftExtensions` gets exactly
    // this). graft_top_count is the O(n) per-doc hash-count fold,
    // graft_jaro_winkler the codegen similarity, graft_dot the fused
    // dot product — all pure projections, no shuffle beyond the join,
    // and the oracle replays each from first principles. The dot runs
    // on DOUBLE-cast arrays so both engines fold the identical
    // sequential IEEE sum.
    "q_sql_native_funcs" -> ((s, dir) => {
      graft.plans.GraftExtensions.register(s)
      Tables.documents(s, dir).createOrReplaceTempView("documents")
      Tables.embeddings(s, dir).createOrReplaceTempView("embeddings")
      s.sql(
        """SELECT d.doc_id,
          |       graft_top_count(split(lower(trim(d.text)), '\\s+'))
          |         AS top_word_count,
          |       round(graft_jaro_winkler(d.source, d.lang), 6) AS jw_src_lang,
          |       round(graft_dot(cast(e.embedding as array<double>),
          |                       cast(e.embedding as array<double>)), 6)
          |         AS norm2
          |FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
          |ORDER BY d.doc_id""".stripMargin)
    }),

    // Sequential probability ratio test (Wald's SPRT) — the
    // experimentation primitive q_ab_srm/q_ttest_welch lack: instead of
    // a fixed-horizon test, the log-likelihood ratio accumulates per
    // observation and the experiment STOPS at the first crossing of
    // ±ln((1−β)/α). Treatment-arm events test H0: p=0.18 vs
    // H1: p=0.22 on the purchase rate (fixture rate ≈ 0.207, so H1
    // wins once enough evidence accrues — it crosses at n=216 at
    // sf0.01 and n=279 at sf0.001, a real early stop either way; the
    // 'continue' branch is the coalesce fallback to the final row).
    // Exactness: the per-event LLR increments are INTEGER LITERALS in
    // e6-nats (ln ratios computed once offline; the identical literals
    // appear in the oracle — no cross-engine libm call exists), the
    // cumulative walk is Sweep.runningSum over the (ts, id) total
    // order, and the crossing test is pure integer comparison. Shape:
    // two range-partitioned sweeps (LLR sum + ordinal) over the same
    // order — SPRT is inherently sequential, and the sweep is the
    // distributed form of that scan; a single-pass variant would pack
    // both counters into one decimal delta.
    "q_ab_sequential" -> ((s, dir) => {
      val bound = 2944439L // ln(19) e6-nats: alpha = beta = 0.05
      val e = Tables.events(s, dir)
        .filter(pmod(col("user_id"), lit(2)) === 1)
        .select(col("ts_ms"), col("event_id"),
          when(col("event_type") === "purchase", lit(200671L))
            .otherwise(lit(-50010L)).as("llr"))
      val cum = Sweep.runningSum(e, col("llr"), "cum",
        col("ts_ms"), col("event_id"))
      val idx = Sweep.runningSum(cum, lit(1L), "n",
        col("ts_ms"), col("event_id"))
      val firstCross = idx.filter(abs(col("cum")) >= bound)
        .agg(min(col("n")).as("n_dec"))
      val tot = idx.agg(count(lit(1)).as("n_obs"))
      idx.crossJoin(broadcast(firstCross)).crossJoin(broadcast(tot))
        .filter(col("n") === coalesce(col("n_dec"), col("n_obs")))
        .select(col("n_obs"), col("n").as("n_at_decision"),
          col("cum").as("llr_e6"),
          when(col("cum") >= bound, "accept_h1")
            .when(col("cum") <= -bound, "accept_h0")
            .otherwise("continue").as("decision"))
    }),

    // Mann–Kendall trend test over the daily revenue series — the
    // nonparametric "is this metric drifting" monitor (no normality or
    // linearity assumption; robust to outliers, unlike q_linreg's
    // slope). Shape: the fact table collapses to the calendar-bounded
    // daily rollup FIRST (partial-aggregable, ≤2.4k rows at any SF —
    // the q_changepoint/q_acf contract), and the pair enumeration is a
    // |days|² self-join of that dimension-sized series — never the
    // data. Exactness: S = Σ sign(c_j − c_i) is an exact sum of
    // {−1,0,1}; the tie-corrected variance numerator
    // n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) is exact BIGINT algebra; and
    // z = (S ∓ 1)/sqrt(var_num/18) is one division + one
    // correctly-rounded IEEE sqrt — both engines land on the identical
    // double with no float accumulation anywhere.
    "q_mann_kendall" -> ((s, dir) => {
      val daily = Tables.orders(s, dir)
        .select(expr("unix_millis(cast(o_orderdate as timestamp))" +
          " div 86400000").as("day"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy(col("day")).agg(sum(col("cents")).as("c"))
      val pairs = daily.select(col("day").as("d1"), col("c").as("c1"))
        .join(daily.select(col("day").as("d2"), col("c").as("c2")),
          col("d1") < col("d2"))
        .agg(sum(signum(col("c2") - col("c1")).cast("long")).as("s_stat"))
      val ties = daily.groupBy(col("c")).agg(count(lit(1)).as("t"))
        .agg(sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie_term"),
          sum(col("t")).as("n"))
      pairs.crossJoin(broadcast(ties))
        .select(col("n").as("n_days"), col("s_stat"),
          expr("n * (n - 1) * (2 * n + 5) - tie_term").as("var_num"),
          (when(col("s_stat") > 0, col("s_stat") - 1)
            .when(col("s_stat") < 0, col("s_stat") + 1)
            .otherwise(0L).cast("double") /
            sqrt(expr("n * (n - 1) * (2 * n + 5) - tie_term")
              .cast("double") / 18.0)).as("z"))
    }),

    // Cramér's V — the EFFECT SIZE the q_chi_squared significance test
    // lacks (χ² grows with N; V ∈ [0,1] answers "how strong is the
    // association"). Same priority × segment contingency table and the
    // identical per-cell micro-unit quantization discipline; V is ONE
    // division of the exact χ² micro total by N·min(r−1, c−1) and a
    // correctly-rounded IEEE sqrt. Shape: the shared
    // [[priorityContingency]] cells (ONE definition with q_chi_squared
    // — the quantization discipline cannot drift between the two);
    // everything downstream is algebra on broadcast marginals.
    "q_cramers_v" -> ((s, dir) => {
      priorityContingency(s, dir).agg(sum(col("cmicro")).as("chi2m"),
          countDistinct(col("o_orderpriority")).as("np"),
          countDistinct(col("c_mktsegment")).as("ns"),
          sum(col("obs")).as("nn"))
        .select(col("nn").as("n"), (col("chi2m") / 1e6).as("chi2"),
          ((col("np") - 1) * (col("ns") - 1)).as("dof"),
          sqrt(col("chi2m").cast("double") /
            (lit(1e6) * col("nn").cast("double") *
              least(col("np") - 1, col("ns") - 1).cast("double")))
            .as("cramers_v"))
    }),

    // Rolling 7-day lower median of daily revenue — the robust
    // smoother a drifting-metric dashboard pairs with q_ewma (mean
    // smoothers chase outliers; the median does not). Shape: the fact
    // table collapses to the calendar-bounded daily rollup first; the
    // rows-frame window runs over ≤2.4k dimension rows (the q_drawdown
    // contract — unpartitioned windows only over calendar-bounded
    // rollups). Exactness: the LOWER median (⌈k/2⌉-th smallest of the
    // exact integer cents in the frame) is pure integer selection —
    // no .5 averaging, no round(), nothing to disagree on.
    "q_rolling_median" -> ((s, dir) => {
      val daily = Tables.orders(s, dir)
        .select(expr("unix_millis(cast(o_orderdate as timestamp))" +
          " div 86400000").as("day"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy(col("day")).agg(sum(col("cents")).as("c"))
      val w = Window.orderBy(col("day")).rowsBetween(-6, 0)
      daily
        .withColumn("frame", collect_list(col("c")).over(w))
        .select(col("day"), col("c").as("cents"),
          size(col("frame")).as("n_window"),
          expr("element_at(sort_array(frame), " +
            "cast((size(frame) + 1) div 2 as int))").as("median_cents"))
        .orderBy("day")
    }),

    // BITMAP-INDEX set intersection — the OLAP technique for audience
    // overlap at scale: each event type's active-user set compresses to
    // 62 users per BIGINT word (bit k of word w ⇔ user 62·w+k active),
    // and pairwise overlaps reduce to bit_count(a & b) summed over
    // co-partitioned words — the user sets are never joined row-wise.
    // 62 bits per word keeps every shift ≤ 61, so the packed value
    // stays positive on both engines (DuckDB's BIGINT << is checked at
    // 63). Exactness: bit_or is idempotent/commutative/associative
    // (identical words under any partitioning); overlap counts are
    // exact integers; Jaccard is ONE floor division to micro-units.
    // Shape: one distinct pass + one partial-aggregable bit_or groupBy,
    // then a |types|²-bounded word join. vs q_audience_overlap (exact
    // countDistinct joins): same numbers, ~64× less join traffic.
    "q_bitmap_overlap" -> ((s, dir) => {
      val bm = Tables.events(s, dir)
        .select(col("event_type"), col("user_id")).distinct()
        .select(col("event_type"), expr("user_id div 62").as("word"),
          expr("shiftleft(cast(1 as bigint), cast(pmod(user_id, 62) as int))")
            .as("bit"))
        .groupBy(col("event_type"), col("word"))
        .agg(expr("bit_or(bit)").as("bits"))
      val sizes = bm.groupBy(col("event_type"))
        .agg(sum(expr("bit_count(bits)")).as("n_users"))
      val pairs = bm.select(col("event_type").as("type_a"), col("word"),
          col("bits").as("ba"))
        .join(bm.select(col("event_type").as("type_b"), col("word"),
          col("bits").as("bb")), Seq("word"))
        .filter(col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(sum(expr("bit_count(ba & bb)")).as("overlap"))
      pairs
        .join(broadcast(sizes.withColumnRenamed("event_type", "type_a")
          .withColumnRenamed("n_users", "n_a")), "type_a")
        .join(broadcast(sizes.withColumnRenamed("event_type", "type_b")
          .withColumnRenamed("n_users", "n_b")), "type_b")
        .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
          col("overlap"),
          (expr("(overlap * 1000000) div (n_a + n_b - overlap)") / 1e6)
            .as("jaccard"))
        .orderBy("type_a", "type_b")
    }))

  val oracles: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_base_price,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        |       round(avg(l_quantity), 4) AS avg_qty,
        |       round(avg(l_extendedprice), 4) AS avg_price,
        |       round(avg(l_discount), 4) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_join_topk" ->
      """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_deep_join" ->
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "q_broadcast_join" ->
      """SELECT n_name, count(*) AS n_cust, round(sum(c_acctbal), 2) AS sum_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |              AND o.o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
        |ORDER BY c_custkey""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |                  AND o.o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
        |ORDER BY c_custkey""".stripMargin,
    "q_outer_join_agg" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_distinct" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    "q_count_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |       TRUE AS approx_within_10pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Replays the EXACT register construction: same md5 string algebra
    // (leading-'0' hex count + first nonzero digit's bit length), same
    // 2^60-scaled integer harmonic sum, same literal constant sequence.
    // The register/estimate replay lives next to the Spark
    // implementation (Sketches.oracleCtes) and is shared with
    // stream_hll's oracle, so the two graded replays cannot drift.
    "q_hll_sketch" ->
      s"""WITH ${Sketches.oracleCtes},
         |ex AS (SELECT event_type, count(DISTINCT user_id) AS exact_users
         |       FROM events GROUP BY 1),
         |est AS (SELECT a.event_type, ex.exact_users,
         |          CAST(256 - v0 AS BIGINT) AS registers_nonzero,
         |          ${Sketches.oracleEstimateExpr} AS e
         |        FROM agg a JOIN ex ON ex.event_type = a.event_type)
         |SELECT event_type, exact_users, registers_nonzero,
         |       round(e, 2) AS hll_estimate,
         |       round((round(e, 2) - exact_users) / exact_users, 4) AS rel_err
         |FROM est ORDER BY event_type""".stripMargin,
    // Exact legs hash-graded; the sketch-union estimate is adjudicated
    // in-plan within 5%, so the oracle states the band as literal TRUE.
    "q_hll_union" ->
      """WITH e AS (SELECT event_type, user_id,
        |             epoch_ms(ts) // 86400000 AS day
        |           FROM events)
        |SELECT event_type,
        |       count(DISTINCT user_id) AS exact_users,
        |       count(DISTINCT day) AS n_days,
        |       TRUE AS ok_est
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Exact set-algebra legs hash-graded; the theta estimates are
    // adjudicated in-plan within 5% of these exacts, so the oracle
    // states the bands as literal TRUEs.
    "q_theta_sketch" ->
      """WITH ut AS (SELECT DISTINCT event_type, user_id FROM events
        |            WHERE event_type IN ('view', 'click')),
        |x AS (SELECT user_id,
        |        max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS va,
        |        max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS cb
        |      FROM ut GROUP BY user_id)
        |SELECT CAST(sum(va) AS BIGINT) AS exact_a,
        |       CAST(sum(cb) AS BIGINT) AS exact_b,
        |       count(*) AS exact_union,
        |       CAST(sum(CASE WHEN va = 1 AND cb = 1 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS exact_inter,
        |       TRUE AS ok_a, TRUE AS ok_b,
        |       TRUE AS ok_union, TRUE AS ok_inter
        |FROM x""".stripMargin,
    "q_skew_salted_join" ->
      """SELECT e.event_id, e.event_type, t.type_total
        |FROM events e
        |JOIN (SELECT event_type, count(*) AS type_total
        |      FROM events GROUP BY event_type) t USING (event_type)
        |ORDER BY e.event_id""".stripMargin,
    // One rollup crossed with the three strategy tags: the hints must
    // not change a value, so the oracle computes the join ONCE.
    "q_join_strategy_hints" ->
      """WITH base AS (
        |  SELECT s_nationkey, count(*) AS n,
        |         CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
        |           AS BIGINT) AS cents
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  GROUP BY 1)
        |SELECT t.strategy, b.s_nationkey, b.n, b.cents / 100.0 AS revenue
        |FROM base b
        |CROSS JOIN (VALUES ('broadcast'), ('shuffle_hash'), ('merge'))
        |  AS t(strategy)
        |ORDER BY t.strategy, b.s_nationkey""".stripMargin,

    "q_skew_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_distinct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_topk_udaf" ->
      """SELECT event_type, rn - 1 AS rank, user_id AS uid FROM (
        |  SELECT event_type, user_id,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY user_id DESC) AS rn
        |  FROM events) t WHERE rn <= 3 ORDER BY event_type, rank""".stripMargin,
    "q_intersect" ->
      """SELECT user_id AS k FROM events
        |INTERSECT SELECT c_custkey AS k FROM customer ORDER BY k""".stripMargin,
    "q_except" ->
      """SELECT c_custkey AS k FROM customer
        |EXCEPT SELECT o_custkey AS k FROM orders
        |WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00' ORDER BY k""".stripMargin,
    "q_intersect_all" ->
      """SELECT user_id AS k FROM events
        |INTERSECT ALL SELECT o_custkey AS k FROM orders ORDER BY k""".stripMargin,
    "q_except_all" ->
      """SELECT o_custkey AS k FROM orders
        |EXCEPT ALL SELECT user_id AS k FROM events ORDER BY k""".stripMargin,
    "q_scalar_funcs" ->
      """SELECT o_orderkey,
        |       upper(o_orderpriority) AS prio_up,
        |       length(o_orderpriority) AS prio_len,
        |       substring(o_orderpriority, 1, 1) AS prio_1,
        |       concat_ws('-', o_orderstatus, o_orderpriority) AS status_prio,
        |       year(o_orderdate) AS yr,
        |       month(o_orderdate) AS mo,
        |       day(o_orderdate) AS dy,
        |       CAST(o_orderdate AS DATE) + 7 AS plus7,
        |       round(abs(o_totalprice * -1), 1) AS abs_price,
        |       CASE WHEN o_orderstatus = 'O' THEN 'open'
        |            WHEN o_orderstatus = 'F' THEN 'filled'
        |            ELSE 'other' END AS status_word
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_json_extract" ->
      """SELECT event_id,
        |       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    // The variant roundtrip must hand back exactly the typed values the
    // JSON documents were built from.
    "q_variant" ->
      """SELECT event_id, user_id AS u, event_type AS t,
        |       CAST(floor(value * 100) AS BIGINT) AS cents,
        |       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    // UTF8_LCASE grouping folds the re-cased labels back together — the
    // collation-free statement of the same answer groups by lower().
    "q_collation" ->
      """WITH m AS (
        |  SELECT CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
        |              ELSE lower(c_mktsegment) END AS seg_mixed,
        |         CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_cents
        |  FROM customer)
        |SELECT lower(seg_mixed) AS segment, count(*) AS n,
        |       CAST(sum(bal_cents) AS BIGINT) AS bal_cents
        |FROM m GROUP BY 1 ORDER BY segment""".stripMargin,
    "q_time_window" ->
      """SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms, event_type,
        |       count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start_ms, event_type""".stripMargin,
    "q_sliding_window" ->
      """WITH x AS (SELECT epoch_ms(ts) AS ts_ms, event_type FROM events),
        |w AS (SELECT ((ts_ms // 1800000) - j) * 1800000 AS ws, event_type
        |      FROM x CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS j) js
        |      WHERE ts_ms >= ((ts_ms // 1800000) - j) * 1800000
        |        AND ts_ms < ((ts_ms // 1800000) - j) * 1800000 + 3600000)
        |SELECT ws AS window_start_ms, event_type, count(*) AS n
        |FROM w GROUP BY 1, 2 ORDER BY window_start_ms, event_type""".stripMargin,
    "q_rolling_window" ->
      """SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT))
        |       OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
        |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS rolling_cents,
        |  CAST(count(*) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
        |                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS rolling_n
        |FROM events ORDER BY user_id, ts_ms, event_id""".stripMargin,
    "q_explode_stats" ->
      """SELECT vec_id, count(*) AS n_dims,
        |       round(min(v), 6) AS min_v, round(max(v), 6) AS max_v
        |FROM (SELECT vec_id, unnest(embedding::DOUBLE[]) AS v FROM embeddings) t
        |GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    "q_pivot" ->
      """SELECT user_id,
        |       count(*) FILTER (event_type = 'click') AS click,
        |       count(*) FILTER (event_type = 'error') AS error,
        |       count(*) FILTER (event_type = 'purchase') AS purchase,
        |       count(*) FILTER (event_type = 'signup') AS signup,
        |       count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_range_frame" ->
      """SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT))
        |       OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)
        |             RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS hour_cents,
        |  CAST(count(*) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)
        |                      RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS hour_n
        |FROM events ORDER BY user_id, ts_ms, event_id""".stripMargin,
    "q_gap_fill" ->
      """WITH h AS (SELECT event_type,
        |             (epoch_ms(ts) // 3600000) * 3600000 AS hour_ms,
        |             count(*) AS n,
        |             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |           FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type, min(hour_ms) AS lo, max(hour_ms) AS hi
        |      FROM h GROUP BY 1),
        |sp AS (SELECT event_type, unnest(generate_series(lo, hi, 3600000)) AS hour_ms
        |       FROM b),
        |j AS (SELECT sp.event_type, sp.hour_ms,
        |             coalesce(h.n, 0) AS n, h.sum_cents
        |      FROM sp LEFT JOIN h
        |        ON h.event_type = sp.event_type AND h.hour_ms = sp.hour_ms)
        |SELECT event_type, hour_ms, CAST(n AS BIGINT) AS n,
        |       CAST(last_value(sum_cents IGNORE NULLS)
        |            OVER (PARTITION BY event_type ORDER BY hour_ms
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |         AS filled_cents
        |FROM j ORDER BY event_type, hour_ms""".stripMargin,

    "q_islands" ->
      """WITH d AS (SELECT DISTINCT user_id,
        |             epoch_ms(ts) // 86400000 AS day FROM events),
        |g AS (SELECT user_id, day,
        |        day - row_number() OVER (PARTITION BY user_id
        |                                 ORDER BY day) AS grp
        |      FROM d)
        |SELECT user_id, min(day) AS start_day, max(day) AS end_day,
        |       count(*) AS n_days
        |FROM g GROUP BY user_id, grp
        |ORDER BY user_id, start_day""".stripMargin,

    "q_sql_surface" ->
      """SELECT n_name, o_orderpriority, count(*) AS n,
        |       round(sum(o_totalprice), 2) AS sum_tp
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
        |GROUP BY n_name, o_orderpriority
        |ORDER BY n_name, o_orderpriority""".stripMargin,
    // The SQL-UDF bodies inlined by hand: the function indirection must
    // be invisible in the answer.
    "q_sql_udf" ->
      """SELECT l_returnflag || '/' || l_linestatus AS bucket,
        |       count(*) AS n,
        |       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
        |                           * (1 + l_tax) * 100) AS BIGINT))
        |            AS BIGINT) AS margin_cents
        |FROM lineitem WHERE l_quantity >= 2.0
        |GROUP BY 1 ORDER BY bucket""".stripMargin,
    // The generator's gram stream re-stated with the shared 48-bit md5
    // gram key: positional trigrams, 0-based positions.
    "q_udtf_ngrams" ->
      """WITH w AS (SELECT source,
        |             string_split_regex(lower(trim(text)), '\s+') AS l
        |           FROM documents),
        |g AS (SELECT source,
        |        unnest(list_transform(generate_series(1, len(l) - 2),
        |          i -> {'p': i - 1,
        |                'h': ('0x' || substr(md5(l[i] || ' ' || l[i+1] || ' ' ||
        |                                        l[i+2]), 1, 12))::BIGINT})) AS u
        |      FROM w)
        |SELECT source, count(*) AS n_grams,
        |       count(DISTINCT u.h) AS n_distinct,
        |       CAST(sum(u.h % 1000) AS BIGINT) AS checksum,
        |       CAST(max(u.p) AS BIGINT) AS max_pos
        |FROM g GROUP BY source ORDER BY source""".stripMargin,
    // DuckDB's own recursive CTE walks the same chain (`//` is its
    // integral divide); both engines iterate to a fixpoint, so the
    // grade covers termination and per-round semantics, not just shape.
    "q_recursive_cte" ->
      """WITH RECURSIVE anc(id, node, depth) AS (
        |  SELECT c_custkey, c_custkey // 8, 1 FROM customer
        |  WHERE c_custkey // 8 >= 1
        |  UNION ALL
        |  SELECT a.id, e.c_custkey // 8, a.depth + 1
        |  FROM anc a JOIN customer e ON a.node = e.c_custkey
        |  WHERE e.c_custkey // 8 >= 1
        |)
        |SELECT id, count(*) AS n_anc,
        |       CAST(max(depth) AS BIGINT) AS height,
        |       CAST(sum(node) AS BIGINT) AS anc_sum
        |FROM anc GROUP BY id ORDER BY id""".stripMargin,
    // The pipe stages restated in classic SQL: post-aggregate WHERE is
    // HAVING, EXTEND is the select-list expression.
    "q_pipe_syntax" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
        |                     AS BIGINT)) AS BIGINT) AS rev_cents_sum
        |FROM lineitem WHERE l_quantity >= 2
        |GROUP BY 1, 2 HAVING count(*) > 50
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    // The parameterized query with every binding written out by hand.
    "q_param_sql" ->
      """SELECT o_orderpriority AS grp, count(*) AS n,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
        |            AS BIGINT) AS total_cents
        |FROM orders WHERE o_totalprice > 5000
        |GROUP BY o_orderpriority ORDER BY grp""".stripMargin,
    // The session-variable assignment restated as a scalar CTE; the
    // graded th_cents column pins the variable's exact value.
    "q_session_vars" ->
      """WITH t AS (SELECT CAST(sum(CAST(floor(o_totalprice * 100)
        |                               AS BIGINT)) // count(*)
        |                  AS BIGINT) AS th FROM orders)
        |SELECT o_orderpriority, count(*) AS n,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
        |            AS BIGINT) AS cents,
        |       CAST(max(t.th) AS BIGINT) AS th_cents
        |FROM orders, t
        |WHERE CAST(floor(o_totalprice * 100) AS BIGINT) >= t.th
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Both dynamic executions in one conditional-aggregation pass: the
    // two bound ranges must exactly tile the table.
    "q_execute_immediate" ->
      """WITH c AS (SELECT o_totalprice,
        |                  CAST(floor(o_totalprice * 100) AS BIGINT)
        |                    AS cents FROM orders)
        |SELECT count(CASE WHEN o_totalprice >= 150000.0
        |                   AND o_totalprice < 1000000000.0 THEN 1 END)
        |         AS n_hi,
        |       CAST(coalesce(sum(CASE WHEN o_totalprice >= 150000.0
        |                          AND o_totalprice < 1000000000.0
        |                          THEN cents END), 0) AS BIGINT)
        |         AS hi_cents,
        |       count(CASE WHEN o_totalprice >= 0.0
        |                   AND o_totalprice < 150000.0 THEN 1 END)
        |         AS n_lo,
        |       CAST(coalesce(sum(CASE WHEN o_totalprice >= 0.0
        |                          AND o_totalprice < 150000.0
        |                          THEN cents END), 0) AS BIGINT)
        |         AS lo_cents,
        |       count(*) AS n_total
        |FROM c""".stripMargin,
    // The script's five WHILE rounds unrolled as chained CTEs — every
    // iteration's integer arithmetic is pinned, not just the fixpoint.
    "q_sql_script" ->
      """WITH c AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT)
        |             AS cents FROM orders),
        |t0 AS (SELECT max(cents) AS th FROM c),
        |t1 AS (SELECT CAST(sum(cents) // count(*) AS BIGINT) AS th
        |       FROM c, t0 WHERE cents <= t0.th),
        |t2 AS (SELECT CAST(sum(cents) // count(*) AS BIGINT) AS th
        |       FROM c, t1 WHERE cents <= t1.th),
        |t3 AS (SELECT CAST(sum(cents) // count(*) AS BIGINT) AS th
        |       FROM c, t2 WHERE cents <= t2.th),
        |t4 AS (SELECT CAST(sum(cents) // count(*) AS BIGINT) AS th
        |       FROM c, t3 WHERE cents <= t3.th),
        |t5 AS (SELECT CAST(sum(cents) // count(*) AS BIGINT) AS th
        |       FROM c, t4 WHERE cents <= t4.th)
        |SELECT t5.th AS trimmed_mean_cents,
        |       CAST(5 AS BIGINT) AS rounds,
        |       (SELECT count(*) FROM c WHERE cents <= t5.th) AS n_below
        |FROM t5""".stripMargin,
    // Exact top-3 by (count desc, key): the sketch is exact at this
    // cardinality and the boundary is tie-free at both graded SFs.
    "q_approx_topk" ->
      """SELECT event_type, n FROM (
        |  SELECT event_type, count(*) AS n,
        |         row_number() OVER (ORDER BY count(*) DESC, event_type)
        |           AS r
        |  FROM events GROUP BY 1)
        |WHERE r <= 3 ORDER BY n DESC, event_type""".stripMargin,
    // The observed metrics must equal a dedicated aggregation pass.
    "q_observe_metrics" ->
      """WITH c AS (SELECT CAST(floor(l_extendedprice * 100) AS BIGINT)
        |             AS cents, l_returnflag
        |           FROM lineitem)
        |SELECT count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS total_cents,
        |       count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS n_returned,
        |       min(cents) AS min_cents, max(cents) AS max_cents
        |FROM c""".stripMargin,
    "q_asof_join" ->
      """WITH r AS (SELECT o_custkey, epoch_ms(o_orderdate) AS o_ms,
        |                  max(o_orderkey) AS o_orderkey
        |           FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, epoch_ms(e.ts) AS ts_ms, r.o_orderkey
        |FROM events e ASOF LEFT JOIN r
        |  ON e.user_id = r.o_custkey AND epoch_ms(e.ts) >= r.o_ms
        |ORDER BY event_id""".stripMargin,
    "q_range_join" ->
      """SELECT band, count(*) AS n, round(sum(o_totalprice), 2) AS sum_tp
        |FROM orders JOIN (VALUES (0.0, 100000.0, 'low'),
        |                         (100000.0, 200000.0, 'mid'),
        |                         (200000.0, 1000000000000.0, 'high')) b(lo, hi, band)
        |  ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY band ORDER BY band""".stripMargin,
    // unpivot(pivot(x)) == x on the non-zero cells: the oracle is the
    // plain long-form aggregation.
    "q_unpivot" ->
      """SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1, 2 ORDER BY user_id, event_type""".stripMargin,
    "q_argmax" ->
      """WITH r AS (SELECT o_custkey, o_orderkey, o_totalprice,
        |             row_number() OVER (PARTITION BY o_custkey
        |               ORDER BY o_totalprice DESC, o_orderkey DESC) AS rmax,
        |             row_number() OVER (PARTITION BY o_custkey
        |               ORDER BY o_totalprice ASC, o_orderkey DESC) AS rmin
        |           FROM orders)
        |SELECT o_custkey,
        |       max(CASE WHEN rmax = 1 THEN o_orderkey END) AS top_order,
        |       max(CASE WHEN rmin = 1 THEN o_orderkey END) AS bottom_order,
        |       round(max(o_totalprice), 2) AS max_tp
        |FROM r GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    // Same exact-integer-moments → one-shot double combination as the
    // Spark side; DuckDB's sum(BIGINT) widens to HUGEINT, mirroring the
    // DECIMAL(38,0) accumulators.
    "q_corr_agg" ->
      """WITH m AS (SELECT l_returnflag, count(*) AS n,
        |             sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |             sum(x * x) AS sxx, sum(y * y) AS syy
        |           FROM (SELECT l_returnflag,
        |                   CAST(floor(l_quantity * 100) AS BIGINT) AS x,
        |                   CAST(floor(l_extendedprice * 100) AS BIGINT) AS y
        |                 FROM lineitem)
        |           GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS corr_xy,
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS covar_pop,
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
        |  round((CAST(sy AS DOUBLE)
        |      - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |        * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS intercept,
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |     * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS r2
        |FROM m ORDER BY l_returnflag""".stripMargin,

    // Same 25-cell contingency → marginals → expected/contribution
    // combination; doubles before the row_tot·col_tot product.
    "q_chi_squared" ->
      """WITH j AS (SELECT o_orderpriority, c_mktsegment
        |           FROM orders JOIN customer ON o_custkey = c_custkey),
        |cells AS (SELECT o_orderpriority, c_mktsegment, count(*) AS obs
        |          FROM j GROUP BY 1, 2),
        |rt AS (SELECT o_orderpriority, sum(obs) AS row_tot FROM cells GROUP BY 1),
        |ct AS (SELECT c_mktsegment, sum(obs) AS col_tot FROM cells GROUP BY 1),
        |g AS (SELECT sum(obs) AS grand FROM cells),
        |e AS (SELECT o_orderpriority, c_mktsegment, obs,
        |        CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
        |          / CAST(grand AS DOUBLE) AS expected
        |      FROM cells JOIN rt USING (o_orderpriority)
        |      JOIN ct USING (c_mktsegment) CROSS JOIN g),
        |c AS (SELECT *, CAST(round((obs - expected) * (obs - expected)
        |                            / expected * 1e6) AS BIGINT) AS cmicro
        |      FROM e),
        |t AS (SELECT CAST(sum(cmicro) AS BIGINT) AS chi2m,
        |        (count(DISTINCT o_orderpriority) - 1)
        |          * (count(DISTINCT c_mktsegment) - 1) AS dof
        |      FROM c)
        |SELECT o_orderpriority, c_mktsegment, obs,
        |       round(expected, 4) AS expected, cmicro / 1e6 AS contrib,
        |       ((chi2m + 50) // 100) / 1e4 AS chi2_total, dof
        |FROM c CROSS JOIN t
        |ORDER BY o_orderpriority, c_mktsegment""".stripMargin,

    // Same expand-to-window-ends shape: each (user, day) row covers the
    // seven window ends day..day+6; distinct-count per end.
    "q_sliding_dau" ->
      """WITH ud AS (SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day
        |            FROM events),
        |w AS (SELECT unnest(generate_series(day, day + 6)) AS day, user_id
        |      FROM ud),
        |b AS (SELECT min(day) AS mn, max(day) AS mx FROM ud),
        |d7 AS (SELECT day, count(DISTINCT user_id) AS dau7 FROM w GROUP BY 1),
        |d1 AS (SELECT day, count(DISTINCT user_id) AS dau FROM ud GROUP BY 1)
        |SELECT d1.day, d1.dau, d7.dau7
        |FROM d1 JOIN d7 USING (day) CROSS JOIN b
        |WHERE d1.day BETWEEN mn AND mx ORDER BY day""".stripMargin,

    // Same 16-tap truncated decay over the identical frame list; both
    // engines fold the list left-to-right with pow(0.8, L−k) weights.
    "q_ewma" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
        |             CAST(value AS DOUBLE) AS v
        |           FROM events),
        |l AS (SELECT user_id, event_id, ts_ms,
        |        list(v) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |                      ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS vals
        |      FROM e)
        |SELECT user_id, event_id, ts_ms,
        |  round(
        |    list_sum(list_transform(generate_series(1, len(vals)),
        |      k -> vals[k] * pow(0.8, len(vals) - k)))
        |    / list_sum(list_transform(generate_series(1, len(vals)),
        |      k -> pow(0.8, len(vals) - k))), 4) AS ewma
        |FROM l ORDER BY user_id, ts_ms, event_id""".stripMargin,

    "q_mode" ->
      """WITH c AS (SELECT event_type, user_id, count(*) AS cnt
        |           FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, user_id, cnt,
        |        row_number() OVER (PARTITION BY event_type
        |          ORDER BY cnt DESC, user_id) AS rn
        |      FROM c)
        |SELECT event_type,
        |       max(CASE WHEN rn = 1 THEN user_id END) AS mode_user,
        |       max(CASE WHEN rn = 1 THEN cnt END) AS mode_cnt,
        |       CAST(sum(cnt) AS BIGINT) AS n_events,
        |       count(*) AS n_users
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,

    // The sequential form of the parent-chain walk: one edge per
    // recursion round; the terminal row per id carries root + depth.
    "q_recursive_hierarchy" ->
      """WITH RECURSIVE walk AS (
        |  SELECT c_custkey AS id, c_custkey AS cur, CAST(0 AS BIGINT) AS depth
        |  FROM customer
        |  UNION ALL
        |  SELECT id, cur - (cur % 7 + 1) AS cur, depth + 1
        |  FROM walk WHERE cur - (cur % 7 + 1) >= 0
        |)
        |SELECT id, cur AS root, depth FROM walk
        |QUALIFY row_number() OVER (PARTITION BY id ORDER BY depth DESC) = 1
        |ORDER BY id""".stripMargin,
    "q_table_diff" ->
      """WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |v1 AS (SELECT * FROM o WHERE o_orderkey % 3 <> 0),
        |delta AS (SELECT o_orderkey, 'U' AS o_orderstatus,
        |                 round(o_totalprice + 1000, 2) AS o_totalprice
        |          FROM o WHERE o_orderkey % 2 = 0),
        |v2 AS (SELECT o_orderkey,
        |         coalesce(d.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
        |         coalesce(d.o_totalprice, b.o_totalprice) AS o_totalprice
        |       FROM v1 b FULL JOIN delta d USING (o_orderkey)
        |       WHERE o_orderkey % 7 <> 1),
        |diff AS (SELECT o_orderkey,
        |           CASE WHEN a.o_orderstatus IS NULL THEN 'added'
        |                WHEN b.o_orderstatus IS NULL THEN 'removed'
        |                WHEN a.o_orderstatus = b.o_orderstatus
        |                 AND a.o_totalprice = b.o_totalprice THEN 'same'
        |                ELSE 'changed' END AS status
        |         FROM v1 a FULL JOIN v2 b USING (o_orderkey))
        |SELECT status, count(*) AS n, min(o_orderkey) AS min_key
        |FROM diff GROUP BY status ORDER BY status""".stripMargin,
    "q_scd2" ->
      """WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |v1 AS (SELECT * FROM o WHERE o_orderkey % 13 <> 0),
        |v2 AS (SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 5 = 0 THEN 'R' ELSE o_orderstatus END AS o_orderstatus,
        |         CASE WHEN o_orderkey % 5 = 0 THEN round(o_totalprice + 100, 2)
        |              ELSE o_totalprice END AS o_totalprice
        |       FROM o WHERE o_orderkey % 7 <> 1),
        |j AS (SELECT coalesce(a.o_orderkey, b.o_orderkey) AS k,
        |             a.o_orderkey IS NOT NULL AS in_a,
        |             b.o_orderkey IS NOT NULL AS in_b,
        |             a.o_orderstatus AS s1, a.o_totalprice AS p1,
        |             b.o_orderstatus AS s2, b.o_totalprice AS p2,
        |             (a.o_orderkey IS NOT NULL AND b.o_orderkey IS NOT NULL
        |              AND a.o_orderstatus IS NOT DISTINCT FROM b.o_orderstatus
        |              AND a.o_totalprice IS NOT DISTINCT FROM b.o_totalprice) AS same
        |      FROM v1 a FULL JOIN v2 b ON a.o_orderkey = b.o_orderkey)
        |SELECT k AS o_orderkey, s1 AS o_orderstatus, round(p1, 2) AS o_totalprice,
        |       CAST(1 AS BIGINT) AS valid_from,
        |       CASE WHEN same THEN NULL ELSE CAST(2 AS BIGINT) END AS valid_to,
        |       same AS is_current
        |FROM j WHERE in_a
        |UNION ALL
        |SELECT k, s2, round(p2, 2), CAST(2 AS BIGINT), CAST(NULL AS BIGINT), TRUE
        |FROM j WHERE in_b AND NOT same
        |ORDER BY o_orderkey, valid_from""".stripMargin,

    // The SCD2 CTEs again (DuckDB oracle reruns them), then a plain
    // interval join — the Spark side must produce the identical result
    // through the as-of union-window shape.
    "q_pit_join" ->
      """WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |v1 AS (SELECT * FROM o WHERE o_orderkey % 13 <> 0),
        |v2 AS (SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 5 = 0 THEN 'R' ELSE o_orderstatus END AS o_orderstatus,
        |         CASE WHEN o_orderkey % 5 = 0 THEN round(o_totalprice + 100, 2)
        |              ELSE o_totalprice END AS o_totalprice
        |       FROM o WHERE o_orderkey % 7 <> 1),
        |j AS (SELECT coalesce(a.o_orderkey, b.o_orderkey) AS k,
        |             a.o_orderkey IS NOT NULL AS in_a,
        |             b.o_orderkey IS NOT NULL AS in_b,
        |             a.o_orderstatus AS s1, a.o_totalprice AS p1,
        |             b.o_orderstatus AS s2, b.o_totalprice AS p2,
        |             (a.o_orderkey IS NOT NULL AND b.o_orderkey IS NOT NULL
        |              AND a.o_orderstatus IS NOT DISTINCT FROM b.o_orderstatus
        |              AND a.o_totalprice IS NOT DISTINCT FROM b.o_totalprice) AS same
        |      FROM v1 a FULL JOIN v2 b ON a.o_orderkey = b.o_orderkey),
        |h AS (SELECT k AS o_orderkey, s1 AS st, p1 AS pr, 1 AS valid_from,
        |             CASE WHEN same THEN NULL ELSE 2 END AS valid_to
        |      FROM j WHERE in_a
        |      UNION ALL
        |      SELECT k, s2, p2, 2, NULL FROM j WHERE in_b AND NOT same),
        |ev AS (SELECT l_orderkey, l_linenumber, l_linenumber % 2 + 1 AS t
        |       FROM lineitem)
        |SELECT ev.l_orderkey, ev.l_linenumber, CAST(ev.t AS BIGINT) AS t,
        |       h.st AS o_orderstatus, round(h.pr, 2) AS o_totalprice
        |FROM ev JOIN h ON h.o_orderkey = ev.l_orderkey
        | AND h.valid_from <= ev.t AND (h.valid_to IS NULL OR ev.t < h.valid_to)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_sort_nulls" ->
      """SELECT o_orderkey,
        |       CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |            ELSE o_orderpriority END AS prio
        |FROM orders
        |ORDER BY prio ASC NULLS LAST, o_orderkey""".stripMargin,
    "q_decimal_agg" ->
      """SELECT l_returnflag,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |       count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_histogram" ->
      """SELECT event_type,
        |       CAST(floor(value / 50) * 50 AS BIGINT) AS bucket_lo,
        |       count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY event_type, bucket_lo""".stripMargin,
    "q_bucket_join" ->
      """SELECT o_custkey, count(*) AS n_items,
        |       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "q_upsert" ->
      """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice
        |              FROM orders WHERE o_orderkey % 3 <> 0),
        |delta AS (SELECT o_orderkey, 'U' AS o_orderstatus,
        |                 round(o_totalprice + 1000, 2) AS o_totalprice
        |          FROM orders WHERE o_orderkey % 2 = 0)
        |SELECT o_orderkey,
        |       coalesce(d.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
        |       round(coalesce(d.o_totalprice, b.o_totalprice), 2) AS o_totalprice
        |FROM base b FULL JOIN delta d USING (o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "q_winsorize" ->
      """WITH p AS (SELECT event_type,
        |             round(quantile_cont(value, 0.05), 4) AS lo,
        |             round(quantile_cont(value, 0.95), 4) AS hi
        |           FROM events GROUP BY 1)
        |SELECT event_id, e.event_type,
        |       round(greatest(least(value, hi), lo), 4) AS v_clip,
        |       value < lo AS clipped_low,
        |       value > hi AS clipped_high
        |FROM events e JOIN p USING (event_type)
        |ORDER BY event_id""".stripMargin,
    "q_profile" -> {
      val cols = Seq("o_custkey", "o_orderdate", "o_orderkey",
        "o_orderpriority", "o_orderstatus", "o_totalprice")
      val legs = cols.map { c =>
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
           |       CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |       count(DISTINCT $c) AS n_distinct,
           |       CAST(min($c) AS VARCHAR) AS min_value,
           |       CAST(max($c) AS VARCHAR) AS max_value FROM o""".stripMargin
      }
      s"""WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         |             o_orderdate,
         |             CASE WHEN o_orderkey % 7 = 0 THEN NULL
         |                  ELSE o_orderpriority END AS o_orderpriority
         |           FROM orders)
         |SELECT * FROM (${legs.mkString("\nUNION ALL\n")})
         |ORDER BY "column"""".stripMargin
    },
    // HLL-path replay: the exact legs replay value-for-value; the
    // approx estimate is engine-local by nature (two HLL
    // implementations never match digit-for-digit), so the oracle
    // contributes the exact count the band is measured against and
    // the literal contract verdict the Spark side must reproduce.
    "q_profile_approx" -> {
      val cols = Seq("o_custkey", "o_orderdate", "o_orderkey",
        "o_orderpriority", "o_orderstatus", "o_totalprice")
      val legs = cols.map { c =>
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
           |       CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |       count(DISTINCT $c) AS n_distinct,
           |       CAST(min($c) AS VARCHAR) AS min_value,
           |       CAST(max($c) AS VARCHAR) AS max_value,
           |       true AS nd_approx_ok FROM o""".stripMargin
      }
      s"""WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         |             o_orderdate,
         |             CASE WHEN o_orderkey % 7 = 0 THEN NULL
         |                  ELSE o_orderpriority END AS o_orderpriority
         |           FROM orders)
         |SELECT * FROM (${legs.mkString("\nUNION ALL\n")})
         |ORDER BY "column"""".stripMargin
    },
    // Solo HLL-profile replay: the stacked (column, value-string)
    // relation re-created column-for-column, then the SHARED register
    // replay (Sketches.oracleCtesOver — the one text q_hll_sketch and
    // stream_hll also instantiate) reproduces the estimate itself.
    "q_profile_approx_solo" -> {
      val cols = Seq("o_custkey", "o_orderdate", "o_orderkey",
        "o_orderpriority", "o_orderstatus", "o_totalprice")
      val legs = cols.map { c =>
        s"""SELECT '$c' AS "column", CAST($c AS VARCHAR) AS v FROM o"""
      }
      s"""WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         |             o_orderdate,
         |             CASE WHEN o_orderkey % 7 = 0 THEN NULL
         |                  ELSE o_orderpriority END AS o_orderpriority
         |           FROM orders),
         |stk AS (${legs.mkString("\nUNION ALL\n")}),
         |cnt AS (SELECT "column", count(*) AS n_rows,
         |          CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |            AS n_nulls
         |        FROM stk GROUP BY 1),
         |${graft.operators.Sketches.oracleCtesOver("stk", "\"column\"", "v")}
         |SELECT c."column" AS "column", c.n_rows, c.n_nulls,
         |       coalesce(CAST(256 - a.v0 AS BIGINT), 0) AS registers_nonzero,
         |       coalesce(round(${graft.operators.Sketches.oracleEstimateExpr},
         |                      2), 0.0) AS hll_estimate
         |FROM cnt c LEFT JOIN agg a ON a."column" = c."column"
         |ORDER BY "column"""".stripMargin
    },
    "q_referential_integrity" ->
      """WITH op AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 5 <> 0),
        |cp AS (SELECT c_custkey FROM customer WHERE c_custkey % 7 <> 0),
        |cc AS (SELECT CASE WHEN c_custkey % 11 = 0 THEN NULL
        |                   ELSE c_nationkey END AS fk FROM customer)
        |SELECT * FROM (
        |  SELECT 'lineitem->orders' AS relation, count(*) AS n_child_rows,
        |         CAST(sum(CASE WHEN l.l_orderkey IS NOT NULL AND p.o_orderkey IS NULL
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan_rows,
        |         count(DISTINCT CASE WHEN l.l_orderkey IS NOT NULL AND p.o_orderkey IS NULL
        |                             THEN l.l_orderkey END) AS n_orphan_keys,
        |         CAST(sum(CASE WHEN l.l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_fk
        |  FROM lineitem l LEFT JOIN op p ON l.l_orderkey = p.o_orderkey
        |  UNION ALL
        |  SELECT 'orders->customer', count(*),
        |         CAST(sum(CASE WHEN o.o_custkey IS NOT NULL AND p.c_custkey IS NULL
        |                       THEN 1 ELSE 0 END) AS BIGINT),
        |         count(DISTINCT CASE WHEN o.o_custkey IS NOT NULL AND p.c_custkey IS NULL
        |                             THEN o.o_custkey END),
        |         CAST(sum(CASE WHEN o.o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM orders o LEFT JOIN cp p ON o.o_custkey = p.c_custkey
        |  UNION ALL
        |  SELECT 'customer->nation', count(*),
        |         CAST(sum(CASE WHEN c.fk IS NOT NULL AND p.n_nationkey IS NULL
        |                       THEN 1 ELSE 0 END) AS BIGINT),
        |         count(DISTINCT CASE WHEN c.fk IS NOT NULL AND p.n_nationkey IS NULL
        |                             THEN c.fk END),
        |         CAST(sum(CASE WHEN c.fk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM cc c LEFT JOIN nation p ON c.fk = p.n_nationkey)
        |ORDER BY relation""".stripMargin,
    "q_cdc_apply" ->
      """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice
        |              FROM orders WHERE o_orderkey % 3 <> 0),
        |log AS (
        |  SELECT o_orderkey, 1 AS seq, 'U' AS op, 'U1' AS o_orderstatus,
        |         round(o_totalprice + 500, 2) AS o_totalprice
        |  FROM orders WHERE o_orderkey % 4 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 2, 'D', NULL, NULL
        |  FROM orders WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 3, 'U', 'U3', round(o_totalprice + 900, 2)
        |  FROM orders WHERE o_orderkey % 8 = 0),
        |latest AS (
        |  SELECT * FROM (SELECT l.*, row_number() OVER
        |           (PARTITION BY o_orderkey ORDER BY seq DESC, op DESC) AS rn
        |         FROM log l) WHERE rn = 1)
        |SELECT o_orderkey,
        |       coalesce(c.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
        |       round(coalesce(c.o_totalprice, b.o_totalprice), 2) AS o_totalprice
        |FROM base b FULL JOIN latest c USING (o_orderkey)
        |WHERE c.op IS NULL OR c.op <> 'D'
        |ORDER BY o_orderkey""".stripMargin,
    "q_outliers" ->
      """WITH e AS (SELECT user_id, event_id,
        |             CAST(floor(value * 100) AS BIGINT) AS cents
        |           FROM events),
        |st AS (SELECT user_id, count(*) AS n,
        |         CAST(sum(cents) AS BIGINT) AS s,
        |         CAST(sum(cents * cents) AS BIGINT) AS q
        |       FROM e GROUP BY 1)
        |SELECT e.user_id, e.event_id, e.cents
        |FROM e JOIN st USING (user_id)
        |WHERE (n * cents - s) * (n * cents - s) > 4 * (n * q - s * s)
        |ORDER BY user_id, event_id""".stripMargin,
    "q_bloom_join" ->
      """SELECT l_orderkey, count(*) AS n_items,
        |       round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |                     WHERE o_totalprice > 400000)
        |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
    "q_percentiles" ->
      """SELECT l_returnflag,
        |       round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
        |       round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty,
        |       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price,
        |       count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_percentiles_sketch" ->
      """SELECT l_returnflag, count(*) AS n,
        |       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_exact,
        |       round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_exact,
        |       TRUE AS sketch_within_5pct
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |       round(sum(o_totalprice), 2) AS sum_tp
        |FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    // Interval-union replay: variable-length intervals (pmod-carved
    // duration, mirrored as ((x % m) + m) % m against DuckDB's signed
    // %), merged via the running-max end over PRECEDING rows — the
    // containment-safe rule — then per-island and per-user rollups.
    "q_interval_union" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
        |         epoch_ms(ts)
        |           + ((CAST(floor(value * 1000) AS BIGINT) % 540001) + 540001)
        |             % 540001 + 60000 AS end_ms
        |  FROM events),
        |m AS (
        |  SELECT *, max(end_ms) OVER (PARTITION BY user_id
        |           ORDER BY ts_ms, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
        |  FROM e),
        |k AS (
        |  SELECT *, CASE WHEN pme IS NULL OR ts_ms > pme THEN 1 ELSE 0 END
        |           AS is_new FROM m),
        |i AS (
        |  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id
        |           ORDER BY ts_ms, event_id ROWS UNBOUNDED PRECEDING)
        |         AS BIGINT) AS island
        |  FROM k),
        |g AS (
        |  SELECT user_id, island, min(ts_ms) AS st, max(end_ms) AS en,
        |         count(*) AS n_ev
        |  FROM i GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_intervals,
        |       CAST(sum(n_ev) AS BIGINT) AS n_events,
        |       CAST(sum(en - st) AS BIGINT) AS covered_ms,
        |       max(en) - min(st) AS span_ms
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,

    // Rolling z replay: trailing-14 HUGEINT moments, one division + one
    // sqrt of exact integers, integer-compared outlier flag.
    "q_rolling_zscore" ->
      """WITH rollup_d AS (SELECT epoch_ms(ts) // 86400000 AS day,
        |                 CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
        |                   AS cents
        |               FROM events GROUP BY 1),
        |spine AS (SELECT unnest(generate_series((SELECT min(day) FROM rollup_d),
        |                                        (SELECT max(day) FROM rollup_d)))
        |            AS day),
        |daily AS (SELECT spine.day, coalesce(rollup_d.cents, 0) AS cents
        |          FROM spine LEFT JOIN rollup_d USING (day)),
        |w AS (SELECT day, cents,
        |        count(*) OVER r AS n,
        |        sum(CAST(cents AS HUGEINT)) OVER r AS sx,
        |        sum(CAST(cents AS HUGEINT) * cents) OVER r AS sx2
        |      FROM daily
        |      WINDOW r AS (ORDER BY day ROWS BETWEEN 13 PRECEDING
        |                   AND CURRENT ROW)),
        |t AS (SELECT day, cents, n,
        |        CAST(n AS HUGEINT) * cents - sx AS num,
        |        CAST(n AS HUGEINT) * sx2 - sx * sx AS den
        |      FROM w)
        |SELECT day, cents, n,
        |       CASE WHEN den > 0
        |            THEN CAST(num AS DOUBLE) / sqrt(CAST(den AS DOUBLE))
        |            ELSE NULL END AS z,
        |       (num * num > 9 * den AND den > 0) AS is_outlier
        |FROM t ORDER BY day""".stripMargin,

    // Seasonal-naive replay: lag-7 forecast over the daily rollup,
    // exact MAE micro division, packed-BIGINT worst-day argmax.
    "q_backtest_snaive" ->
      """WITH daily AS (SELECT epoch_ms(ts) // 86400000 AS day,
        |                 CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
        |                   AS cents
        |               FROM events GROUP BY 1),
        |e AS (SELECT d.day, abs(d.cents - f.cents) AS err
        |      FROM daily d JOIN daily f ON d.day = f.day + 7),
        |a AS (SELECT count(*) AS n_days, CAST(sum(err) AS BIGINT) AS total_err,
        |        max(err * 2097152 + (2097151 - day)) AS pmax
        |      FROM e)
        |SELECT n_days, total_err,
        |       -- HUGEINT widening mirrors the Spark decimal(38,0) cast:
        |       -- both engines take the exact integral quotient, one
        |       -- display division
        |       ((CAST(total_err AS HUGEINT) * 1000000) // n_days) / 1e6 AS mae,
        |       CAST(pmax // 2097152 AS BIGINT) AS max_err,
        |       CAST(2097151 - (pmax % 2097152) AS BIGINT) AS worst_day
        |FROM a""".stripMargin,

    // Duplicate-pair replay: the oracle skips the bucketing device (a
    // plain self-join is fine at oracle scale) — identical pair set by
    // construction since the buckets only partition the match space.
    // Planted ids carry bit 62 (4611686018427387904 = 2⁶²), mirroring
    // the Spark side: an offset inside the reachable id range would
    // collide plants with organic events at large SFs.
    "q_duplicate_events" ->
      """WITH b0 AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
        |              CAST(floor(value * 100) AS BIGINT) // 100 AS dollars
        |            FROM events),
        |e AS (SELECT * FROM b0
        |      UNION ALL
        |      SELECT user_id, event_id + 4611686018427387904, ts_ms + 60000,
        |             dollars
        |      FROM b0 WHERE event_id % 37 = 0)
        |SELECT a.user_id, a.dollars, a.event_id AS id_a, b.event_id AS id_b,
        |       b.ts_ms - a.ts_ms AS gap_ms
        |FROM e a JOIN e b
        |  ON a.user_id = b.user_id AND a.dollars = b.dollars
        | AND b.ts_ms - a.ts_ms BETWEEN 0 AND 1800000
        | AND (b.ts_ms > a.ts_ms OR a.event_id < b.event_id)
        |ORDER BY a.user_id, id_a, id_b""".stripMargin,

    // Decay replay: shift count from the broadcast "now", nonneg cents,
    // arithmetic >> on both engines over nonnegatives.
    "q_decay_score" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms,
        |             greatest(CAST(floor(value * 100) AS BIGINT), 0) AS cents
        |           FROM events),
        |n AS (SELECT max(ts_ms) AS now_ms FROM e)
        |SELECT user_id, count(*) AS n_events,
        |       CAST(sum(cents) AS BIGINT) AS raw_cents,
        |       CAST(sum(cents >> least(((now_ms - ts_ms) // 86400000) // 30,
        |                               62)) AS BIGINT) AS decayed_cents
        |FROM e CROSS JOIN n
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
        |         lag(epoch_ms(ts)) OVER (PARTITION BY user_id
        |                                 ORDER BY epoch_ms(ts), event_id) AS prev_ms
        |  FROM events),
        |s AS (
        |  SELECT *, CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > 1800000
        |                 THEN 1 ELSE 0 END AS new_sess FROM e),
        |t AS (
        |  SELECT user_id, ts_ms,
        |         -- CAST: DuckDB's windowed sum(INTEGER) is HUGEINT, which
        |         -- pandas fetches as float64 and breaks the exact hash vs
        |         -- Spark's BIGINT session_id
        |         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM s)
        |SELECT user_id, session_id, count(*) AS n_events,
        |       min(ts_ms) AS sess_start_ms, max(ts_ms) AS sess_end_ms
        |FROM t GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,
    "q_window_distribution" ->
      """SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
        |       ntile(4) OVER w AS quartile,
        |       round(percent_rank() OVER w, 4) AS pr,
        |       round(cume_dist() OVER w, 4) AS cd
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
        |ORDER BY user_id, ts_ms, event_id""".stripMargin,
    "q_filter_agg" ->
      """SELECT o_orderstatus, count(*) AS n,
        |       count(*) FILTER (WHERE o_totalprice > 300000) AS n_big,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |         FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT) AS urgent_cents
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_union_by_name" ->
      """SELECT * FROM (
        |  SELECT o_orderkey AS k, 'a' AS src FROM orders WHERE o_orderkey % 5 = 0
        |  UNION ALL BY NAME
        |  SELECT 'b' AS src, o_orderkey AS k FROM orders WHERE o_orderkey % 7 = 0) t
        |ORDER BY k, src""".stripMargin,
    "q_exists_subquery" ->
      """SELECT c_custkey, c_mktsegment
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 400000)
        |  AND NOT EXISTS (SELECT 1 FROM orders o2
        |                  WHERE o2.o_custkey = c.c_custkey
        |                    AND o2.o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,
    "q_datetime_funcs" ->
      """SELECT o_orderkey,
        |       CAST(year(o_orderdate) AS BIGINT) AS yr,
        |       CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
        |       CAST(weekofyear(o_orderdate) AS BIGINT) AS iso_week,
        |       CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow1,
        |       date_trunc('month', o_orderdate)::DATE AS month_start,
        |       last_day(o_orderdate::DATE) AS month_end,
        |       (o_orderdate + INTERVAL 3 MONTH)::DATE AS plus3m,
        |       CAST(datediff('day', DATE '1995-01-01', o_orderdate::DATE) AS BIGINT) AS days_since
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_lateral_topk" ->
      """SELECT c_custkey, o_orderkey, round(o_totalprice, 2) AS tp
        |FROM customer, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |ORDER BY c_custkey, o_orderkey""".stripMargin,
    "q_window_nav" ->
      """SELECT user_id, event_id,
        |       first_value(value) OVER w AS first_v,
        |       last_value(value) OVER (PARTITION BY user_id
        |         ORDER BY epoch_ms(ts), event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_v,
        |       nth_value(value, 2) OVER w AS second_v,
        |       lead(value, 1) OVER w AS next_v
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
        |ORDER BY user_id, event_id""".stripMargin,
    "q_grouping_id" ->
      """SELECT o_orderstatus, o_orderpriority,
        |       CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
        |       CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority,
        |       count(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |                        (o_orderstatus), ())
        |ORDER BY g_status, g_priority,
        |         o_orderstatus ASC NULLS LAST, o_orderpriority ASC NULLS LAST""".stripMargin,
    "q_string_agg" ->
      """SELECT o_custkey,
        |       string_agg(o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
        |       count(*) AS n
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "q_scalar_subquery" ->
      """SELECT c_custkey,
        |       round((SELECT max(o_totalprice) FROM orders
        |              WHERE o_custkey = c_custkey), 2) AS max_tp
        |FROM customer WHERE c_custkey <= 300
        |ORDER BY c_custkey""".stripMargin,
    // session_window merge rule: per-event windows [t, t+gap) merge while
    // they OVERLAP, so a new session starts when the gap to the previous
    // event is >= 30 min (strictly-less overlap test), and the reported
    // session end is last event + gap.
    "q_session_window" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
        |         lag(epoch_ms(ts)) OVER (PARTITION BY user_id
        |                                 ORDER BY epoch_ms(ts), event_id) AS prev_ms
        |  FROM events),
        |s AS (
        |  SELECT *, CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms >= 1800000
        |                 THEN 1 ELSE 0 END AS new_sess FROM e),
        |t AS (
        |  SELECT user_id, ts_ms,
        |         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |                             ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM s)
        |SELECT user_id, min(ts_ms) AS sess_start_ms,
        |       max(ts_ms) + 1800000 AS sess_end_ms, count(*) AS n_events
        |FROM t GROUP BY user_id, session_id ORDER BY user_id, sess_start_ms""".stripMargin,
    "q_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ts_ms FROM events),
        |t1 AS (SELECT user_id, min(ts_ms) AS t1 FROM e
        |       WHERE event_type = 'view' GROUP BY user_id),
        |t2 AS (SELECT e.user_id, min(ts_ms) AS t2 FROM e JOIN t1 USING (user_id)
        |       WHERE event_type = 'click' AND ts_ms > t1 GROUP BY e.user_id),
        |t3 AS (SELECT e.user_id, min(ts_ms) AS t3 FROM e JOIN t2 USING (user_id)
        |       WHERE event_type = 'purchase' AND ts_ms > t2 GROUP BY e.user_id)
        |SELECT '1_view' AS step, count(*) AS users FROM t1
        |UNION ALL SELECT '2_click', count(*) FROM t2
        |UNION ALL SELECT '3_purchase', count(*) FROM t3
        |ORDER BY step""".stripMargin,
    // Brute-force triangle enumeration (x<y<z with all three edges) — the
    // oracle is intentionally the naive formulation; Spark runs the
    // degree-oriented plan and must agree on the count.
    "q_triangles" ->
      """WITH li AS (SELECT l_orderkey, l_suppkey FROM lineitem
        |            WHERE l_suppkey <= 300),
        |e AS (SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
        |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |                         AND a.l_suppkey < b.l_suppkey),
        |verts AS (SELECT count(DISTINCT x) AS vertices FROM
        |          (SELECT u AS x FROM e UNION ALL SELECT v FROM e)),
        |tri AS (SELECT count(*) AS triangles
        |        FROM e e1 JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
        |                  JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v)
        |SELECT (SELECT vertices FROM verts) AS vertices,
        |       (SELECT count(*) FROM e) AS edges,
        |       (SELECT triangles FROM tri) AS triangles""".stripMargin,
    "q_sweep_concurrency" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
        |         lag(epoch_ms(ts)) OVER (PARTITION BY user_id
        |                                 ORDER BY epoch_ms(ts), event_id) AS prev_ms
        |  FROM events),
        |s AS (
        |  SELECT *, CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > 1800000
        |                 THEN 1 ELSE 0 END AS new_sess FROM e),
        |t AS (
        |  SELECT user_id, ts_ms,
        |         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM s),
        |sess AS (SELECT user_id, session_id,
        |                min(ts_ms) AS sess_start_ms, max(ts_ms) AS sess_end_ms
        |         FROM t GROUP BY user_id, session_id),
        |d AS (SELECT user_id, session_id, sess_start_ms, sess_end_ms,
        |             sess_start_ms AS tt, 1 AS delta FROM sess
        |      UNION ALL
        |      SELECT user_id, session_id, sess_start_ms, sess_end_ms,
        |             sess_end_ms AS tt, -1 AS delta FROM sess),
        |r AS (SELECT *, CAST(sum(delta) OVER (
        |        ORDER BY tt, delta DESC, user_id, session_id, sess_start_ms
        |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS concurrent FROM d)
        |SELECT user_id, session_id, sess_start_ms, sess_end_ms, concurrent
        |FROM r WHERE delta = 1 ORDER BY user_id, session_id""".stripMargin,
    "q_attribution" ->
      """WITH c0 AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id,
        |              CAST(json_extract_string(props, '$.k') AS BIGINT) AS k0
        |            FROM events WHERE event_type = 'click'),
        |c AS (SELECT user_id, ts_ms, max_by(k0, event_id) AS campaign
        |      FROM c0 GROUP BY user_id, ts_ms),
        |p AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
        |             CAST(round(value * 100) AS BIGINT) AS cents
        |      FROM events WHERE event_type = 'purchase'),
        |a AS (SELECT p.cents, c.campaign
        |      FROM p ASOF LEFT JOIN c
        |        ON p.user_id = c.user_id AND p.ts_ms >= c.ts_ms)
        |SELECT campaign, count(*) AS n_purchases,
        |       CAST(sum(cents) AS BIGINT) AS revenue_cents
        |FROM a GROUP BY campaign ORDER BY campaign NULLS FIRST""".stripMargin,
    "data_kfold" ->
      """SELECT ('0x' || substr(md5(source), 1, 8))::BIGINT % 5 AS fold,
        |       count(*) AS n_docs,
        |       count(DISTINCT source) AS n_sources,
        |       min(doc_id) AS min_doc
        |FROM documents GROUP BY fold ORDER BY fold""".stripMargin,
    "q_cohort_retention" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms FROM events),
        |f AS (SELECT user_id, min(ts_ms) // 604800000 AS cohort_week
        |      FROM e GROUP BY user_id)
        |SELECT cohort_week, (ts_ms // 604800000) - cohort_week AS week_offset,
        |       count(DISTINCT e.user_id) AS active_users
        |FROM e JOIN f USING (user_id)
        |GROUP BY cohort_week, week_offset
        |ORDER BY cohort_week, week_offset""".stripMargin,
    "q_transition_matrix" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, event_type,
        |         lag(epoch_ms(ts)) OVER (PARTITION BY user_id
        |                                 ORDER BY epoch_ms(ts), event_id) AS prev_ms
        |  FROM events),
        |s AS (
        |  SELECT *, CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > 1800000
        |                 THEN 1 ELSE 0 END AS new_sess FROM e),
        |t AS (
        |  SELECT user_id, event_id, ts_ms, event_type,
        |         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM s),
        |pairs AS (
        |  SELECT event_type AS from_type,
        |         lead(event_type) OVER (PARTITION BY user_id, session_id
        |                                ORDER BY ts_ms, event_id) AS to_type
        |  FROM t),
        |cnt AS (SELECT from_type, to_type, count(*) AS n FROM pairs
        |        WHERE to_type IS NOT NULL GROUP BY from_type, to_type)
        |SELECT from_type, to_type, n,
        |       round(n / sum(n) OVER (PARTITION BY from_type), 6) AS p
        |FROM cnt ORDER BY from_type, to_type""".stripMargin,
    "q_null_semantics" ->
      """WITH b0 AS (SELECT event_id, user_id,
        |         nullif(CAST(json_extract_string(props, '$.k') AS BIGINT) % 10, 0) AS b
        |       FROM events),
        |probe AS (SELECT DISTINCT nullif(user_id % 10, 3) AS p FROM b0)
        |SELECT r.n_rows, r.n_b_notnull, ni.n_not_in, ne.n_not_exists, nsf.n_nullsafe
        |FROM (SELECT count(*) AS n_rows, count(b) AS n_b_notnull FROM b0) r,
        |     (SELECT count(*) AS n_not_in FROM b0
        |      WHERE b NOT IN (SELECT p FROM probe)) ni,
        |     (SELECT count(*) AS n_not_exists FROM b0 t
        |      WHERE NOT EXISTS (SELECT 1 FROM probe WHERE p = t.b)) ne,
        |     (SELECT count(*) AS n_nullsafe FROM b0 t
        |      WHERE EXISTS (SELECT 1 FROM probe
        |                    WHERE p IS NOT DISTINCT FROM t.b)) nsf""".stripMargin,
    "q_running_total" ->
      """WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |                  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS day_cents
        |           FROM orders GROUP BY 1)
        |SELECT day, day_cents,
        |       CAST(sum(day_cents) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
        |         AS BIGINT) AS cum_cents
        |FROM d ORDER BY day""".stripMargin,
    "q_event_pattern" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, event_type,
        |         lag(epoch_ms(ts)) OVER (PARTITION BY user_id
        |                                 ORDER BY epoch_ms(ts), event_id) AS prev_ms
        |  FROM events),
        |s AS (
        |  SELECT *, CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > 1800000
        |                 THEN 1 ELSE 0 END AS new_sess FROM e),
        |t AS (
        |  SELECT user_id, event_id, ts_ms, event_type,
        |         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM s)
        |SELECT user_id, session_id,
        |       string_agg(substr(event_type, 1, 1), '' ORDER BY ts_ms, event_id) AS seq,
        |       regexp_matches(string_agg(substr(event_type, 1, 1), ''
        |                        ORDER BY ts_ms, event_id), 'v.*c.*p') AS converted
        |FROM t GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,

    // Same exact power sums (HUGEINT stands in for decimal(38,0)) and the
    // same left-associated double algebra; m2·sqrt(m2) instead of
    // pow(m2, 1.5) keeps both engines on correctly-rounded IEEE ops.
    "q_moments" ->
      """WITH x AS (SELECT event_type,
        |             CAST(floor(value * 1000) AS HUGEINT) AS x
        |           FROM events),
        |m AS (SELECT event_type, count(*) AS n,
        |        sum(x) AS s1, sum(x * x) AS s2,
        |        sum(x * x * x) AS s3, sum(x * x * x * x) AS s4
        |      FROM x GROUP BY 1),
        |d AS (SELECT event_type, n,
        |        CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS a1,
        |        CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS a2,
        |        CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS a3,
        |        CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS a4
        |      FROM m),
        |c AS (SELECT event_type, n, a1,
        |        a2 - a1 * a1 AS m2,
        |        a3 - 3.0 * a1 * a2 + 2.0 * a1 * a1 * a1 AS m3,
        |        a4 - 4.0 * a1 * a3 + 6.0 * a1 * a1 * a2
        |           - 3.0 * a1 * a1 * a1 * a1 AS m4
        |      FROM d)
        |SELECT c.event_type, c.n,
        |       CAST((CAST(m.s1 AS BIGINT) * 10) // m.n AS BIGINT) / 10000.0 AS mean,
        |       round(m3 / (m2 * sqrt(m2)), 6) AS skewness,
        |       round(m4 / (m2 * m2) - 3.0, 6) AS excess_kurtosis
        |FROM c JOIN m ON m.event_type = c.event_type
        |ORDER BY c.event_type""".stripMargin,

    // Digit from the string rendering on both sides — no log10 edge.
    "q_benford" ->
      """WITH d AS (SELECT CAST(substr(CAST(o_totalprice AS VARCHAR), 1, 1) AS INTEGER) AS digit,
        |             count(*) AS n
        |           FROM orders GROUP BY 1),
        |t AS (SELECT sum(n) AS total FROM d),
        |s AS (SELECT digit, n,
        |        CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS obs_share,
        |        log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) AS exp_share,
        |        CAST(total AS DOUBLE) AS totd
        |      FROM d CROSS JOIN t)
        |SELECT digit, n, round(obs_share, 6) AS obs_share,
        |       round(exp_share, 6) AS exp_share,
        |       round(totd * (obs_share - exp_share) * (obs_share - exp_share)
        |             / exp_share, 6) AS chi2_contrib
        |FROM s ORDER BY digit""".stripMargin,

    // Identical conditional-aggregation pass and Welch algebra.
    "q_ttest_welch" ->
      """WITH e AS (SELECT event_type,
        |             CAST(floor(value * 100) AS BIGINT) AS c
        |           FROM events WHERE event_type IN ('click', 'view')),
        |m AS (SELECT
        |        CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |        CAST(sum(CASE WHEN event_type = 'click' THEN c ELSE 0 END) AS BIGINT) AS s1,
        |        CAST(sum(CASE WHEN event_type = 'click' THEN c * c ELSE 0 END) AS BIGINT) AS q1,
        |        CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |        CAST(sum(CASE WHEN event_type = 'view' THEN c ELSE 0 END) AS BIGINT) AS s2,
        |        CAST(sum(CASE WHEN event_type = 'view' THEN c * c ELSE 0 END) AS BIGINT) AS q2
        |      FROM e),
        |d AS (SELECT n1, n2, s1, s2,
        |        CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
        |        CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
        |        (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
        |          / (CAST(n1 AS DOUBLE) - 1.0) AS v1,
        |        (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
        |          / (CAST(n2 AS DOUBLE) - 1.0) AS v2,
        |        CAST(n1 AS DOUBLE) AS n1d, CAST(n2 AS DOUBLE) AS n2d
        |      FROM m),
        |f AS (SELECT n1, n2, s1, s2, m1, m2, n1d, n2d,
        |        v1 / n1d AS se1, v2 / n2d AS se2
        |      FROM d)
        |SELECT n1, n2,
        |       CAST((s1 * 100) // n1 AS BIGINT) / 10000.0 AS mean_click,
        |       CAST((s2 * 100) // n2 AS BIGINT) / 10000.0 AS mean_view,
        |       round((m1 - m2) / sqrt(se1 + se2), 6) AS t_stat,
        |       round((se1 + se2) * (se1 + se2)
        |             / (se1 * se1 / (n1d - 1.0) + se2 * se2 / (n2d - 1.0)), 4) AS welch_df
        |FROM f""".stripMargin,

    // Four conditional cells in one pass; every displayed value derives
    // from the quantized integer means, so no round() exists to flip.
    "q_diff_in_diff" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) // 86400000 AS day,
        |             CAST(floor(value * 100) AS BIGINT) AS cents
        |           FROM events),
        |sp AS (SELECT (min(day) + max(day) + 1) // 2 AS sd FROM e),
        |cells AS (SELECT user_id % 2 AS arm,
        |            CASE WHEN day >= sd THEN 1 ELSE 0 END AS post,
        |            count(*) AS n, CAST(sum(cents) AS BIGINT) AS s
        |          FROM e CROSS JOIN sp GROUP BY 1, 2),
        |m AS (SELECT arm, post,
        |        (s * 100 - ((s * 100 % n + n) % n)) // n AS mean_e4
        |      FROM cells),
        |w AS (SELECT
        |        max(CASE WHEN arm = 0 AND post = 0 THEN mean_e4 END) AS c00,
        |        max(CASE WHEN arm = 0 AND post = 1 THEN mean_e4 END) AS c01,
        |        max(CASE WHEN arm = 1 AND post = 0 THEN mean_e4 END) AS c10,
        |        max(CASE WHEN arm = 1 AND post = 1 THEN mean_e4 END) AS c11
        |      FROM m)
        |SELECT c00 / 1e4 AS ctrl_pre, c01 / 1e4 AS ctrl_post,
        |       c10 / 1e4 AS treat_pre, c11 / 1e4 AS treat_post,
        |       (c11 - c10 - (c01 - c00)) / 1e4 AS did
        |FROM w""".stripMargin,

    // Same md5-seeded Poisson draws (shared CDF literals, one digest
    // carved into four 24-bit uniforms), same exact replicate sums;
    // quantile_cont ≡ Spark percentile interpolation.
    "q_bootstrap_ci" ->
      """WITH e AS (SELECT event_id,
        |             CAST(floor(value * 100) AS BIGINT) AS cents
        |           FROM events),
        |r AS (SELECT cents, g * 4 + j AS b,
        |        CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || '|' ||
        |                                 CAST(g AS VARCHAR)), 1 + 6 * j, 6))::BIGINT
        |             AS DOUBLE) / 16777216.0 AS u
        |      FROM e CROSS JOIN
        |        (SELECT unnest(generate_series(0, 11)) AS g) gs CROSS JOIN
        |        (SELECT unnest(generate_series(0, 3)) AS j) js),
        |w AS (SELECT b, cents,
        |        CASE WHEN u < 0.36787944117144233 THEN 0
        |             WHEN u < 0.7357588823428847 THEN 1
        |             WHEN u < 0.9196986029286058 THEN 2
        |             WHEN u < 0.9810118431238462 THEN 3
        |             WHEN u < 0.9963401531726563 THEN 4
        |             WHEN u < 0.9994058151824183 THEN 5
        |             WHEN u < 0.9999167588507119 THEN 6
        |             WHEN u < 0.9999897508033253 THEN 7
        |             ELSE 8 END AS w
        |      FROM r),
        |rm AS (SELECT b, CAST(sum(w * cents) AS DOUBLE)
        |                 / CAST(sum(w) AS DOUBLE) AS m
        |       FROM w GROUP BY b),
        |ci AS (SELECT quantile_cont(m, [0.025, 0.975]) AS ci,
        |         count(*) AS n_replicates FROM rm),
        |base AS (SELECT count(*) AS n, CAST(sum(cents) AS BIGINT) AS sc FROM e)
        |SELECT n,
        |       ((sc * 10000 - ((sc * 10000 % n + n) % n)) // n) / 1e4
        |         AS point_mean_cents,
        |       round(ci[1], 4) AS ci_lo_cents,
        |       round(ci[2], 4) AS ci_hi_cents,
        |       n_replicates
        |FROM base CROSS JOIN ci""".stripMargin,

    // Same closed form; exact integers until the one division.
    "q_ab_srm" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |a AS (SELECT
        |        CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_a,
        |        CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_b
        |      FROM u)
        |SELECT n_a, n_b,
        |       round(CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE)
        |             / CAST(n_a + n_b AS DOUBLE), 6) AS chi2,
        |       CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE)
        |         / CAST(n_a + n_b AS DOUBLE) > 3.841 AS srm_flag
        |FROM a""".stripMargin,

    // Same decile cuts (quantile_cont ≡ Spark percentile), same
    // pico-unit quantization before the associative sum.
    "q_psi" ->
      """WITH e AS (SELECT epoch_ms(ts) // 86400000 AS day,
        |             CAST(floor(value * 100) AS BIGINT) AS cents
        |           FROM events),
        |sp AS (SELECT (min(day) + max(day) + 1) // 2 AS sd FROM e),
        |cu AS (SELECT quantile_cont(cents,
        |                [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cs
        |       FROM e),
        |b AS (SELECT CASE WHEN day < sd THEN 0 ELSE 1 END AS half,
        |        length(list_filter(cs, c -> c < cents)) AS bin
        |      FROM e CROSS JOIN sp CROSS JOIN cu),
        |binned AS (SELECT bin,
        |             CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |             CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
        |           FROM b GROUP BY 1),
        |tt AS (SELECT CAST(sum(na) AS BIGINT) AS ta, CAST(sum(nb) AS BIGINT) AS tb
        |       FROM binned),
        |sc AS (SELECT bin, na, nb, na = 0 OR nb = 0 AS empty_bin,
        |         CASE WHEN na = 0 OR nb = 0 THEN 0
        |              ELSE CAST(round((CAST(na AS DOUBLE) / CAST(ta AS DOUBLE)
        |                     - CAST(nb AS DOUBLE) / CAST(tb AS DOUBLE))
        |                    * ln((CAST(na AS DOUBLE) / CAST(ta AS DOUBLE))
        |                         / (CAST(nb AS DOUBLE) / CAST(tb AS DOUBLE)))
        |                    * 1e12) AS BIGINT) END AS pico
        |       FROM binned CROSS JOIN tt),
        |t AS (SELECT CAST(sum(pico) AS BIGINT) AS psi_pico,
        |        bool_or(empty_bin) AS psi_truncated FROM sc)
        |SELECT bin, na, nb, empty_bin, pico / 1e12 AS term,
        |       ((psi_pico + 500000) // 1000000) / 1e6 AS psi, psi_truncated
        |FROM sc CROSS JOIN t ORDER BY bin""".stripMargin,

    // With every lifetime observed, KM's product limit telescopes to
    // the exact empirical ratio (N − cum_d)/N — integer counting plus
    // one division per step.
    "q_survival_km" ->
      """WITH life AS (SELECT user_id,
        |                max(epoch_ms(ts) // 86400000)
        |                  - min(epoch_ms(ts) // 86400000) AS lifetime
        |              FROM events GROUP BY user_id),
        |bt AS (SELECT lifetime AS t, count(*) AS d FROM life GROUP BY 1),
        |tot AS (SELECT CAST(sum(d) AS BIGINT) AS n_users FROM bt),
        |c AS (SELECT t, d, n_users,
        |        CAST(sum(d) OVER (ORDER BY t) AS BIGINT) AS cum_d
        |      FROM bt CROSS JOIN tot)
        |SELECT t, d, n_users - cum_d + d AS n_at_risk,
        |       round(CAST(d AS DOUBLE) / CAST(n_users - cum_d + d AS DOUBLE), 6)
        |         AS hazard,
        |       round(CAST(n_users - cum_d AS DOUBLE) / CAST(n_users AS DOUBLE), 6)
        |         AS survival
        |FROM c ORDER BY t""".stripMargin,

    // The identical integer recurrence as a recursive CTE; the pmod
    // trick makes // and div agree (operands forced even).
    "q_holt" ->
      """WITH RECURSIVE
        |daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |            CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |              AS cents
        |          FROM orders GROUP BY 1),
        |ix AS (SELECT day, cents, row_number() OVER (ORDER BY day) AS rn
        |       FROM daily),
        |rec(rn, day, cents, level, trend) AS (
        |  SELECT rn, day, cents, cents, CAST(0 AS BIGINT)
        |  FROM ix WHERE rn = 1
        |  UNION ALL
        |  SELECT t.rn, t.day, t.cents, t.newl,
        |         (t.newl - t.pl + t.pb
        |          - ((((t.newl - t.pl + t.pb) % 2) + 2) % 2)) // 2
        |  FROM (SELECT ix.rn, ix.day, ix.cents,
        |          (ix.cents + rec.level + rec.trend
        |           - ((((ix.cents + rec.level + rec.trend) % 2) + 2) % 2)) // 2
        |            AS newl,
        |          rec.level AS pl, rec.trend AS pb
        |        FROM rec JOIN ix ON ix.rn = rec.rn + 1) t)
        |SELECT day, cents, level AS level_cents, trend AS trend_cents
        |FROM rec ORDER BY day""".stripMargin,

    // Sequential tie-corrected ranks replay the doubled-rank-unit U
    // statistic exactly; one final double division.
    "q_auc" ->
      """WITH e AS (SELECT CAST(floor(value * 100) AS BIGINT) AS cents,
        |             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        |           FROM events),
        |v AS (SELECT cents, count(*) AS cnt, CAST(sum(pos) AS BIGINT) AS npos
        |      FROM e GROUP BY 1),
        |r AS (SELECT *, sum(cnt) OVER (ORDER BY cents) AS cum FROM v),
        |u AS (SELECT CAST(sum(npos * (2 * (cum - cnt) + cnt + 1)) AS BIGINT) AS u2,
        |        CAST(sum(npos) AS BIGINT) AS n_pos, CAST(sum(cnt) AS BIGINT) AS n
        |      FROM r)
        |SELECT n_pos, n - n_pos AS n_neg,
        |       round(CAST(u2 - n_pos * (n_pos + 1) AS DOUBLE)
        |             / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n - n_pos AS DOUBLE)),
        |             6) AS auc
        |FROM u""".stripMargin,

    // Same integer KS numerator: sequential window cumsum of the
    // per-value delta ca·n_b − cb·n_a equals the runningSum exactly;
    // one division for D, min-value tie-break for the location.
    "q_ks_test" ->
      """WITH e AS (SELECT CAST(floor(value * 100) AS BIGINT) AS cents,
        |             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS isa
        |           FROM events),
        |v AS (SELECT cents, CAST(sum(isa) AS BIGINT) AS ca,
        |        CAST(count(*) - sum(isa) AS BIGINT) AS cb
        |      FROM e GROUP BY 1),
        |t AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
        |        CAST(sum(cb) AS BIGINT) AS nb FROM v),
        |r AS (SELECT cents,
        |        CAST(sum(ca * (SELECT nb FROM t) - cb * (SELECT na FROM t))
        |               OVER (ORDER BY cents) AS BIGINT) AS g
        |      FROM v),
        |m AS (SELECT max(abs(g)) AS dnum FROM r),
        |loc AS (SELECT min(cents) AS at_cents FROM r, m WHERE abs(r.g) = m.dnum)
        |SELECT t.na AS n_a, t.nb AS n_b,
        |       round(CAST(m.dnum AS DOUBLE) / CAST(t.na * t.nb AS DOUBLE), 6)
        |         AS ks_d,
        |       at_cents / 100.0 AS ks_at
        |FROM t, m, loc""".stripMargin,

    // quantile_cont shares Spark percentile's (n-1)·q interpolation.
    "q_mad_outliers" ->
      """WITH e AS (SELECT event_type,
        |             CAST(floor(value * 100) AS BIGINT) AS cents
        |           FROM events),
        |med AS (SELECT event_type, quantile_cont(cents, 0.5) AS med,
        |          count(*) AS n
        |        FROM e GROUP BY 1),
        |dev AS (SELECT e.event_type, abs(e.cents - med.med) AS adev, med.med, med.n
        |        FROM e JOIN med USING (event_type)),
        |mad AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad
        |        FROM dev GROUP BY 1)
        |SELECT d.event_type, max(d.n) AS n,
        |       round(max(d.med) / 100.0, 4) AS median,
        |       round(max(mad.mad) / 100.0, 4) AS mad,
        |       CAST(sum(CASE WHEN d.adev > 4.4478 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |       round(CAST(sum(CASE WHEN d.adev > 4.4478 * mad.mad THEN 1 ELSE 0 END) AS DOUBLE)
        |             / CAST(max(d.n) AS DOUBLE), 6) AS outlier_pct
        |FROM dev d JOIN mad USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin,

    "q_k_anonymity" ->
      """WITH g AS (SELECT c_nationkey, c_mktsegment, count(*) AS k
        |           FROM customer GROUP BY 1, 2),
        |t AS (SELECT min(k) AS k_anonymity,
        |        CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT) AS at_risk_rows,
        |        sum(k) AS n_rows
        |      FROM g)
        |SELECT c_nationkey, c_mktsegment, k, k < 5 AS at_risk,
        |       k_anonymity, at_risk_rows,
        |       round(CAST(at_risk_rows AS DOUBLE) / CAST(n_rows AS DOUBLE), 6) AS at_risk_pct
        |FROM g CROSS JOIN t
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,

    // Same row-hash sum (HUGEINT accumulator), same modulus fold.
    "q_table_fingerprint" ->
      """WITH h AS (SELECT ('0x' || substr(md5(concat_ws('|',
        |             CAST(c_custkey AS VARCHAR), c_name,
        |             CAST(c_nationkey AS VARCHAR), c_mktsegment)), 1, 12))::BIGINT
        |             AS h
        |           FROM customer)
        |SELECT count(*) AS n_rows,
        |       CAST(CAST(sum(h) AS HUGEINT) % 9223372036854775807 AS BIGINT)
        |         AS fingerprint
        |FROM h""".stripMargin,

    // Same exact BIGINT moment sums over the symmetrized edge list.
    "graph_assortativity" ->
      s"""WITH d AS (${TrainingDataQueries.linkGraphSql}),
        |e AS (SELECT src, dst FROM
        |        (SELECT src, dst FROM d UNION SELECT dst, src FROM d)
        |      WHERE src <> dst),
        |deg AS (SELECT src AS id, count(*) AS deg FROM e GROUP BY 1),
        |p AS (SELECT dx.deg AS x, dy.deg AS y
        |      FROM e JOIN deg dx ON e.src = dx.id JOIN deg dy ON e.dst = dy.id),
        |m AS (SELECT count(*) AS ne,
        |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |        CAST(sum(x * y) AS BIGINT) AS sxy,
        |        CAST(sum(x * x) AS BIGINT) AS sxx,
        |        CAST(sum(y * y) AS BIGINT) AS syy
        |      FROM p)
        |SELECT ne AS n_edges,
        |       round((CAST(ne AS DOUBLE) * CAST(sxy AS DOUBLE)
        |              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |             / sqrt((CAST(ne AS DOUBLE) * CAST(sxx AS DOUBLE)
        |                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |                    * (CAST(ne AS DOUBLE) * CAST(syy AS DOUBLE)
        |                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
        |             6) AS assortativity
        |FROM m""".stripMargin,

    // Same packed-BIGINT modal argmax (count·2^31 + (2^31−1−priority)).
    "q_l_diversity" ->
      """WITH j AS (SELECT c_nationkey, c_mktsegment, o_orderpriority
        |           FROM customer JOIN orders ON c_custkey = o_custkey),
        |bv AS (SELECT c_nationkey, c_mktsegment, o_orderpriority,
        |         count(*) AS cnt,
        |         CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS pv
        |       FROM j GROUP BY 1, 2, 3),
        |g AS (SELECT c_nationkey, c_mktsegment,
        |        count(*) AS l_distinct, CAST(sum(cnt) AS BIGINT) AS n_rows,
        |        max(cnt * 2147483648 + (2147483647 - pv)) AS packed
        |      FROM bv GROUP BY 1, 2)
        |SELECT c_nationkey, c_mktsegment, l_distinct, n_rows,
        |       CAST(packed // 2147483648 AS BIGINT) AS modal_cnt,
        |       CAST(2147483647 - packed % 2147483648 AS BIGINT) AS modal_priority,
        |       (packed // 2147483648) * 5 > n_rows * 4 AS dominance_flag
        |FROM g ORDER BY c_nationkey, c_mktsegment""".stripMargin,

    "q_drawdown" ->
      """WITH daily AS (SELECT epoch_ms(ts) // 86400000 AS day,
        |                 CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
        |                   AS rev
        |               FROM events GROUP BY 1),
        |c AS (SELECT day,
        |        CAST(sum(rev) OVER (ORDER BY day
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |      FROM daily),
        |r AS (SELECT day, cum,
        |        CAST(max(cum) OVER (ORDER BY day
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |          AS runmax
        |      FROM c)
        |SELECT day AS trough_day, cum, runmax, runmax - cum AS drawdown
        |FROM r ORDER BY drawdown DESC, trough_day LIMIT 1""".stripMargin,

    "q_key_skew_audit" ->
      """WITH f AS (SELECT l_orderkey, count(*) AS fanout
        |           FROM lineitem GROUP BY 1),
        |t AS (SELECT count(*) AS n_keys, CAST(sum(fanout) AS BIGINT) AS n_rows
        |      FROM f)
        |SELECT fanout, count(*) AS n_keys_at,
        |       fanout * count(*) AS rows_at,
        |       round(CAST(fanout * count(*) AS DOUBLE) / CAST(max(n_rows) AS DOUBLE), 6)
        |         AS row_share,
        |       round(CAST(count(*) AS DOUBLE) / CAST(max(n_keys) AS DOUBLE), 6)
        |         AS key_share
        |FROM f CROSS JOIN t
        |GROUP BY fanout ORDER BY fanout""".stripMargin,

    "data_split_audit" ->
      """WITH b AS (SELECT doc_id,
        |             ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 1000 AS bk
        |           FROM documents),
        |sp AS (SELECT CASE WHEN bk < 800 THEN 'train'
        |              WHEN bk < 900 THEN 'val' ELSE 'test' END AS split,
        |         count(*) AS n_docs
        |       FROM b GROUP BY 1),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS corpus FROM sp)
        |SELECT split, n_docs, corpus,
        |       (n_docs * 1000) // corpus AS permille,
        |       abs((n_docs * 1000) // corpus
        |           - (CASE WHEN split = 'train' THEN 800
        |              WHEN split = 'val' THEN 100 ELSE 100 END)) <= 30
        |         AS within_3pct
        |FROM sp CROSS JOIN t ORDER BY split""".stripMargin,

    "q_new_vs_returning" ->
      """WITH e AS (SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day
        |           FROM events),
        |f AS (SELECT user_id, min(day) AS first_day FROM e GROUP BY 1)
        |SELECT day, count(*) AS n_active,
        |       CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_new,
        |       count(*) - CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_returning,
        |       round(CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS DOUBLE)
        |             / CAST(count(*) AS DOUBLE), 6) AS new_share
        |FROM e JOIN f USING (user_id)
        |GROUP BY day ORDER BY day""".stripMargin,

    "q_rfm" ->
      """WITH p AS (SELECT user_id, epoch_ms(ts) // 86400000 AS day,
        |             CAST(floor(value * 100) AS BIGINT) AS cents
        |           FROM events WHERE event_type = 'purchase'),
        |h AS (SELECT max(day) AS maxday FROM p),
        |rfm AS (SELECT user_id, CAST(min(maxday - day) AS BIGINT) AS r_days,
        |          count(*) AS freq, CAST(sum(cents) AS BIGINT) AS monetary
        |        FROM p CROSS JOIN h GROUP BY 1),
        |c AS (SELECT
        |        quantile_cont(r_days, 0.2) AS rc1, quantile_cont(r_days, 0.4) AS rc2,
        |        quantile_cont(r_days, 0.6) AS rc3, quantile_cont(r_days, 0.8) AS rc4,
        |        quantile_cont(freq, 0.2) AS fc1, quantile_cont(freq, 0.4) AS fc2,
        |        quantile_cont(freq, 0.6) AS fc3, quantile_cont(freq, 0.8) AS fc4,
        |        quantile_cont(monetary, 0.2) AS mc1, quantile_cont(monetary, 0.4) AS mc2,
        |        quantile_cont(monetary, 0.6) AS mc3, quantile_cont(monetary, 0.8) AS mc4
        |      FROM rfm)
        |SELECT user_id, r_days, freq, monetary,
        |  1 + (CASE WHEN r_days > rc1 THEN 1 ELSE 0 END)
        |    + (CASE WHEN r_days > rc2 THEN 1 ELSE 0 END)
        |    + (CASE WHEN r_days > rc3 THEN 1 ELSE 0 END)
        |    + (CASE WHEN r_days > rc4 THEN 1 ELSE 0 END) AS r_score,
        |  1 + (CASE WHEN freq > fc1 THEN 1 ELSE 0 END)
        |    + (CASE WHEN freq > fc2 THEN 1 ELSE 0 END)
        |    + (CASE WHEN freq > fc3 THEN 1 ELSE 0 END)
        |    + (CASE WHEN freq > fc4 THEN 1 ELSE 0 END) AS f_score,
        |  1 + (CASE WHEN monetary > mc1 THEN 1 ELSE 0 END)
        |    + (CASE WHEN monetary > mc2 THEN 1 ELSE 0 END)
        |    + (CASE WHEN monetary > mc3 THEN 1 ELSE 0 END)
        |    + (CASE WHEN monetary > mc4 THEN 1 ELSE 0 END) AS m_score
        |FROM rfm CROSS JOIN c ORDER BY user_id""".stripMargin,

    // Sequential window cumulative stands in for the distributed sweep.
    "q_abc_analysis" ->
      """WITH parts AS (SELECT l_partkey,
        |                 CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
        |                   * 100) AS BIGINT)) AS BIGINT) AS rev
        |               FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(sum(rev) AS BIGINT) AS total FROM parts),
        |r AS (SELECT rev,
        |        CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |      FROM parts),
        |cl AS (SELECT rev, total,
        |         CASE WHEN cum * 100 <= total * 80 THEN 'A'
        |              WHEN cum * 100 <= total * 95 THEN 'B'
        |              ELSE 'C' END AS cls
        |       FROM r CROSS JOIN t)
        |SELECT cls, count(*) AS n_parts, CAST(sum(rev) AS BIGINT) AS rev_cents,
        |       round(CAST(sum(rev) AS DOUBLE) / CAST(max(total) AS DOUBLE), 6)
        |         AS rev_share
        |FROM cl GROUP BY cls ORDER BY cls""".stripMargin,

    "q_yoy_growth" ->
      """WITH mth AS (SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate)
        |               AS BIGINT) AS ym,
        |               count(*) AS n_orders,
        |               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
        |                 AS BIGINT) AS rev_cents
        |             FROM orders GROUP BY 1)
        |SELECT m.ym, m.n_orders, m.rev_cents, p.rev_cents AS prev_cents,
        |       round(CAST(m.rev_cents - p.rev_cents AS DOUBLE)
        |             / CAST(p.rev_cents AS DOUBLE), 6) AS yoy_growth
        |FROM mth m LEFT JOIN mth p ON p.ym = m.ym - 100
        |ORDER BY m.ym""".stripMargin,

    // Same exact-cents volume units (cents · discount-e4 = 1e-6
    // dollars), HUGEINT sum, one division.
    "q7_volume_shipping" ->
      """WITH li AS (SELECT l_orderkey, l_suppkey,
        |              CAST(year(l_shipdate) AS INT) AS l_year,
        |              CAST(floor(l_extendedprice * 100) AS BIGINT)
        |                * (10000 - CAST(floor(l_discount * 10000) AS BIGINT))
        |                AS vol_e6
        |            FROM lineitem
        |            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |              AND l_shipdate < TIMESTAMP '1998-01-01')
        |SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, l_year,
        |       CAST(sum(vol_e6) AS DOUBLE) / 1e6 AS revenue
        |FROM li
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE n1.n_name IN ('NATION_1', 'NATION_2')
        |  AND n2.n_name IN ('NATION_1', 'NATION_2')
        |  AND n1.n_name <> n2.n_name
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q10_returned_items" ->
      """WITH li AS (SELECT l_orderkey,
        |              CAST(floor(l_extendedprice * 100) AS BIGINT)
        |                * (10000 - CAST(floor(l_discount * 10000) AS BIGINT))
        |                AS vol_e6
        |            FROM lineitem WHERE l_returnflag = 'R'),
        |o AS (SELECT o_orderkey, o_custkey FROM orders
        |      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |        AND o_orderdate < TIMESTAMP '1996-04-01'),
        |g AS (SELECT c_custkey, c_name,
        |        CAST(floor(c_acctbal * 100) AS BIGINT) AS acctbal_cents,
        |        n_name, CAST(sum(vol_e6) AS HUGEINT) AS rev_e6
        |      FROM li JOIN o ON l_orderkey = o_orderkey
        |      JOIN customer ON o_custkey = c_custkey
        |      JOIN nation ON c_nationkey = n_nationkey
        |      GROUP BY 1, 2, 3, 4)
        |SELECT c_custkey, c_name, CAST(rev_e6 AS DOUBLE) / 1e6 AS revenue,
        |       acctbal_cents / 100.0 AS c_acctbal, n_name
        |FROM g ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q5_local_supplier" ->
      """SELECT n_name,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,

    "q18_large_orders" ->
      """WITH big AS (SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
        |             FROM lineitem GROUP BY 1
        |             HAVING round(sum(l_quantity), 2) > 250.0)
        |SELECT c_custkey, c_name, o_orderkey,
        |       CAST(o_orderdate AS DATE) AS o_orderdate,
        |       round(o_totalprice, 2) AS o_totalprice, sum_qty
        |FROM orders JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    "q4_priority_check" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
        |  AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate >= o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q6_revenue_change" ->
      """SELECT CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)
        |           * CAST(floor(l_discount * 10000) AS BIGINT)) AS DOUBLE)
        |         / 1e6 AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin,

    "q13_order_distribution" ->
      """SELECT c_count, count(*) AS custdist
        |FROM (SELECT c_custkey, count(o_custkey) AS c_count
        |      FROM customer LEFT JOIN orders
        |        ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        |      GROUP BY 1)
        |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q14_promo_share" ->
      """WITH li AS (SELECT l_partkey,
        |              CAST(floor(l_extendedprice * 100) AS BIGINT)
        |                * (10000 - CAST(floor(l_discount * 10000) AS BIGINT))
        |                AS vol_e6
        |            FROM lineitem
        |            WHERE l_shipdate >= TIMESTAMP '1996-09-01'
        |              AND l_shipdate < TIMESTAMP '1996-10-01')
        |SELECT 100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
        |                             THEN vol_e6 ELSE 0 END) AS DOUBLE)
        |         / CAST(sum(vol_e6) AS DOUBLE) AS promo_revenue_pct
        |FROM li JOIN part ON l_partkey = p_partkey""".stripMargin,

    "q19_discounted_revenue" ->
      """WITH li AS (SELECT l_partkey, l_quantity,
        |              CAST(floor(l_extendedprice * 100) AS BIGINT)
        |                * (10000 - CAST(floor(l_discount * 10000) AS BIGINT))
        |                AS vol_e6
        |            FROM lineitem)
        |SELECT CAST(sum(vol_e6) AS DOUBLE) / 1e6 AS revenue
        |FROM li JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |         AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 10
        |         AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 15
        |         AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "q8_market_share" ->
      """WITH li AS (SELECT l_orderkey, l_partkey, l_suppkey,
        |              CAST(floor(l_extendedprice * 100) AS BIGINT)
        |                * (10000 - CAST(floor(l_discount * 10000) AS BIGINT))
        |                AS vol_e6
        |            FROM lineitem)
        |SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |       CAST(sum(CASE WHEN n1.n_name = 'NATION_5'
        |                     THEN vol_e6 ELSE 0 END) AS DOUBLE)
        |         / CAST(sum(vol_e6) AS DOUBLE) AS mkt_share
        |FROM li
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |JOIN region ON n2.n_regionkey = r_regionkey
        |WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q15_top_supplier" ->
      """WITH rev AS (SELECT l_suppkey,
        |               CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)
        |                 * (10000 - CAST(floor(l_discount * 10000) AS BIGINT)))
        |                 AS HUGEINT) AS rev_e6
        |             FROM lineitem
        |             WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |               AND l_shipdate < TIMESTAMP '1996-04-01'
        |             GROUP BY 1)
        |SELECT s_suppkey, s_name, CAST(rev_e6 AS DOUBLE) / 1e6 AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rev_e6 = (SELECT max(rev_e6) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,

    "q16_supplier_count" ->
      """SELECT p_brand, p_type, p_size,
        |       count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#5'
        |  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                        WHERE contains(s_name, '7'))
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    // Q11 replay: positions = observed (part, supplier) pairs of one
    // region's suppliers; HUGEINT value algebra mirrors the Spark
    // decimal(38,0); the scalar threshold is the literal correlated
    // form (the engine side declares the decorrelated crossJoin —
    // same rows by construction). Ordered by the exact value.
    "q11_important_stock" ->
      """WITH pos AS (
        |  SELECT l_partkey, l_suppkey,
        |         CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT)
        |           AS avail_qty,
        |         min((CAST(floor(l_extendedprice * 100) AS BIGINT) * 10000)
        |             // CAST(floor(l_quantity) AS BIGINT)) AS cost_e6
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'
        |  GROUP BY 1, 2),
        |v AS (SELECT l_partkey AS partkey,
        |        CAST(sum(CAST(avail_qty AS HUGEINT) * cost_e6) AS HUGEINT)
        |          AS value_e6
        |      FROM pos GROUP BY 1),
        |t AS (SELECT CAST(sum(value_e6) AS HUGEINT) AS total_e6,
        |        count(*) AS n_parts FROM v)
        |SELECT partkey, CAST(value_e6 AS DOUBLE) / 1e6 AS value
        |FROM v, t
        |WHERE value_e6 * n_parts > total_e6 * 2
        |ORDER BY value_e6 DESC, partkey""".stripMargin,

    // Q20 replay: the nested-semi chain in its literal IN-subquery
    // form; one conditional rollup builds both years' quantities.
    "q20_potential_promotion" ->
      """WITH pos AS (
        |  SELECT l_partkey, l_suppkey,
        |    sum(CASE WHEN l_shipdate >= TIMESTAMP '1995-01-01'
        |              AND l_shipdate < TIMESTAMP '1996-01-01'
        |             THEN CAST(floor(l_quantity) AS BIGINT) ELSE 0 END)
        |      AS qty95,
        |    sum(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
        |              AND l_shipdate < TIMESTAMP '1997-01-01'
        |             THEN CAST(floor(l_quantity) AS BIGINT) ELSE 0 END)
        |      AS qty96
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE 'red%'
        |  GROUP BY 1, 2)
        |SELECT s_suppkey, s_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_3'
        |  AND s_suppkey IN (SELECT l_suppkey FROM pos
        |                    WHERE qty95 > qty96 AND qty96 > 0)
        |ORDER BY s_name""".stripMargin,

    "q17_small_quantity" ->
      """WITH li AS (SELECT l_partkey,
        |              CAST(floor(l_quantity) AS BIGINT) AS qty_i,
        |              CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
        |            FROM lineitem
        |            WHERE l_partkey IN (SELECT p_partkey FROM part
        |                                WHERE p_brand = 'Brand#10'
        |                                  AND p_size <= 10)),
        |st AS (SELECT l_partkey AS sp_key, count(*) AS n,
        |         sum(qty_i) AS sq FROM li GROUP BY 1)
        |SELECT CAST(sum(cents) AS DOUBLE) / 700.0 AS avg_yearly
        |FROM li JOIN st ON l_partkey = sp_key
        |WHERE qty_i * 5 * n < sq""".stripMargin,

    "q22_sales_opportunity" ->
      """WITH cust AS (SELECT c_custkey,
        |                CAST(floor(c_acctbal * 100) AS BIGINT) AS cents,
        |                c_nationkey % 10 AS cntrycode
        |              FROM customer
        |              WHERE c_nationkey % 10 IN (1, 3, 5, 7, 9)),
        |ap AS (SELECT sum(cents) AS s_cents, count(*) AS n_pos
        |       FROM cust WHERE cents > 0)
        |SELECT cntrycode, count(*) AS numcust,
        |       sum(cents) / 100.0 AS totacctbal
        |FROM cust CROSS JOIN ap
        |WHERE cents * n_pos > s_cents
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q2_min_cost_supplier" ->
      """WITH offers AS (
        |  SELECT p_partkey, p_name, s_suppkey, s_name,
        |         CAST(floor(s_acctbal * 100) AS BIGINT) AS acct_cents,
        |         n_name,
        |         min((CAST(floor(l_extendedprice * 100) AS BIGINT) * 10000)
        |             // CAST(floor(l_quantity) AS BIGINT)) AS u_e6
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE p_size = 15 AND p_type = 'STANDARD' AND r_name = 'EUROPE'
        |  GROUP BY 1, 2, 3, 4, 5, 6),
        |best AS (SELECT p_partkey AS bp, min(u_e6) AS best_e6
        |         FROM offers GROUP BY 1)
        |SELECT acct_cents / 100.0 AS s_acctbal, s_name, n_name,
        |       p_partkey, p_name, CAST(u_e6 AS DOUBLE) / 1e6 AS unit_cost
        |FROM offers JOIN best ON p_partkey = bp AND u_e6 = best_e6
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,

    "q9_product_profit" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
        |       CAST(sum(CAST(CAST(floor(l_extendedprice * 100) AS BIGINT)
        |           * (10000 - CAST(floor(l_discount * 10000) AS BIGINT))
        |           - CAST(floor(l_quantity) AS BIGINT)
        |             * CAST(floor(p_retailprice * 100) AS BIGINT) * 6000
        |           AS HUGEINT)) AS DOUBLE) / 1e6 AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE contains(p_name, 'widget')
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,

    "q12_ship_priority" ->
      """SELECT l_linestatus,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_shipdate >= o_orderdate + INTERVAL 30 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q21_waiting_supplier" ->
      """WITH late AS (
        |  SELECT l_orderkey, l_suppkey
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |    AND l_shipdate >= o_orderdate + INTERVAL 75 DAY)
        |SELECT s_name, count(*) AS numwait
        |FROM late l1 JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM late l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey)
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin,

    // Same exact per-user integer (x, y), per-arm moment sums, and the
    // identical global-θ double algebra.
    "q_cuped" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) // 86400000 AS day,
        |             CAST(floor(value * 100) AS BIGINT) AS cents
        |           FROM events),
        |sp AS (SELECT (min(day) + max(day) + 1) // 2 AS split_day FROM e),
        |pu AS (SELECT user_id,
        |         CAST(sum(CASE WHEN day < split_day THEN cents ELSE 0 END) AS BIGINT) AS x,
        |         CAST(sum(CASE WHEN day >= split_day THEN cents ELSE 0 END) AS BIGINT) AS y
        |       FROM e CROSS JOIN sp GROUP BY user_id),
        |a AS (SELECT user_id % 2 AS arm, x, y FROM pu),
        |arms AS (SELECT arm, count(*) AS n,
        |           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |           CAST(sum(x * y) AS BIGINT) AS sxy,
        |           CAST(sum(x * x) AS BIGINT) AS sxx,
        |           CAST(sum(y * y) AS BIGINT) AS syy
        |         FROM a GROUP BY arm),
        |g AS (SELECT CAST(sum(n) AS DOUBLE) AS gn,
        |        CAST(sum(sx) AS DOUBLE) AS gsx, CAST(sum(sy) AS DOUBLE) AS gsy,
        |        CAST(sum(sxy) AS DOUBLE) AS gsxy, CAST(sum(sxx) AS DOUBLE) AS gsxx
        |      FROM arms),
        |t AS (SELECT (gn * gsxy - gsx * gsy) / (gn * gsxx - gsx * gsx) AS theta,
        |        gsx / gn AS mean_x_g FROM g)
        |SELECT arm, n,
        |  CAST((sy * 100) // n AS BIGINT) / 10000.0 AS mean_y,
        |  round((CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
        |         - theta * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) - mean_x_g))
        |        / 100.0, 4) AS mean_y_adj,
        |  round(theta, 6) AS theta,
        |  round(1.0 - ((CAST(syy AS DOUBLE) - 2.0 * theta * CAST(sxy AS DOUBLE)
        |                + theta * theta * CAST(sxx AS DOUBLE)) / CAST(n AS DOUBLE)
        |               - ((CAST(sy AS DOUBLE) - theta * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE))
        |                 * ((CAST(sy AS DOUBLE) - theta * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)))
        |            / (CAST(syy AS DOUBLE) / CAST(n AS DOUBLE)
        |               - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
        |                 * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))), 6) AS var_reduction
        |FROM arms CROSS JOIN t ORDER BY arm""".stripMargin,

    // Sequential row_number stands in for the distributed two-pass
    // globalIds; same exact rank-weighted integer sums.
    "q_gini" ->
      """WITH c AS (SELECT o_orderkey,
        |             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |           FROM orders),
        |r AS (SELECT cents,
        |        row_number() OVER (ORDER BY cents, o_orderkey) AS i
        |      FROM c),
        |m AS (SELECT count(*) AS n, CAST(sum(cents) AS BIGINT) AS total_cents,
        |        sum(CAST(i AS HUGEINT) * cents) AS w
        |      FROM r)
        |SELECT n, total_cents,
        |       round(2.0 * CAST(w AS DOUBLE)
        |             / (CAST(n AS DOUBLE) * CAST(total_cents AS DOUBLE))
        |             - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS gini
        |FROM m""".stripMargin,

    // Sequential window prefix sum stands in for the distributed sweep.
    "q_weighted_median" ->
      """WITH li AS (SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents,
        |             CAST(floor(l_quantity) AS BIGINT) AS wgt,
        |             l_orderkey, l_linenumber
        |           FROM lineitem),
        |r AS (SELECT cents,
        |        CAST(sum(wgt) OVER (ORDER BY cents, l_orderkey, l_linenumber
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cw
        |      FROM li),
        |t AS (SELECT CAST(sum(wgt) AS BIGINT) AS w_total FROM li)
        |SELECT w_total, CAST(min(cents) AS BIGINT) / 100.0 AS median_price
        |FROM r CROSS JOIN t WHERE cw * 2 >= w_total
        |GROUP BY w_total""".stripMargin,

    "q_market_basket" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS bk,
        |                 l_partkey % 50 AS item
        |               FROM lineitem),
        |sz AS (SELECT item, count(*) AS n_item FROM items GROUP BY 1),
        |t AS (SELECT count(DISTINCT bk) AS n_baskets FROM items),
        |p AS (SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_pair
        |      FROM items a JOIN items b
        |        ON a.bk = b.bk AND a.item < b.item
        |      GROUP BY 1, 2 HAVING count(*) >= 20)
        |SELECT item_a, item_b, n_pair, x.n_item AS n_a, y.n_item AS n_b,
        |       round(CAST(n_pair AS DOUBLE) / CAST(n_baskets AS DOUBLE), 6) AS support,
        |       round(CAST(n_pair AS DOUBLE) / CAST(x.n_item AS DOUBLE), 6) AS confidence,
        |       round(CAST(n_pair AS DOUBLE) * CAST(n_baskets AS DOUBLE)
        |             / (CAST(x.n_item AS DOUBLE) * CAST(y.n_item AS DOUBLE)), 6) AS lift
        |FROM p JOIN sz x ON x.item = item_a
        |       JOIN sz y ON y.item = item_b
        |CROSS JOIN t
        |ORDER BY lift DESC, item_a, item_b LIMIT 20""".stripMargin,

    "q_audience_overlap" ->
      """WITH ut AS (SELECT DISTINCT event_type, user_id FROM events),
        |sz AS (SELECT event_type, count(*) AS n_users FROM ut GROUP BY 1),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |        count(*) AS n_both
        |      FROM ut a JOIN ut b
        |        ON a.user_id = b.user_id AND a.event_type < b.event_type
        |      GROUP BY 1, 2)
        |SELECT type_a, type_b, x.n_users AS n_a, y.n_users AS n_b, n_both,
        |       x.n_users + y.n_users - n_both AS n_union,
        |       round(CAST(n_both AS DOUBLE)
        |             / CAST(x.n_users + y.n_users - n_both AS DOUBLE), 6) AS jaccard
        |FROM p JOIN sz x ON x.event_type = type_a
        |       JOIN sz y ON y.event_type = type_b
        |ORDER BY type_a, type_b""".stripMargin,

    // Same integer epoch-bucket arithmetic (epoch day 0 = Thursday).
    "q_seasonality" ->
      """WITH e AS (SELECT epoch_ms(ts) AS ts_ms,
        |             CAST(floor(value * 100) AS BIGINT) AS cents
        |           FROM events),
        |c AS (SELECT CAST((ts_ms // 86400000 + 4) % 7 AS INTEGER) AS dow,
        |        CAST((ts_ms % 86400000) // 3600000 AS INTEGER) AS hod,
        |        count(*) AS n, sum(cents) AS s
        |      FROM e GROUP BY 1, 2),
        |t AS (SELECT sum(n) AS total FROM c)
        |SELECT dow, hod, n,
        |       CAST((s * 100) // n AS BIGINT) / 10000.0 AS avg_value,
        |       round(CAST(n AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share
        |FROM c CROSS JOIN t ORDER BY dow, hod""".stripMargin,

    // Same daily aggregate, prefix sums, and CUSUM-style statistic.
    "q_changepoint" ->
      """WITH e AS (SELECT epoch_ms(ts) // 86400000 AS day,
        |             CAST(floor(value * 100) AS BIGINT) AS cents
        |           FROM events),
        |d AS (SELECT day, count(*) AS n,
        |        CAST(sum(cents) AS BIGINT) AS s FROM e GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
        |        CAST(sum(s) AS BIGINT) AS st FROM d),
        |c AS (SELECT day,
        |        CAST(sum(n) OVER (ORDER BY day
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cn,
        |        CAST(sum(s) OVER (ORDER BY day
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cs
        |      FROM d),
        |sc AS (SELECT day, cn AS n_left, nt - cn AS n_right,
        |         CAST(cs AS DOUBLE) / CAST(cn AS DOUBLE) AS ml,
        |         CAST(st - cs AS DOUBLE) / CAST(nt - cn AS DOUBLE) AS mr,
        |         CAST(nt AS DOUBLE) AS ntd
        |       FROM c CROSS JOIN t WHERE cn < nt),
        |f AS (SELECT day, n_left, n_right, ml, mr,
        |        round(abs(ml - mr) * sqrt(CAST(n_left AS DOUBLE)
        |          * CAST(n_right AS DOUBLE) / ntd), 6) AS score
        |      FROM sc)
        |SELECT day AS split_day, n_left, n_right,
        |       round(ml / 100.0, 4) AS mean_left,
        |       round(mr / 100.0, 4) AS mean_right, score
        |FROM f ORDER BY score DESC, split_day LIMIT 1""".stripMargin,

    // The textbook quadratic NOT EXISTS dominance test — deliberately a
    // DIFFERENT algorithm from the Spark sweep, so the gate compares
    // skyline semantics, not implementations.
    "q_skyline" ->
      """WITH p AS (SELECT CAST(floor(p_retailprice * 100) AS BIGINT) AS cents,
        |             CAST(p_size AS BIGINT) AS size
        |           FROM part),
        |b AS (SELECT cents, size, count(*) AS n_parts FROM p GROUP BY 1, 2)
        |SELECT cents, size, n_parts FROM b x
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM b y
        |  WHERE y.cents <= x.cents AND y.size >= x.size
        |    AND (y.cents < x.cents OR y.size > x.size))
        |ORDER BY cents""".stripMargin,

    // Identical sufficient-statistic algebra in HUGEINT.
    "q_linreg" ->
      """WITH o AS (SELECT o_custkey,
        |             CAST(datediff('day', DATE '1995-01-01',
        |               o_orderdate::DATE) AS BIGINT) AS x,
        |             CAST(floor(o_totalprice * 100) AS BIGINT) AS y
        |           FROM orders),
        |s AS (SELECT CAST(c.c_nationkey AS BIGINT) AS nation,
        |        CAST(count(*) AS HUGEINT) AS n,
        |        sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |        sum(CAST(x AS HUGEINT) * y) AS sxy,
        |        sum(CAST(x AS HUGEINT) * x) AS sxx,
        |        sum(CAST(y AS HUGEINT) * y) AS syy
        |      FROM o JOIN customer c ON o.o_custkey = c.c_custkey
        |      GROUP BY 1),
        |d AS (SELECT nation, n, sx, sy,
        |        n * sxy - sx * sy AS num,
        |        n * sxx - sx * sx AS den_x,
        |        n * syy - sy * sy AS den_y
        |      FROM s WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0),
        |f AS (SELECT nation, n, sx, sy, num, den_x, den_y,
        |        CAST(num AS DOUBLE) / CAST(den_x AS DOUBLE) AS slope
        |      FROM d)
        |SELECT nation, CAST(n AS BIGINT) AS n,
        |       round(slope, 6) AS slope,
        |       round((CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
        |             / CAST(n AS DOUBLE), 2) AS intercept,
        |       round(CAST(num AS DOUBLE) * CAST(num AS DOUBLE)
        |             / (CAST(den_x AS DOUBLE) * CAST(den_y AS DOUBLE)), 6) AS r2
        |FROM f ORDER BY nation""".stripMargin,

    // Same mean-free integer form: n² clears every μ denominator so
    // both engines sum only exact HUGEINTs before one double division.
    "q_acf" ->
      """WITH d AS (SELECT CAST(datediff('day', DATE '1995-01-01',
        |               o_orderdate::DATE) AS BIGINT) AS day,
        |             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |           FROM orders),
        |x AS (SELECT day, CAST(sum(cents) AS BIGINT) AS x FROM d GROUP BY 1),
        |i AS (SELECT x, row_number() OVER (ORDER BY day) - 1 AS gid FROM x),
        |t AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |        sum(CAST(x AS HUGEINT)) AS s,
        |        sum(CAST(x AS HUGEINT) * x) AS q FROM i),
        |p AS (SELECT lag_k, CAST(count(*) AS HUGEINT) AS nk,
        |        sum(CAST(a.x AS HUGEINT)) AS ak,
        |        sum(CAST(b.x AS HUGEINT)) AS bk,
        |        sum(CAST(a.x AS HUGEINT) * b.x) AS ck
        |      FROM i a
        |      CROSS JOIN (SELECT unnest([1, 2, 3, 4, 5, 6, 7]) AS lag_k) ls
        |      JOIN i b ON a.gid + lag_k = b.gid
        |      GROUP BY lag_k)
        |SELECT CAST(lag_k AS BIGINT) AS lag_k, CAST(nk AS BIGINT) AS n_pairs,
        |       round(CAST(t.n * t.n * p.ck - t.n * t.s * (p.ak + p.bk)
        |               + p.nk * t.s * t.s AS DOUBLE)
        |           / CAST(t.n * t.n * t.q - t.n * t.s * t.s AS DOUBLE), 6)
        |         AS acf
        |FROM p CROSS JOIN t ORDER BY lag_k""".stripMargin,

    // Identical lead() bigram walk; confidence = exact count division.
    "q_seq_mining" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, event_id
        |           FROM events),
        |g AS (SELECT user_id, event_type AS a,
        |        lead(event_type, 1) OVER (PARTITION BY user_id
        |          ORDER BY ts_ms, event_id) AS b
        |      FROM e),
        |p AS (SELECT a, b, count(*) AS n_occ,
        |        count(DISTINCT user_id) AS n_users
        |      FROM g WHERE b IS NOT NULL GROUP BY 1, 2),
        |f AS (SELECT a, CAST(sum(n_occ) AS BIGINT) AS n_from_a
        |      FROM p GROUP BY 1)
        |SELECT p.a, p.b, p.n_occ, p.n_users,
        |       round(CAST(p.n_occ AS DOUBLE) / CAST(f.n_from_a AS DOUBLE), 6)
        |         AS confidence
        |FROM p JOIN f USING (a) ORDER BY a, b""".stripMargin,

    // Identical hash-derived coordinates, grid cells, and two-stage
    // exact argmin (min distance, then min supplier key over ties).
    "q_geo_knn" ->
      """WITH cu AS (SELECT c_custkey,
        |    ('0x' || substr(md5(c_custkey::VARCHAR), 1, 8))::BIGINT
        |      % 1000000 AS clat,
        |    ('0x' || substr(md5(c_custkey::VARCHAR), 9, 8))::BIGINT
        |      % 1000000 AS clon
        |  FROM customer),
        |su AS (SELECT s_suppkey,
        |    ('0x' || substr(md5(s_suppkey::VARCHAR), 1, 8))::BIGINT
        |      % 1000000 AS slat,
        |    ('0x' || substr(md5(s_suppkey::VARCHAR), 9, 8))::BIGINT
        |      % 1000000 AS slon
        |  FROM supplier),
        |sc AS (SELECT s_suppkey, slat, slon,
        |         slat // 62500 AS cx, slon // 62500 AS cy FROM su),
        |pr AS (SELECT c_custkey, clat, clon,
        |         clat // 62500 + dx AS cx, clon // 62500 + dy AS cy
        |       FROM cu
        |       CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dx) xs
        |       CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dy) ys),
        |cand AS (SELECT c_custkey,
        |           (clat - slat) * (clat - slat)
        |             + (clon - slon) * (clon - slon) AS d2,
        |           s_suppkey
        |         FROM pr JOIN sc USING (cx, cy)),
        |b AS (SELECT c_custkey, min(d2) AS dist2 FROM cand GROUP BY 1)
        |SELECT b.c_custkey AS custkey, b.dist2,
        |       min(cand.s_suppkey) AS suppkey
        |FROM cand JOIN b ON cand.c_custkey = b.c_custkey
        |                AND cand.d2 = b.dist2
        |GROUP BY 1, 2 ORDER BY custkey""".stripMargin,

    // row_number stands in for globalIds; same decile algebra.
    "q_lift_curve" ->
      """WITH ut AS (SELECT user_id,
        |              CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
        |                AS spend,
        |              CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
        |                            ELSE 0 END) AS BIGINT) AS npurch
        |            FROM events GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM ut),
        |r AS (SELECT npurch,
        |        ((row_number() OVER (ORDER BY spend DESC, user_id) - 1) * 10)
        |          // (SELECT n FROM n) AS decile
        |      FROM ut),
        |d AS (SELECT decile, count(*) AS n_users,
        |        CAST(sum(npurch) AS BIGINT) AS n_purchases
        |      FROM r GROUP BY 1),
        |t AS (SELECT CAST(sum(n_users) AS BIGINT) AS nu,
        |        CAST(sum(n_purchases) AS BIGINT) AS np FROM d),
        |c AS (SELECT decile, n_users, n_purchases,
        |        CAST(sum(n_users) OVER (ORDER BY decile
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |          AS cum_users,
        |        CAST(sum(n_purchases) OVER (ORDER BY decile
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |          AS cum_purchases
        |      FROM d)
        |SELECT decile, n_users, n_purchases, cum_purchases,
        |       round(CAST(cum_purchases AS DOUBLE) / CAST(t.np AS DOUBLE), 6)
        |         AS capture_rate,
        |       round(CAST(cum_purchases AS DOUBLE) * CAST(t.nu AS DOUBLE)
        |             / (CAST(t.np AS DOUBLE) * CAST(cum_users AS DOUBLE)), 6)
        |         AS lift
        |FROM c CROSS JOIN t ORDER BY decile""".stripMargin,

    // Same 9-cell confusion matrix; S and the kappa terms run in
    // HUGEINT (the decimal(38,0) twin) and po/pe/kappa are the same
    // single double divisions of exact integers.
    "q_cohens_kappa" ->
      """WITH o AS (SELECT least(CAST(floor(o_totalprice * 100) AS BIGINT)
        |                        // 16666667, 2) AS rater_a,
        |                  CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                         THEN 2
        |                       WHEN o_orderpriority = '3-MEDIUM' THEN 1
        |                       ELSE 0 END AS rater_b
        |           FROM orders),
        |cells AS (SELECT rater_a, rater_b, count(*) AS n FROM o GROUP BY 1, 2),
        |ra AS (SELECT rater_a AS k, CAST(sum(n) AS HUGEINT) AS ra
        |       FROM cells GROUP BY 1),
        |cb AS (SELECT rater_b AS k, CAST(sum(n) AS HUGEINT) AS cb
        |       FROM cells GROUP BY 1),
        |st AS (SELECT (SELECT CAST(sum(n) AS HUGEINT) FROM cells) AS nn,
        |         (SELECT CAST(coalesce(sum(n), 0) AS HUGEINT) FROM cells
        |          WHERE rater_a = rater_b) AS d,
        |         (SELECT CAST(sum(ra * cb) AS HUGEINT)
        |          FROM ra JOIN cb USING (k)) AS s),
        |k AS (SELECT
        |        CAST(d AS DOUBLE) / CAST(nn AS DOUBLE) AS po,
        |        CAST(s AS DOUBLE) / CAST(nn * nn AS DOUBLE) AS pe,
        |        CAST(nn * d - s AS DOUBLE) / CAST(nn * nn - s AS DOUBLE)
        |          AS kappa
        |      FROM st)
        |SELECT rater_a, rater_b, n, po, pe, kappa
        |FROM cells CROSS JOIN k ORDER BY rater_a, rater_b""".stripMargin,

    // Descending window cumsums replay the packed-delta sweep exactly;
    // precision/recall/F1 are the same micro-unit floor divisions.
    "q_pr_curve" ->
      """WITH e AS (SELECT CAST(floor(value * 100) AS BIGINT) AS cents,
        |             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        |           FROM events),
        |v AS (SELECT cents, count(*) AS cnt, CAST(sum(pos) AS BIGINT) AS npos
        |      FROM e GROUP BY 1),
        |t AS (SELECT CAST(sum(npos) AS BIGINT) AS p FROM v),
        |r AS (SELECT cents,
        |        CAST(sum(cnt) OVER (ORDER BY cents DESC) AS BIGINT) AS cumn,
        |        CAST(sum(npos) OVER (ORDER BY cents DESC) AS BIGINT) AS tp
        |      FROM v)
        |SELECT cents / 100.0 AS score, tp, cumn - tp AS fp, t.p - tp AS fn,
        |       ((tp * 1000000) // cumn) / 1e6 AS precision,
        |       ((tp * 1000000) // t.p) / 1e6 AS recall,
        |       ((2 * tp * 1000000) // (cumn + t.p)) / 1e6 AS f1
        |FROM r CROSS JOIN t ORDER BY score DESC""".stripMargin,

    // Identical md5-carved confidence and per-bin integer gap algebra;
    // ECE is the one floor division over the broadcast total.
    "q_ece_calibration" ->
      """WITH e AS (SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
        |             AS pos,
        |             (('0x' || substr(md5(event_id::VARCHAR), 1, 6))::BIGINT
        |              * 1000000) // 16777216 AS conf_micro
        |           FROM events),
        |b AS (SELECT conf_micro // 100000 AS bin, count(*) AS n,
        |        CAST(sum(pos) AS BIGINT) AS pos,
        |        CAST(sum(conf_micro) AS BIGINT) AS conf_sum
        |      FROM e GROUP BY 1),
        |g AS (SELECT bin, n, pos, conf_sum,
        |        abs(pos * 1000000 - conf_sum) AS gap_abs FROM b),
        |t AS (SELECT (CAST(sum(gap_abs) AS BIGINT)
        |              // CAST(sum(n) AS BIGINT)) AS ece_micro FROM g)
        |SELECT bin, n, pos,
        |       ((pos * 1000000) // n) / 1e6 AS acc,
        |       (conf_sum // n) / 1e6 AS avg_conf,
        |       ece_micro / 1e6 AS ece
        |FROM g CROSS JOIN t ORDER BY bin""".stripMargin,

    // First-principles replay of each native function: top count via
    // unnest+group+max, DuckDB's builtin jaro_winkler_similarity
    // (bit-parity established by dedup_jaro), list_inner_product on
    // DOUBLE[] for the sequential dot fold.
    "q_sql_native_funcs" ->
      """WITH w AS (SELECT doc_id,
        |             string_split_regex(lower(trim(text)), '\s+') AS l
        |           FROM documents),
        |f AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS mx FROM (
        |        SELECT doc_id, x, count(*) AS c
        |        FROM (SELECT doc_id, unnest(l) AS x FROM w) GROUP BY 1, 2)
        |      GROUP BY 1)
        |SELECT d.doc_id, f.mx AS top_word_count,
        |       round(jaro_winkler_similarity(d.source, d.lang), 6)
        |         AS jw_src_lang,
        |       round(list_inner_product(e.embedding::DOUBLE[],
        |                                e.embedding::DOUBLE[]), 6) AS norm2
        |FROM documents d
        |JOIN embeddings e ON e.vec_id = d.doc_id
        |JOIN f ON f.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // Identical integer LLR literals and bound; window cumsum +
    // row_number replay the two sweeps; coalesce picks the crossing
    // row or the final row for the 'continue' branch.
    "q_ab_sequential" ->
      """WITH e AS (SELECT epoch_ms(ts) AS ts_ms, event_id,
        |             CASE WHEN event_type = 'purchase' THEN 200671
        |                  ELSE -50010 END AS llr
        |           FROM events WHERE user_id % 2 = 1),
        |r AS (SELECT CAST(sum(llr) OVER w AS BIGINT) AS cum,
        |        CAST(row_number() OVER w AS BIGINT) AS n
        |      FROM e WINDOW w AS (ORDER BY ts_ms, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |f AS (SELECT min(n) AS n_dec FROM r WHERE abs(cum) >= 2944439),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_obs FROM r)
        |SELECT t.n_obs, r.n AS n_at_decision, r.cum AS llr_e6,
        |       CASE WHEN r.cum >= 2944439 THEN 'accept_h1'
        |            WHEN r.cum <= -2944439 THEN 'accept_h0'
        |            ELSE 'continue' END AS decision
        |FROM r CROSS JOIN f CROSS JOIN t
        |WHERE r.n = coalesce(f.n_dec, t.n_obs)""".stripMargin,

    // Same daily rollup, pair signs, and tie-corrected variance in
    // exact integers; z is the identical single division + IEEE sqrt.
    "q_mann_kendall" ->
      """WITH daily AS (SELECT epoch_ms(o_orderdate) // 86400000 AS day,
        |                 CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
        |                   AS BIGINT) AS c
        |               FROM orders GROUP BY 1),
        |p AS (SELECT CAST(sum(CASE WHEN b.c > a.c THEN 1
        |                           WHEN b.c < a.c THEN -1 ELSE 0 END)
        |        AS BIGINT) AS s_stat
        |      FROM daily a JOIN daily b ON a.day < b.day),
        |t AS (SELECT CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT)
        |          AS tie_term,
        |        CAST(sum(t) AS BIGINT) AS n
        |      FROM (SELECT c, count(*) AS t FROM daily GROUP BY 1))
        |SELECT n AS n_days, s_stat,
        |       n * (n - 1) * (2 * n + 5) - tie_term AS var_num,
        |       CAST(CASE WHEN s_stat > 0 THEN s_stat - 1
        |                 WHEN s_stat < 0 THEN s_stat + 1 ELSE 0 END AS DOUBLE)
        |       / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE)
        |              / 18.0) AS z
        |FROM p CROSS JOIN t""".stripMargin,

    // Same contingency cells and per-cell micro quantization as the
    // q_chi_squared oracle; V is one division + IEEE sqrt.
    "q_cramers_v" ->
      """WITH cells AS (SELECT o_orderpriority, c_mktsegment, count(*) AS obs
        |               FROM orders JOIN customer ON o_custkey = c_custkey
        |               GROUP BY 1, 2),
        |rt AS (SELECT o_orderpriority, CAST(sum(obs) AS BIGINT) AS row_tot
        |       FROM cells GROUP BY 1),
        |ct AS (SELECT c_mktsegment, CAST(sum(obs) AS BIGINT) AS col_tot
        |       FROM cells GROUP BY 1),
        |g AS (SELECT CAST(sum(obs) AS BIGINT) AS grand FROM cells),
        |sc AS (SELECT obs,
        |         CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
        |           / CAST(grand AS DOUBLE) AS expected
        |       FROM cells JOIN rt USING (o_orderpriority)
        |                  JOIN ct USING (c_mktsegment) CROSS JOIN g),
        |q AS (SELECT CAST(round((obs - expected) * (obs - expected)
        |               / expected * 1e6, 0) AS BIGINT) AS cmicro, obs
        |      FROM sc),
        |tot AS (SELECT CAST(sum(cmicro) AS BIGINT) AS chi2m,
        |          (SELECT count(*) FROM rt) AS np,
        |          (SELECT count(*) FROM ct) AS ns,
        |          CAST(sum(obs) AS BIGINT) AS nn
        |        FROM q)
        |SELECT nn AS n, chi2m / 1e6 AS chi2,
        |       (np - 1) * (ns - 1) AS dof,
        |       sqrt(CAST(chi2m AS DOUBLE)
        |            / (1e6 * CAST(nn AS DOUBLE)
        |               * CAST(least(np - 1, ns - 1) AS DOUBLE))) AS cramers_v
        |FROM tot""".stripMargin,

    // Window list over the same rows frame; lower-median selection is
    // the identical integer list index.
    "q_rolling_median" ->
      """WITH daily AS (SELECT epoch_ms(o_orderdate) // 86400000 AS day,
        |                 CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
        |                   AS BIGINT) AS c
        |               FROM orders GROUP BY 1),
        |f AS (SELECT day, c AS cents,
        |        list(c) OVER (ORDER BY day
        |          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS frame
        |      FROM daily)
        |SELECT day, cents, CAST(len(frame) AS INT) AS n_window,
        |       list_sort(frame)[CAST((len(frame) + 1) // 2 AS INT)]
        |         AS median_cents
        |FROM f ORDER BY day""".stripMargin,

    // Same 62-bit word packing; bit_or/bit_count replay the bitmap
    // algebra exactly, Jaccard is the identical micro floor division.
    "q_bitmap_overlap" ->
      """WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
        |bm AS (SELECT event_type, user_id // 62 AS word,
        |         bit_or(1::BIGINT << CAST(user_id % 62 AS INT)) AS bits
        |       FROM u GROUP BY 1, 2),
        |sz AS (SELECT event_type, CAST(sum(bit_count(bits)) AS BIGINT)
        |           AS n_users
        |       FROM bm GROUP BY 1),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |        CAST(sum(bit_count(a.bits & b.bits)) AS BIGINT) AS overlap
        |      FROM bm a JOIN bm b ON a.word = b.word
        |                         AND a.event_type < b.event_type
        |      GROUP BY 1, 2)
        |SELECT type_a, type_b, sa.n_users AS n_a, sb.n_users AS n_b,
        |       overlap,
        |       ((overlap * 1000000) // (sa.n_users + sb.n_users - overlap))
        |         / 1e6 AS jaccard
        |FROM p JOIN sz sa ON sa.event_type = p.type_a
        |       JOIN sz sb ON sb.event_type = p.type_b
        |ORDER BY type_a, type_b""".stripMargin)
}
