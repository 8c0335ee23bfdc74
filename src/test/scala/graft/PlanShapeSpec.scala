package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{CollectLimitExec, ExplainMode, GlobalLimitExec,
  LocalLimitExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec

import scala.util.{Failure, Success, Try}

/** Plan-shape regression tests for the scale-critical invariants the
  * operators were designed around. These assert the PHYSICAL PLAN, not
  * results: a refactor that keeps answers right but, say, moves the
  * bloom bit-tests behind the join exchange or turns the Morton
  * interleave into a non-codegen expression should fail here, at test
  * time, not in a 100 TB run. */
class PlanShapeSpec extends SparkSpec {

  private def formatted(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sf("sf0.001"))
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("q1_agg pushes the shipdate filter into the parquet scan") {
    val p = formatted("q1_agg")
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("LessThanOrEqual(l_shipdate"), "filter not pushed:\n" + p)
  }

  test("q_broadcast_join broadcasts the dimension, never the fact side") {
    val p = formatted("q_broadcast_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("q_bloom_join: bloom bit-tests filter the fact scan BEFORE the join") {
    val p = formatted("q_bloom_join")
    // the probe's shiftright bit test must appear in a Filter whose
    // child is the lineitem scan — i.e. ahead of any join/exchange
    val filterIdx = p.indexOf("shiftright")
    assert(filterIdx >= 0, "bloom bit-test missing from plan:\n" + p)
    val joinIdx = p.indexOf("Join")
    assert(joinIdx >= 0, p)
    // formatted mode lists operators top-down: the Filter holding the
    // bit test must be a leaf-side detail, the join above it — both
    // exist and the exact semi-join still runs (false-positive removal)
    assert(p.contains("LeftSemi"), "exact semi join must remain:\n" + p)
  }

  test("sort_topk is TakeOrderedAndProject, not a global sort") {
    val p = formatted("sort_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("text_topterms never globally sorts the term table") {
    val p = formatted("text_topterms")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("data_zorder's Morton interleave stays inside codegen (no UDF)") {
    val p = formatted("data_zorder")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
    // the interleave lowers to shiftleft/shiftright/& inside a Project
    // (codegen-able built-ins), never an opaque function call
    assert(p.contains("shiftleft"), p)
  }

  test("text_heavy_hitters: MG sketch aggregates partially per partition") {
    val p = formatted("text_heavy_hitters")
    // typed Aggregator → ObjectHashAggregate (or SortAggregate fallback)
    // with a partial mode before the exchange — the buffer crosses the
    // shuffle as ONE bounded map per partition
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"), p)
    assert(p.contains("BroadcastExchange"),
      "candidate set must broadcast back for the exact recount:\n" + p)
  }

  test("q_sessionize reuses one user_id exchange across both window passes") {
    val p = formatted("q_sessionize")
    // two logical window functions (lag, running sum) over the same
    // partitioning must not introduce a second hashpartitioning exchange
    val exchanges = "Exchange hashpartitioning\\(user_id".r
      .findAllIn(p).length
    assert(exchanges <= 1, s"expected <=1 user_id exchange, got $exchanges:\n$p")
  }

  test("IVF cell assignment is a HashAggregate min_by, never a window sort") {
    // the assignment reduces the corpus x centroids product map-side —
    // a regression to the row_number-window shape would sort-shuffle
    // N x numCells rows (and a struct ordering key would silently
    // demote it to SortAggregate)
    val emb = graft.sources.Tables.embeddings(spark, sf("sf0.001"))
    val (_, assign) = graft.operators.Similarity.ivfIndex(emb, numCells = 8)
    val p = assign.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("HashAggregate"), "assignment lost HashAggregate:\n" + p)
    assert(p.contains("min_by"), p)
    assert(!p.contains("SortAggregate"),
      "assignment demoted to SortAggregate (non-primitive buffer?):\n" + p)
    // the only legal Window is the cell_rank numbering of the <=numCells
    // centroids INSIDE the broadcast side; the corpus-side spine (the
    // tree above BroadcastExchange) must be window-free
    val tree = p.split("\n\n").head
    val spine = tree.substring(0, tree.indexOf("BroadcastExchange") max 0)
    assert(!spine.contains("Window"),
      "assignment regressed to a window ranking of the product:\n" + p)
  }

  test("q5_deep_join: all three dimension joins broadcast, facts shuffle") {
    // At sf0.001 every side fits the auto-broadcast threshold, which
    // hides the at-scale shape. Disable it so ONLY the explicit
    // broadcast() hints survive — this is what a 100 TB planner sees,
    // where lineitem/orders/customer dwarf any threshold.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = formatted("q5_deep_join")
      // formatted mode names each operator twice (tree + detail block)
      val bhj = "\\(\\d+\\) BroadcastHashJoin".r.findAllIn(p).length
      assert(bhj == 3, s"expected 3 hinted broadcast joins, got $bhj:\n$p")
      // lineitem⋈orders and ⋈customer remain shuffle joins on their keys
      val smj = "\\(\\d+\\) (SortMergeJoin|ShuffledHashJoin)".r
        .findAllIn(p).length
      assert(smj == 2, s"expected 2 shuffle joins, got $smj:\n$p")
      // the date range reaches the orders scan
      assert(p.contains("GreaterThanOrEqual(o_orderdate"),
        "orderdate filter not pushed:\n" + p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q_partition_prune answers the source predicate by directory pruning") {
    val p = formatted("q_partition_prune")
    val scanIdx = p.indexOf("PartitionFilters: [")
    assert(scanIdx >= 0, "no PartitionFilters section:\n" + p)
    val pf = p.substring(scanIdx, p.indexOf("]", scanIdx) + 1)
    assert(pf.contains("source"),
      "source predicate not in PartitionFilters:\n" + pf)
    // and it must NOT survive as a per-row pushed data filter
    val pushedIdx = p.indexOf("PushedFilters: [")
    if (pushedIdx >= 0) {
      val pushed = p.substring(pushedIdx, p.indexOf("]", pushedIdx) + 1)
      assert(!pushed.contains("source"),
        "source predicate leaked into the data filters:\n" + pushed)
    }
  }

  /** Red flags the sweep expects, with the reason each is the intended
    * plan. All are BNLJs whose build side is small by construction in a
    * way the `bounded` test cannot see: a `vec_id < N` query filter, k
    * centroids collected to a local relation, or a literal dimension.
    * Every other flag fails the sweep, and so does an entry here that no
    * longer fires, so the list cannot outlive the plans it describes. */
  private val declaredFlags: Map[(String, String), String] = {
    val queries = "the corpus is scanned once against the broadcast `vec_id < N` query side"
    val centroids = "nearest-centroid assignment against the k centroids, collected to a local relation"
    Map(
      ("ann_bruteforce", "BNLJ") -> s"$queries: the brute-force contract",
      ("ann_matryoshka_eval", "BNLJ") -> s"$queries, at full and truncated dims",
      ("ann_maxsim", "BNLJ") -> s"$queries; token interaction is a per-pair HOF",
      ("ann_radius", "BNLJ") -> s"$queries, under a cosine threshold",
      ("ann_rbo_eval", "BNLJ") -> s"$queries for the exact ranking",
      ("ann_recall_eval", "BNLJ") -> s"$queries for the exact leg",
      ("cluster_assign", "BNLJ") -> centroids,
      ("cluster_kmeans", "BNLJ") -> s"$centroids, once per Lloyd round",
      ("cluster_purity", "BNLJ") -> s"$centroids, before the label census",
      ("cluster_rand_index", "BNLJ") -> s"$centroids, before the pair counts",
      ("dedup_semantic", "BNLJ") -> s"$centroids, as the blocking key",
      ("pipeline_incremental_reindex", "BNLJ") -> s"$centroids, for the changed rows",
      ("q_range_join", "BNLJ") ->
        "a band predicate against a broadcast 3-row literal dimension; the fact side is scanned once")
  }

  /** Red flags in a pre-AQE physical plan, subqueries included:
    *  - CARTESIAN: any CartesianProduct.
    *  - BNLJ: a BroadcastNestedLoopJoin whose build side is not bounded.
    *  - 1PART-UNBOUNDED: a SinglePartition shuffle over an unbounded input,
    *    a raw-data funnel through one task.
    *  - GLOBAL-WINDOW-UNBOUNDED: a window with no PARTITION BY over an
    *    unbounded input.
    * A subtree is bounded when something below it already collapsed the
    * data: an aggregate, a limit or a top-k. */
  private def redFlags(plan: SparkPlan): Seq[String] = {
    def bounded(p: SparkPlan): Boolean = p.exists {
      case _: BaseAggregateExec | _: TakeOrderedAndProjectExec |
           _: LocalLimitExec | _: GlobalLimitExec | _: CollectLimitExec => true
      case _ => false
    }
    val nodes = plan.collectWithSubqueries { case p => p }
    Seq(
      "CARTESIAN" -> nodes.exists(_.isInstanceOf[CartesianProductExec]),
      "BNLJ" -> nodes.exists {
        case j: BroadcastNestedLoopJoinExec =>
          !bounded(if (j.buildSide == BuildLeft) j.left else j.right)
        case _ => false
      },
      "1PART-UNBOUNDED" -> nodes.exists {
        case e: ShuffleExchangeExec =>
          e.outputPartitioning == SinglePartition && !bounded(e.child)
        case _ => false
      },
      "GLOBAL-WINDOW-UNBOUNDED" -> nodes.exists {
        case w: WindowExec => w.partitionSpec.isEmpty && !bounded(w.child)
        case _ => false
      }
    ).collect { case (f, true) => f }
  }

  /** Every graded batch query built once at sf0.001, shared by the two
    * registry sweeps: its formatted plan and the red flags its pre-AQE
    * physical plan fires, or the error planning it threw. Streaming
    * queries are excluded (constructing one EXECUTES it; their shapes
    * are covered by StreamingSpec + the graded runs). */
  private lazy val sweptPlans: Seq[(String, Try[(String, Seq[String])])] =
    SparkEntry.queries.keys.toSeq.sorted.filterNot(_.startsWith("stream_")).map { name =>
      name -> Try {
        val qe = SparkEntry.queries(name)(spark, sf("sf0.001")).queryExecution
        (qe.explainString(ExplainMode.fromString("formatted")), redFlags(qe.sparkPlan))
      }
    }

  test("registry sweep: no ScalaUDF / Python eval in ANY graded batch plan") {
    // The repo-wide codegen contract ("functions, not UDFs") enforced
    // mechanically over the ENTIRE registry: every scalar computation
    // must lower to built-ins or native graft Expressions. Typed
    // Aggregators (ObjectHashAggregate buffers) and mapPartitions codec
    // work are allowed by design — this asserts only that no per-row
    // scalar ScalaUDF/Python eval sneaks into a hot path.
    val offending = sweptPlans.collect {
      case (name, Failure(e)) => name -> s"PLAN-FAILED: ${e.getMessage}"
      case (name, Success((p, _))) if p.contains("ScalaUDF") || p.contains("BatchEvalPython") =>
        name -> p.take(200)
    }
    assert(offending.isEmpty,
      s"queries with UDF/Python eval or unplannable:\n${offending.mkString("\n")}")
  }

  test("registry sweep: no undeclared plan red flag in ANY graded batch plan") {
    // The same plans linted for the scale red flags above against
    // `declaredFlags`; an unplannable query fails the sweep before this.
    val flags = sweptPlans.collect { case (name, Success((_, fs))) => fs.map(name -> _) }
      .flatten.toSet
    val undeclared = flags.diff(declaredFlags.keySet).toSeq.sorted
    val stale = declaredFlags.keySet.diff(flags).toSeq.sorted
    assert(undeclared.isEmpty && stale.isEmpty,
      s"undeclared red flags (query, flag): ${undeclared.mkString(", ")}; " +
        s"declared but not firing: ${stale.mkString(", ")}")
  }

  test("q_recursive_cte plans as a native UnionLoop and matches a chain walk") {
    val p = formatted("q_recursive_cte")
    assert(p.contains("UnionLoop"), "native recursion operator missing:\n" + p)
    val got = SparkEntry.queries("q_recursive_cte")(spark, sf("sf0.001"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    // sequential replay: the ancestors of c are c/8, c/64, ... while >= 1
    val keys = sources.Tables.customer(spark, sf("sf0.001"))
      .select("c_custkey").collect().map(_.getLong(0))
    val expected = keys.sorted.flatMap { c =>
      val chain = Iterator.iterate(c / 8)(_ / 8).takeWhile(_ >= 1).toSeq
      if (chain.isEmpty) None
      else Some((c, chain.size.toLong, chain.size.toLong, chain.sum))
    }.toSeq
    assert(got == expected)
  }

  test("q_pipe_syntax compiles to the identical plan as the classic form") {
    val pipe = SparkEntry.queries("q_pipe_syntax")(spark, sf("sf0.001"))
    // the classic nested form the pipe stages desugar to: EXTEND is the
    // inner projection, post-aggregate WHERE is HAVING
    val classic = spark.sql(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       sum(rev_cents) AS rev_cents_sum
        |FROM (SELECT l_returnflag, l_linestatus,
        |             CAST(floor(l_extendedprice * (1 - l_discount) * 100)
        |                  AS BIGINT) AS rev_cents
        |      FROM lineitem_pipe WHERE l_quantity >= 2)
        |GROUP BY l_returnflag, l_linestatus HAVING count(*) > 50
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
    assert(pipe.queryExecution.optimizedPlan
        .sameResult(classic.queryExecution.optimizedPlan),
      s"pipe form diverged from classic:\n${pipe.queryExecution.optimizedPlan}" +
        s"\nvs\n${classic.queryExecution.optimizedPlan}")
  }

  test("q_param_sql: bound parameters are plan-identical to hand-written SQL") {
    val bound = SparkEntry.queries("q_param_sql")(spark, sf("sf0.001"))
    val hand = spark.sql(
      """SELECT o_orderpriority AS grp, count(*) AS n,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |         AS total_cents
        |FROM orders_param WHERE o_totalprice > 5000
        |GROUP BY o_orderpriority ORDER BY grp""".stripMargin)
    assert(bound.queryExecution.optimizedPlan
        .sameResult(hand.queryExecution.optimizedPlan),
      s"bound plan diverged from hand-written:\n" +
        s"${bound.queryExecution.optimizedPlan}\nvs\n" +
        s"${hand.queryExecution.optimizedPlan}")
    // the bound :floor literal must reach the parquet scan
    val p = formatted("q_param_sql")
    assert(p.contains("GreaterThan(o_totalprice,5000"),
      "bound literal not pushed:\n" + p)
  }

  test("q_session_vars folds the variable to a literal — no subquery joins") {
    val p = formatted("q_session_vars")
    // the threshold must be substituted as a constant: a Subquery node in
    // the graded plan would mean the knob is being recomputed per query
    assert(!p.contains("Subquery"),
      "session variable did not fold to a literal:\n" + p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q_sql_script replays the WHILE loop's exact integer trajectory") {
    import org.apache.spark.sql.functions.{col, floor => sqlFloor}
    val row = SparkEntry.queries("q_sql_script")(spark, sf("sf0.001"))
      .collect().head
    val cents = sources.Tables.orders(spark, sf("sf0.001"))
      .select(sqlFloor(col("o_totalprice") * 100).cast("long"))
      .collect().map(_.getLong(0))
    var th = cents.max
    for (_ <- 0 until 5) {
      val kept = cents.filter(_ <= th)
      th = kept.sum / kept.length
    }
    assert(row.getLong(0) == th, s"trimmed mean ${row.getLong(0)} != $th")
    assert(row.getLong(1) == 5L)
    assert(row.getLong(2) == cents.count(_ <= th).toLong)
  }

  test("q_approx_topk: the sketch aggregates partially before the exchange") {
    val p = formatted("q_approx_topk")
    assert(p.contains("approx_top_k"), p)
    // sketch buffer -> ObjectHashAggregate (or SortAggregate fallback)
    // with a partial mode per partition
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"), p)
  }
}
