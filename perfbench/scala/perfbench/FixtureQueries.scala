package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.SparkEntry

/** graft.Bench in miniature: one query of SparkEntry.queries per
  * family, in a seeded order, each run over the Parquet fixtures and
  * materialized through the noop sink as graft.Bench does. A query's cost
  * here is mostly fixed (jobs, stages, schema inference, planning), so
  * the workload exercises query construction, planning, table reads,
  * placement and streaming with little data volume. */
final class FixtureQueries extends Workload {
  import FixtureQueries._

  private var order: Seq[String] = Nil
  private val buildEndMs = mutable.Map.empty[Int, Long]

  private def run(c: Ctx, name: String, pass: Int): Boolean = {
    val fn = SparkEntry.queries(name)
    c.op("query", name, pass) {
      val df = c.trace.span("build")(fn(c.spark, c.dataDir))
      buildEndMs(c.trace.ops.last.id) = System.currentTimeMillis()
      c.trace.span("execute")(c.materialize(df))
    }
  }

  private val failed = mutable.ArrayBuffer.empty[String]

  def prepare(c: Ctx, r: Int): Unit = order = new scala.util.Random(c.seed).shuffle(Queries)

  /** The warm-up pass is each query's first run, written to Parquet for
    * the oracle compare in run.py (as graft.Verify writes them). */
  override def warmUp(c: Ctx): Unit = {
    order.foreach { name =>
      val ok = c.op("check", name, -1) {
        SparkEntry.queries(name)(c.spark, c.dataDir).coalesce(1).write.mode("overwrite")
          .parquet(c.dir(s"queries/$name"))
      }
      if (!ok) failed += name
    }
    c.artifacts ++= Seq("query_dir" -> c.dir("queries"), "query_data" -> c.dataDir, "queries" -> order,
      "query_failed" -> failed.toSeq,
      "oracle" -> order.map(n => n -> SparkEntry.oracleSql.getOrElse(n, "")).toMap)
  }

  def pass(c: Ctx, n: Int): Unit = order.foreach(run(c, _, n))

  private def ok(c: Ctx) = c.timedOps.filter(_.ok)

  def figures(c: Ctx): Map[String, Double] = {
    val lat = ok(c).map(_.seconds)
    if (lat.isEmpty) Map.empty
    else Map("query_s.geomean" -> Stats.geomean(lat), "query_s.tail" -> Stats.tail(lat)._1)
  }

  def layers(c: Ctx): Map[String, Double] = {
    val ops = ok(c)
    val spans = c.trace.spans.toSeq
    def spanS(name: String) =
      spans.filter(s => s.name == name && ops.exists(_.id == s.op)).map(s => (s.endNs - s.startNs) / 1e9).sum
    val jobs = Layers.jobsOf(c, ops)
    val plans = Layers.plansOf(c, ops)
    val batches = c.trace.batches.asScala.toSeq.filter(b => ops.exists(_.id == b.op))
    val byFamily = ops.groupBy(o => family(o.slot)).map { case (f, os) =>
      f -> os.groupBy(_.slot).values.map(q => Stats.median(q.map(_.seconds))).sum
    }
    Map(
      "queries.build_s" -> Layers.perOp(spanS("build"), ops),
      "queries.execute_s" -> Layers.perOp(spanS("execute"), ops),
      "queries.build_jobs" -> Layers.perOp(jobs.count(j => buildEndMs.get(j.op).exists(j.timeMs <= _)), ops),
      "sources.read_jobs" -> Layers.perOp(jobs.count(_.site.contains("Tables.scala")), ops),
      "plans.planning_ms" -> Layers.perOp(plans.map(_.planningMs).sum, ops),
      "plans.graft_rule_ms" -> Layers.perOp(plans.map(_.graftRuleMs).sum, ops),
      "streaming.batches" -> Layers.perOp(batches.size, ops)) ++
      Phases.map(p => s"streaming.phase_ms.$p" ->
        Layers.perOp(batches.map(_.phases.getOrElse(p, 0L)).sum, ops)) ++
      Queries.map(family).map(f => s"queries.family_s.$f" -> byFamily.getOrElse(f, 0.0))
  }
}

object FixtureQueries {
  /** One query per family: relational, streaming, text, dedup and graph.
    * Each is among its family's cheapest at sf0.01, so a pass fits the
    * run's time, and each kept its latency within about 15% from run to
    * run. A seeded draw within each family made pass_s spread 0.24 and
    * more across seeds (members of like cost differ by up to 40% in a
    * pass, and some streaming queries vary that much on their own), so
    * the seed only orders the pass. */
  val Queries = Seq("dedup_fingerprint", "graph_degrees", "q_time_window",
    "stream_sorted_copy", "text_fingerprint")
  val Phases = Seq("addBatch", "commitOffsets", "getBatch", "latestOffset", "queryPlanning",
    "triggerExecution", "walCommit")

  def family(name: String): String = name.takeWhile(_ != '_')
}
