package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into the program. `slot` names the position in the
  * workload's pass (a query name, `upsert3`, `sort_id`); `kind` groups
  * slots for per-layer metrics (`sort`, `commit`, `query`). */
final class Op(val id: Int, val kind: String, val slot: String, val pass: Int) {
  @volatile var startNs = 0L
  @volatile var endNs = 0L
  @volatile var startMs = 0L
  @volatile var endMs = 0L
  @volatile var ok = false
  @volatile var error = ""
  def seconds: Double = (endNs - startNs) / 1e9
}

final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startNs: Long, endNs: Long)

/** What one Spark stage cost, attributed to the op that ran it. */
final case class StageRec(op: Int, tasks: Int, submitMs: Long, endMs: Long,
                          runMs: Long, cpuNs: Long, gcMs: Long,
                          shuffleWrite: Long, shuffleRead: Long, spill: Long,
                          recordsRead: Long, bytesOut: Long)

final case class JobRec(op: Int, site: String, timeMs: Long)

/** What one SQL execution's plan reported, attributed to its op. */
final case class PlanRec(op: Int, planningMs: Double, graftRuleMs: Double,
                         sortTimeMs: Long, sortPeakMem: Long, sortSpill: Long,
                         filesRead: Long)

final case class BatchRec(op: Int, phases: Map[String, Long])

/** Spans are always kept (they are how ops are timed). The Spark, SQL
  * and streaming listeners are registered only around the traced passes
  * of the traced run. They attribute each event to an op through its job
  * group, or, for events without one (streaming micro-batches run under
  * their own group), to the op running at the event's time — the loop has
  * one client, so at most one op runs at a time. */
final class Trace(val spark: SparkSession) {
  private val t0 = System.nanoTime()
  val ops = mutable.ArrayBuffer.empty[Op]
  val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var current: Op = _
  private var nextSpan = 0
  private val openSpans = mutable.Stack.empty[Int]

  val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRec]()
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[PlanRec]()
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[BatchRec]()
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageOp = new ConcurrentHashMap[Int, Int]()

  def groupOf(op: Op) = s"perfbench-${op.id}"

  private def opFor(group: String, timeMs: Long): Int = {
    if (group != null && group.startsWith("perfbench-"))
      group.stripPrefix("perfbench-").toInt
    else opAt(timeMs)
  }

  private def opAt(timeMs: Long): Int = synchronized {
    val cur = current
    if (cur != null && timeMs >= cur.startMs) cur.id
    else ops.reverseIterator.find(o => o.startMs <= timeMs).map(_.id).getOrElse(-1)
  }

  def span[T](name: String)(body: => T): T = {
    val (id, parent) = synchronized {
      val id = nextSpan; nextSpan += 1
      (id, openSpans.headOption.getOrElse(-1))
    }
    val op = Option(current).map(_.id).getOrElse(-1)
    synchronized(openSpans.push(id))
    val s = System.nanoTime()
    try body
    finally {
      val e = System.nanoTime()
      synchronized {
        openSpans.pop()
        spans += Span(id, name, parent, op, s - t0, e - t0)
      }
    }
  }

  def begin(op: Op): Unit = synchronized {
    ops += op
    current = op
    op.startMs = System.currentTimeMillis()
    op.startNs = System.nanoTime()
  }

  def end(op: Op): Unit = synchronized {
    op.endNs = System.nanoTime()
    op.endMs = System.currentTimeMillis()
    current = null
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = e.properties
      val group = if (props == null) null else props.getProperty("spark.jobGroup.id")
      // a stage's name is its job's short call site, "parquet at Tables.scala:20"
      val site = e.stageInfos.map(_.name).mkString(" ")
      val op = opFor(group, e.time)
      jobs.put(e.jobId, JobRec(op, site, e.time))
      e.stageIds.foreach(s => stageOp.put(s, op))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val op = Option(stageOp.get(si.stageId)).map(_.intValue)
        .getOrElse(opAt(si.submissionTime.getOrElse(0L)))
      val m = si.taskMetrics
      if (m != null) stages.add(StageRec(op, si.numTasks,
        si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val planningMs = phases.values.map(_.durationMs).sum.toDouble
    val at = if (phases.isEmpty) System.currentTimeMillis() else phases.values.map(_.endTimeMs).max
    val graftMs = qe.tracker.rules.collect {
      case (rule, s) if rule.startsWith("graft.") => s.totalTimeNs / 1e6
    }.sum
    var sortTime, sortPeak, sortSpill, filesRead = 0L
    def metric(p: SparkPlan, k: String) = p.metrics.get(k).map(_.value).getOrElse(0L)
    def walk(p: SparkPlan): Unit = {
      p match {
        case s: SortExec =>
          sortTime += metric(s, "sortTime"); sortPeak = sortPeak max metric(s, "peakMemory")
          sortSpill += metric(s, "spillSize")
        case f: FileSourceScanExec => filesRead += metric(f, "numFiles")
        case _ =>
      }
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case other => other.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(qe.executedPlan)
    plans.add(PlanRec(opAt(at), planningMs, graftMs, sortTime, sortPeak, sortSpill, filesRead))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val at = try java.time.Instant.parse(p.timestamp).toEpochMilli
        catch { case _: Exception => System.currentTimeMillis() }
      batches.add(BatchRec(opAt(at),
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  private def sqlListeners =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    sqlListeners.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until every queued listener event has been handled, so no
    * event of the traced pass is lost, then removes the listeners. */
  def detach(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    sqlListeners.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def spanRows: Seq[Map[String, Any]] = synchronized {
    spans.sortBy(_.id).map { s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs)
    }.toSeq
  }
}
