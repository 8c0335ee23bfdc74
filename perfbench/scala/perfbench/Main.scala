package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** One workload of the benchmark: a closed loop with one client. */
trait Workload {
  /** Data preparation, on a fresh session; runs once per set-up round. */
  def prepare(c: Ctx, round: Int): Unit
  /** The first pass after the last set-up round, at the timed region's
    * sizes; by default an ordinary pass. */
  def warmUp(c: Ctx): Unit = pass(c, -1)
  /** One pass over the workload's op mix; every call into the program
    * goes through `c.op`. A pass, once started, runs to its end. */
  def pass(c: Ctx, n: Int): Unit
  /** Untimed work after the timed region: check artifacts, probes. */
  def afterTimed(c: Ctx): Unit = ()
  /** Workload-specific per-layer metrics, from the traced ops. */
  def layers(c: Ctx): Map[String, Double]
  /** Workload-specific user-facing figures (per-layer in the result). */
  def figures(c: Ctx): Map[String, Double]
}

final class Ctx(val seed: Long, val seconds: Double,
                val traced: Boolean, val work: Path, val dataDir: String) {
  var spark: SparkSession = _
  var trace: Trace = _
  /** Extra fields the checks in run.py read from result.json. */
  val artifacts = mutable.LinkedHashMap.empty[String, Any]
  /** Start of the timed region. */
  var timedStartNs = 0L
  val OpTimeoutS = 60.0
  /** No op starts, and none runs on, past this: the run must end and
    * report within run.py's limit even when ops hang. */
  val hardDeadlineNs = System.nanoTime() + (130 * 1e9).toLong

  def dir(name: String): String = work.resolve(name).toString

  def newSession(cores: Int): SparkSession = {
    Option(spark).foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = SparkSession.builder()
      // ,2 = task-retry budget, as in graft.Bench (stream_task_retry
      // grades exactly-once through an injected task failure)
      .master(s"local[$cores,2]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir("spark-local"))
      .config("spark.sql.warehouse.dir", dir("warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Runs one op with a bounded wait: an op still running after
    * `OpTimeoutS`, or at the run's hard deadline, has its jobs cancelled
    * and counts as failed; past the hard deadline ops fail unstarted.
    * Returns whether it completed. */
  def op(kind: String, slot: String, pass: Int)(body: => Unit): Boolean = {
    val o = new Op(trace.ops.size, kind, slot, pass)
    val waitMs = math.min(OpTimeoutS * 1e3, (hardDeadlineNs - System.nanoTime()) / 1e6).toLong
    if (waitMs <= 0) {
      trace.begin(o); trace.end(o)
      o.error = "not started: the run is past its hard deadline"
      return false
    }
    val sc = spark.sparkContext
    val group = trace.groupOf(o)
    val t = new Thread(() => {
      sc.setJobGroup(group, slot, interruptOnCancel = true)
      try { trace.span(slot)(body); o.ok = true }
      catch { case e: Throwable => o.error = s"${e.getClass.getSimpleName}: ${e.getMessage}" }
      finally sc.clearJobGroup()
    }, s"perfbench-op-${o.id}")
    t.setDaemon(true)
    trace.begin(o)
    t.start()
    t.join(waitMs)
    if (t.isAlive) {
      o.error = s"timed out after ${waitMs / 1e3}s"
      sc.cancelJobGroup(group)
      t.interrupt()
      t.join(5000)
      o.ok = false
    }
    trace.end(o)
    if (!o.ok) System.err.println(s"[perfbench] op $slot failed: ${o.error.take(300)}")
    o.ok
  }

  /** Write `df` fully through the noop sink, as graft.Bench does. */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The traced run alternates untraced and traced passes, so its
    * tracing overhead is measured on the same seed, build, JVM and host
    * period; the untraced run traces none. */
  def tracedPass(pass: Int): Boolean = traced && pass % 2 == 1

  private def timed(tracedOnes: Boolean): Seq[Op] =
    trace.ops.toSeq.filter(o => o.startNs >= timedStartNs && tracedPass(o.pass) == tracedOnes)

  /** The timed ops a run reports: in the traced run, those of traced passes. */
  def timedOps: Seq[Op] = timed(traced)

  /** The timed ops of untraced passes. */
  def untracedOps: Seq[Op] = timed(false)
}

object Ctx {
  /** Worker threads of the timed session: local[4]. */
  val Cores = 4

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
  }
}

/** Largest heap occupancy seen right after a collection. */
final class HeapPeak {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile var peak = 0L
  @volatile var on = false
  private val listener: NotificationListener = (n, _) =>
    if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      if (used > peak) peak = used
    }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }
}

object Main {
  val SetupRounds = 3
  val PreconditionS = 10.0
  val PreconditionPasses = 2

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val c = new Ctx(a("seed").toLong, a("seconds").toDouble, a("trace") == "1",
      Paths.get(a("work")).toAbsolutePath, a("data"))
    val jvmStartS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val w: Workload = name match {
      case "topic_sort" => new TopicSort
      case "fixture_queries" => new FixtureQueries
      case "table_commits" => new TableCommits
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val heap = new HeapPeak

    // Set-up: each round starts a fresh session and prepares the data;
    // setup_s is the JVM's own start, the median round and the warm-up.
    val rounds = (0 until SetupRounds).map { r =>
      val t = System.nanoTime()
      c.newSession(Ctx.Cores)
      c.trace = new Trace(c.spark)
      w.prepare(c, r)
      (System.nanoTime() - t) / 1e9
    }
    val t = System.nanoTime()
    w.warmUp(c)
    val warmS = (System.nanoTime() - t) / 1e9
    // More passes, outside set-up and timing: per-op latency keeps
    // falling for several passes in a fresh JVM as the JIT compiles. At
    // least PreconditionPasses, and on until PreconditionS have passed.
    var k = 2
    while ((k - 2 < PreconditionPasses || System.nanoTime() - t < PreconditionS * 1e9) &&
        System.nanoTime() < c.hardDeadlineNs) {
      w.pass(c, -k); k += 1
    }

    System.gc()
    heap.peak = 0L
    heap.on = true
    c.timedStartNs = System.nanoTime()
    // the traced run's passes alternate, so it is timed twice as long
    val timedS = if (c.traced) 2 * c.seconds else c.seconds
    val deadlineNs = c.timedStartNs + (timedS * 1e9).toLong
    var n = 0
    while (System.nanoTime() < math.min(deadlineNs, c.hardDeadlineNs)) {
      val traced = c.tracedPass(n)
      if (traced) c.trace.attach()
      w.pass(c, n)
      if (traced) c.trace.detach()
      n += 1
    }
    heap.on = false
    val ops = c.timedOps
    // every op of the timed region, traced or not, counts as attempted
    val attempted = c.timedOps ++ (if (c.traced) c.untracedOps else Nil)
    w.afterTimed(c)

    val okOps = ops.filter(_.ok)
    val lat = okOps.map(_.seconds)
    val (tail, tailPct) = if (lat.isEmpty) (Double.NaN, Double.NaN) else Stats.tail(lat)
    val endToEnd = Map("setup_s" -> (jvmStartS + Stats.median(rounds) + warmS)) ++ timing(ops)
    val figures = w.figures(c)
    val perLayer =
      if (!c.traced) Map.empty[String, Double]
      else {
        val untraced = timing(c.untracedOps)
        Layers.spark(c, ops) ++ w.layers(c) ++ figures ++ Map(
          "heap_peak_mb" -> heap.peak / 1048576.0,
          "op_s.tail" -> tail,
          "op_s.tail_pct" -> tailPct,
          "op_s.samples" -> lat.size.toDouble,
          "failed_share" -> (attempted.count(!_.ok).toDouble / math.max(1, attempted.size))) ++
          untraced.map { case (m, u) => s"trace.overhead.$m" -> (endToEnd.getOrElse(m, Double.NaN) / u - 1) }
      }
    implicit val formats: Formats = DefaultFormats
    Files.writeString(c.work.resolve("spans.json"), Serialization.write(c.trace.spanRows) + "\n")
    val result = Map(
      "workload" -> name,
      "attempted" -> attempted.size,
      "failed" -> attempted.count(!_.ok),
      "errors" -> attempted.filterNot(_.ok).map(o => s"${o.slot}: ${o.error.take(300)}"),
      "setup_rounds_s" -> rounds,
      "warm_up_s" -> warmS,
      "precondition_passes" -> (k - 2),
      "jvm_start_s" -> jvmStartS,
      "passes" -> n,
      "samples" -> lat.size,
      "end_to_end" -> finite(endToEnd),
      "figures" -> finite(figures),
      "per_layer" -> finite(perLayer),
      "artifacts" -> c.artifacts.toMap)
    Files.writeString(c.work.resolve("result.json"), Serialization.write(result) + "\n")
    c.spark.stop()
  }

  /** pass_s: one pass, each slot at its median latency times its ops per
    * pass, which weights heavy ops; op_s.geomean weights every op equally. */
  def timing(ops: Seq[Op]): Map[String, Double] = {
    val ok = ops.filter(_.ok)
    if (ok.isEmpty) return Map.empty
    Map(
      "pass_s" -> ok.groupBy(_.slot).values
        .map(os => Stats.median(os.map(_.seconds)) * os.size / os.map(_.pass).distinct.size).sum,
      "op_s.geomean" -> Stats.geomean(ok.map(_.seconds)))
  }

  /** A metric that could not be measured is written as null; run.py
    * then reports it missing. */
  def finite(m: Map[String, Double]): Map[String, Any] =
    m.map { case (k, v) => k -> (if (v.isFinite) v else null) }
}
