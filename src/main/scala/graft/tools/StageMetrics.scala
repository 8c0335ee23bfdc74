package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Execution observability ≙ the reference's pprof endpoints
  * (`cmd/sorter/main.go:30-36`, `cmd/producer/main.go:27-32`): where the
  * reference exposes heap/CPU profiles over HTTP, a Spark job's
  * first-class runtime evidence is per-stage task metrics. This listener
  * captures, per completed stage: wall time, executor run/CPU time,
  * shuffle bytes read/written, memory+disk spill, and peak execution
  * memory — the numbers that tell you WHICH exchange or sort is the
  * bottleneck and whether it spilled, i.e. exactly what the reference's
  * "Phase 1 ... / Phase 2 ..." throughput logs narrate by hand
  * (`external_sort.go:158-198`).
  *
  * Usage:
  * {{{
  *   val sm = StageMetrics.attach(spark)
  *   // ... run the job(s) ...
  *   sm.summary().foreach(println)   // one line per stage, + a TOTAL line
  *   sm.detach()
  * }}}
  * Used by RefBench under `--stage-metrics`; tests assert spill-free
  * fixture-scale sorts through it.
  */
final class StageMetrics private (spark: SparkSession) {

  import StageMetrics.StageRow

  private val rows = new ConcurrentLinkedQueue[StageRow]()

  private val listener = new SparkListener {
    override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
      val si = ev.stageInfo
      val m = si.taskMetrics
      val wall = (for {s <- si.submissionTime; c <- si.completionTime}
        yield c - s).getOrElse(0L)
      rows.add(StageRow(si.stageId,
        si.name.takeWhile(_ != '\n'), si.numTasks, wall,
        m.executorRunTime, m.executorCpuTime / 1000000L,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled, m.diskBytesSpilled,
        m.peakExecutionMemory))
    }
  }

  spark.sparkContext.addSparkListener(listener)

  /** Completed-stage rows (drains the async listener bus first, so a
    * read right after an action sees that action's final stages). */
  def stages: Seq[StageRow] = {
    org.apache.spark.graftbridge.CoreBridge
      .waitUntilListenerBusEmpty(spark.sparkContext)
    rows.asScala.toSeq.sortBy(_.stageId)
  }

  /** True iff any completed stage spilled to memory or disk. */
  def spilled: Boolean =
    stages.exists(r => r.spillMemB > 0 || r.spillDiskB > 0)

  /** Human-readable per-stage lines plus a TOTAL roll-up. */
  def summary(): Seq[String] = {
    val ss = stages
    val lines = ss.map { r =>
      f"stage ${r.stageId}%3d ${r.numTasks}%4d tasks wall=${r.wallMs / 1000.0}%7.2fs " +
        f"run=${r.runMs / 1000.0}%8.2fs cpu=${r.cpuMs / 1000.0}%8.2fs " +
        f"shufR=${r.shuffleReadB / 1e6}%8.1fMB shufW=${r.shuffleWriteB / 1e6}%8.1fMB " +
        f"spill=${(r.spillMemB + r.spillDiskB) / 1e6}%8.1fMB ${r.name}"
    }
    val total =
      f"TOTAL ${ss.size}%5d stages wall=${ss.map(_.wallMs).sum / 1000.0}%7.2fs " +
        f"run=${ss.map(_.runMs).sum / 1000.0}%8.2fs cpu=${ss.map(_.cpuMs).sum / 1000.0}%8.2fs " +
        f"shufR=${ss.map(_.shuffleReadB).sum / 1e6}%8.1fMB " +
        f"shufW=${ss.map(_.shuffleWriteB).sum / 1e6}%8.1fMB " +
        f"spill=${ss.map(r => r.spillMemB + r.spillDiskB).sum / 1e6}%8.1fMB"
    lines :+ total
  }

  def detach(): Unit = spark.sparkContext.removeSparkListener(listener)
}

object StageMetrics {
  /** One completed stage's wall time and task metrics. */
  final case class StageRow(stageId: Int, name: String, numTasks: Int,
                            wallMs: Long, runMs: Long, cpuMs: Long,
                            shuffleReadB: Long, shuffleWriteB: Long,
                            spillMemB: Long, spillDiskB: Long,
                            peakExecMemB: Long)

  def attach(spark: SparkSession): StageMetrics = new StageMetrics(spark)
}
