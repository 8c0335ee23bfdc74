package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{Session, SparkEntry}

/** Round-14 measurement (VERDICT item 5): decompose streaming
  * micro-batch time into its protocol phases — incremental planning,
  * offset WAL, batch execution, state-store commit — for named
  * `stream_*` queries, via the engine's own StreamingQueryProgress.
  * This answers "is the ~55 s streaming family protocol-bound or
  * plan-bound?" with the engine's numbers instead of a hunch.
  * Usage: runMain graft.tools.StreamPhases <sfDir> <name> [name...]
  */
object StreamPhases {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1)
    val spark = Session.local()
    val progresses =
      new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        progresses.add(e.progress)
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    names.foreach { n =>
      progresses.clear()
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(n)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      } catch { case e: Throwable =>
        println(s"[streamphases] $n FAILED: ${e.getMessage}") }
      val wallSec = (System.nanoTime() - t0) / 1e9
      // listener bus is async; give it a beat to drain
      Thread.sleep(500)
      val ps = progresses.asScala.toSeq
      val phases = ps.flatMap(_.durationMs.asScala.toSeq.map {
        case (k, v) => (k, v.longValue()) })
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
      val stateCommit = ps.flatMap(_.stateOperators.toSeq)
        .map(_.commitTimeMs).sum
      val batches = ps.size
      val phaseStr = phases.toSeq.sortBy(-_._2)
        .map { case (k, v) => s"$k=${v}ms" }.mkString(" ")
      println(f"[streamphases] $n%-28s wall=${wallSec}%.2fs batches=$batches " +
        s"$phaseStr stateCommitTotal=${stateCommit}ms")
    }
    spark.stop()
  }
}
