package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics computed from what the traced run's listeners
  * attributed to each op. */
object Layers {
  def stagesOf(c: Ctx, ops: Seq[Op]): Seq[StageRec] = {
    val ids = ops.map(_.id).toSet
    c.trace.stages.asScala.toSeq.filter(s => ids(s.op))
  }

  def plansOf(c: Ctx, ops: Seq[Op]): Seq[PlanRec] = {
    val ids = ops.map(_.id).toSet
    c.trace.plans.asScala.toSeq.filter(p => ids(p.op))
  }

  def jobsOf(c: Ctx, ops: Seq[Op]): Seq[JobRec] = {
    val ids = ops.map(_.id).toSet
    c.trace.jobs.asScala.values.filter(j => ids(j.op)).toSeq
  }

  def perOp(total: Double, ops: Seq[Op]): Double = total / math.max(1, ops.size)

  /** Spark execution, per op, over every traced op of the timed region. */
  def spark(c: Ctx, ops: Seq[Op]): Map[String, Double] = {
    val st = stagesOf(c, ops)
    val wallMs = ops.map(o => (o.endNs - o.startNs) / 1e6).sum
    val runMs = st.map(_.runMs).sum.toDouble
    Map(
      "spark.jobs" -> perOp(jobsOf(c, ops).size, ops),
      "spark.stages" -> perOp(st.size, ops),
      "spark.tasks" -> perOp(st.map(_.tasks).sum, ops),
      "spark.single_task_stage_share" ->
        (if (st.isEmpty) 0.0 else st.count(_.tasks == 1).toDouble / st.size),
      "spark.core_busy" -> (if (wallMs <= 0) 0.0 else runMs / (wallMs * Ctx.Cores)),
      "spark.cpu_per_run" -> (if (runMs <= 0) 0.0 else st.map(_.cpuNs).sum / 1e6 / runMs),
      "spark.shuffle_write_bytes" -> perOp(st.map(_.shuffleWrite).sum, ops),
      "spark.shuffle_read_bytes" -> perOp(st.map(_.shuffleRead).sum, ops),
      "spark.spill_bytes" -> perOp(st.map(_.spill).sum, ops),
      "spark.gc_ms" -> perOp(st.map(_.gcMs).sum, ops),
      // wall time of the stages that write files, per op that writes
      "sources.write_s" -> {
        val w = st.filter(_.bytesOut > 0)
        w.map(s => s.endMs - s.submitMs).sum / 1e3 / math.max(1, w.map(_.op).distinct.size)
      })
  }

  /** Length of the union of [start, end) intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var reach = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (e > reach) { total += e - math.max(s, reach); reach = e }
    }
    total
  }

  /** A total sort runs a range-boundary sampling job (no shuffle), a map
    * stage (scan, key extraction, shuffle write) and a reduce stage
    * (shuffle read, sort, write). Each is timed as stage wall time, mean
    * per sort op; driver time is op wall time not covered by any stage. */
  def sortStages(c: Ctx, sorts: Seq[Op]): Map[String, Double] = {
    val st = stagesOf(c, sorts)
    def wall(f: StageRec => Boolean) =
      perOp(st.filter(f).map(s => s.endMs - s.submitMs).sum / 1e3, sorts)
    val driverS = sorts.map { o =>
      val mine = st.filter(_.op == o.id).map(s => (s.submitMs, s.endMs))
      (o.endMs - o.startMs - covered(mine)) / 1e3
    }
    val pl = plansOf(c, sorts)
    Map(
      "operators.sort.sample_s" -> wall(s => s.shuffleRead == 0 && s.shuffleWrite == 0),
      "operators.sort.map_s" -> wall(s => s.shuffleWrite > 0),
      "operators.sort.reduce_s" -> wall(s => s.shuffleRead > 0 && s.shuffleWrite == 0),
      "operators.sort.driver_s" -> perOp(driverS.sum, sorts),
      "operators.sort.time_ms" -> perOp(pl.map(_.sortTimeMs).sum, sorts),
      "operators.sort.peak_mem_bytes" -> (if (pl.isEmpty) 0.0 else pl.map(_.sortPeakMem).max.toDouble),
      "operators.sort.spill_bytes" -> perOp(pl.map(_.sortSpill).sum, sorts))
  }

  def medianS(ops: Seq[Op]): Double =
    if (ops.isEmpty) Double.NaN else Stats.median(ops.map(_.seconds))
}
