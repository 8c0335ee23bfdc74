package perfbench

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, LongType, StringType}

import graft.functions.CsvCodec
import graft.operators.Sorting
import graft.sources.RecordGenerator

/** The reference job, the same work as graft.tools.RefBench: each round
  * produces a bounded topic of CSV records to Parquet, then writes three
  * totally ordered copies of it, by id, name and continent. */
final class TopicSort extends Workload {
  val Records = 100000L
  /** (slot, CSV field, key type), as in RefBench. */
  val Keys: Seq[(String, Int, DataType)] =
    Seq(("sort_id", 0, LongType), ("sort_name", 1, StringType), ("sort_continent", 3, StringType))

  private var lastComplete: Option[Int] = None

  private def roundDir(c: Ctx, r: String) = c.dir(s"topic/$r")

  /** The same topic every round, so rounds share their generated code. */
  private def topic(c: Ctx) =
    RecordGenerator.recordsFast(c.spark, Records, seed = c.seed, numPartitions = Ctx.Cores * 4)
      .select(CsvCodec.encode(col("id"), col("name"), col("address"), col("continent")).as("line"))

  private def produce(c: Ctx, dir: String): Unit =
    topic(c).write.mode("overwrite").parquet(s"$dir/source")

  private def sort(c: Ctx, dir: String, slot: String, field: Int, dt: DataType): Unit = {
    val extracted = c.spark.read.parquet(s"$dir/source")
      .withColumn("__key", CsvCodec.fieldAs(col("line"), field, dt))
    Sorting.totalSort(extracted, col("__key")).select(col("line"))
      .write.mode("overwrite").parquet(s"$dir/$slot")
  }

  /** One round as ops; true when every op of it completed. */
  private def round(c: Ctx, dir: String, pass: Int): Boolean =
    c.op("produce", "produce", pass)(produce(c, dir)) &&
      Keys.forall { case (slot, field, dt) => c.op("sort", slot, pass)(sort(c, dir, slot, field, dt)) }

  /** The topic is produced by the loop itself. */
  def prepare(c: Ctx, r: Int): Unit = ()

  def pass(c: Ctx, n: Int): Unit = {
    if (round(c, roundDir(c, s"r$n"), n)) {
      lastComplete.foreach(p => Ctx.deleteTree(roundDir(c, s"r$p")))
      lastComplete = Some(n)
    }
  }

  private var generateS, scalingRatio = Double.NaN

  override def afterTimed(c: Ctx): Unit = {
    c.artifacts ++= Seq("topic_dir" -> lastComplete.map(p => roundDir(c, s"r$p")).getOrElse(""),
      "topic_records" -> Records, "topic_keys" -> Keys.map(_._1))
    if (!c.traced) return
    // generation and encoding alone, through the noop sink
    val gen = (0 until 3).map { _ =>
      val t = System.nanoTime()
      c.materialize(topic(c))
      (System.nanoTime() - t) / 1e9
    }
    generateS = Stats.median(gen)
    // single-threaded baseline: one round on local[1], against the
    // untraced rounds on local[4]
    val fourCores = roundS(c)
    val timed = c.trace
    c.newSession(1)
    c.trace = new Trace(c.spark)
    val ok = round(c, roundDir(c, "single"), -1)
    val single = c.trace.ops.map(_.seconds).sum
    c.trace = timed
    scalingRatio = if (ok) single / fourCores else Double.NaN
  }

  private def roundS(c: Ctx): Double =
    ("produce" +: Keys.map(_._1))
      .map(s => Layers.medianS(c.untracedOps.filter(o => o.ok && o.slot == s))).sum

  def figures(c: Ctx): Map[String, Double] = {
    val ok = c.timedOps.filter(_.ok)
    def rate(slot: String) = Records / Layers.medianS(ok.filter(_.slot == slot))
    Map("produce_rec_per_s" -> rate("produce")) ++
      Keys.map { case (slot, _, _) => s"${slot}_rec_per_s" -> rate(slot) }
  }

  def layers(c: Ctx): Map[String, Double] = {
    val ops = c.timedOps.filter(_.ok)
    val sorts = ops.filter(_.kind == "sort")
    Layers.sortStages(c, sorts) ++ Map(
      "sources.generate_s" -> generateS,
      "sources.scan_rows_per_record" ->
        Layers.stagesOf(c, sorts).map(_.recordsRead).sum.toDouble / (Records * math.max(1, sorts.size)),
      "spark.core_scaling" -> scalingRatio)
  }
}
