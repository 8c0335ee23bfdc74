package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession every graft main and the test harness run
  * in, so a tool measures the session the bench and the oracle run use.
  * It carries no tuning confs: harness-resident tuning (r13's AQE floor)
  * did not transfer, so plan-level choices live in the engine. */
object Session {
  /** Core count: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def local(cpus: Int = Session.cpus): SparkSession = {
    val spark = SparkSession.builder()
      // ,2 grants a task-retry budget (local defaults to maxFailures=1):
      // production clusters retry failed tasks, and stream_task_retry
      // grades exactly-once through exactly such a retry
      .master(s"local[$cpus,2]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts was parquet TIMESTAMP(NANOS) in older fixtures, which
      // Spark 4 rejects by default; read it as nanos-since-epoch Long
      // (Tables.events normalizes both physical forms).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
