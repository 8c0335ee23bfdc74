package graft

/** The settings of `Session.local` that the driver contract relies on,
  * read back from the specs' session (`Session.local(4)`). */
class SessionSpec extends SparkSpec {

  test("Session.local: task-retry budget, partitions = cores, UTC, nanosAsLong") {
    // ,2 is the retry budget stream_task_retry grades exactly-once through
    assert(spark.sparkContext.master == "local[4,2]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
  }
}
