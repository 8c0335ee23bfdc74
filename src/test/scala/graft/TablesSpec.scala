package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** The events-timestamp normalization contract: whatever physical type
  * the fixture generation wrote (epoch-nanos Long under nanosAsLong, or
  * TIMESTAMP/TIMESTAMP_NTZ micros), `Tables.withTsMs` must produce the
  * SAME canonical columns — `ts` as epoch-nanos Long and `ts_ms` as
  * epoch millis. Round 5's fixture regeneration silently flipped the
  * encoding and broke 33 graded queries at plan time; this spec pins
  * both branches so the next flip is a test failure, not a round
  * incident. It also pins `Tables.parquet`'s footer schema to the one
  * Spark's inference gives, and that reading through it runs no job. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  // 2024-01-01T00:00:07.179575Z — a real fixture value with sub-ms micros
  private val micros = 1704067207179575L

  test("withTsMs normalizes epoch-nanos Long and TIMESTAMP to the same row") {
    val fromLong = Tables.withTsMs(
      Seq((1L, micros * 1000L)).toDF("event_id", "ts"))
      .select("event_id", "ts", "ts_ms")
      .as[(Long, Long, Long)].head()

    val fromTimestamp = Tables.withTsMs(
      Seq((1L, new Timestamp(micros / 1000))).toDF("event_id", "ts")
        // rebuild full micro precision lost by the ms-based constructor
        .withColumn("ts", timestamp_micros(lit(micros))))
      .select("event_id", "ts", "ts_ms")
      .as[(Long, Long, Long)].head()

    assert(fromLong === fromTimestamp)
    assert(fromLong._2 === micros * 1000L, "ts must be epoch NANOS")
    assert(fromLong._3 === micros / 1000L, "ts_ms must truncate to millis")
  }

  test("every fixture table reads with the inferred schema and builds with zero Spark jobs") {
    val dirs = Option(new java.io.File(sf("")).listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("sf")).map(_.getPath).sorted
    assert(dirs.nonEmpty, s"no fixture directories under ${sf("")}")
    for (d <- dirs; name <- Tables.names) {
      assert(jobsDuring { Tables.table(spark, d, name) } === 0, s"$d/$name")
      assert(Tables.table(spark, d, name).schema ===
        spark.read.parquet(s"$d/$name.parquet").schema, s"$d/$name")
    }
  }

  test("Tables.parquet reads a Spark-written directory and its part files with the inferred schema") {
    val d = java.nio.file.Files.createTempDirectory("graft-tables-spec").toString + "/t"
    spark.range(0, 40, 1, 4).selectExpr(
        "id",
        "timestamp_micros(1704067207179575 + id) AS ts",
        "cast(timestamp_micros(1704067207179575 + id) AS timestamp_ntz) AS ntz",
        "array(id, id + 1) AS arr",
        "named_struct('a', cast(id AS string), 'b', array(named_struct('c', id / 3.0))) AS st")
      .write.parquet(d)
    val names = new java.io.File(d).list().toSeq
    assert(names.count(_.startsWith("part-")) === 4 && names.contains("_SUCCESS") &&
      names.exists(n => n.startsWith(".") && n.endsWith(".crc")), s"$names")
    val inferred = spark.read.parquet(d)
    assert(jobsDuring { Tables.parquet(spark, d) } === 0)
    assert(Tables.parquet(spark, d).schema === inferred.schema)
    assert(Seq("ts", "ntz", "arr", "st").map(inferred.schema(_).dataType.typeName) ===
      Seq("timestamp", "timestamp_ntz", "array", "struct"))
    assert(Tables.parquet(spark, d).orderBy("id").collect().toSeq ===
      inferred.orderBy("id").collect().toSeq)
    names.filter(_.startsWith("part-")).foreach { f =>
      assert(Tables.parquet(spark, s"$d/$f").schema ===
        spark.read.parquet(s"$d/$f").schema, f)
    }
  }

  test("Tables.parquet leaves a missing path and a directory with no data file to Spark's own error") {
    val d = java.nio.file.Files.createTempDirectory("graft-tables-empty").toString
    java.nio.file.Files.createFile(java.nio.file.Paths.get(d, "_SUCCESS"))
    Seq(d, s"$d/missing").foreach { p =>
      val ours = intercept[org.apache.spark.sql.AnalysisException] { Tables.parquet(spark, p) }
      val theirs = intercept[org.apache.spark.sql.AnalysisException] { spark.read.parquet(p) }
      assert(ours.getCondition === theirs.getCondition, p)
    }
  }

  test("events loader yields Long ts + ts_ms on the driver fixtures") {
    val e = Tables.events(spark, sf("sf0.001"))
    assert(e.schema("ts").dataType.typeName === "long")
    assert(e.schema("ts_ms").dataType.typeName === "long")
    val bad = e.filter(col("ts_ms") =!= expr("ts div 1000000")).count()
    assert(bad === 0L)
  }
}
