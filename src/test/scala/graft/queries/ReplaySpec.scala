package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.ParityQueries._
import graft.sources.Tables

/** The replay source of the staged stream queries: staged once per JVM,
  * read back with the schema of its files' footers, laid out
  * deterministically. */
class ReplaySpec extends SparkSpec {

  private lazy val dir = sf("sf0.001")

  private def perFileRows(st: Staged): Seq[(String, Long)] =
    new java.io.File(st.dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      .map(_.getName).sorted.toSeq
      .map(f => (if (f.startsWith("part-")) f.take(10) else f) ->
        spark.read.parquet(s"${st.dir}/$f").count())

  test("a staged replay builds its stream with zero Spark jobs; inferring its schema runs one") {
    val input = EventFiles(Some(3))
    val st = replay(spark, dir, input)
    assert(jobsDuring { replay(spark, dir, input).stream(spark) } === 0)
    // inferring the same directory's schema is a Spark job, which the
    // counter sees: the zero above is not a counter that never counts
    assert(jobsDuring { spark.read.parquet(st.dir).schema } === 1)
  }

  test("replay stages each input once: same dir, files and rows on every call") {
    val pinned = Seq(
      EventFiles(Some(3)) -> Seq("part-00000" -> 334L, "part-00001" -> 333L,
        "part-00002" -> 333L),
      EventFiles(Some(4)) -> Seq("part-00000" -> 250L, "part-00001" -> 250L,
        "part-00002" -> 250L, "part-00003" -> 250L),
      EventTertiles -> Seq("slice-1.parquet" -> 344L, "slice-2.parquet" -> 354L,
        "slice-3.parquet" -> 302L))
    pinned.foreach { case (input, files) =>
      val a = replay(spark, dir, input)
      val b = replay(spark, dir, input)
      assert(a === b, s"$input staged twice")
      assert(perFileRows(a) === files, s"$input")
      assert(perFileRows(b) === files, s"$input")
    }
  }

  test("a staged stream declares the inferred schema, also on an empty landing dir") {
    Seq(EventFiles(Some(3)), EventFiles(None), EventFiles(Some(3), Some("click")),
        EventTertiles, EventSlices(Seq("event_id", "ts_ms", "user_id"), Some("click")),
        EventSlices(Seq("event_id", "ts_ms", "event_type", "value"), plantLate = true),
        DocSlices).foreach { input =>
      val st = replay(spark, dir, input)
      val inferred = input.view(spark.read.parquet(st.dir)).schema
      assert(st.stream(spark).schema === inferred, s"$input")
      // a restart query's landing dir is empty when its first run starts
      val landing = java.nio.file.Files.createTempDirectory("graft-replay-land").toString
      assert(st.stream(spark, oneFilePerTrigger = false, landing).schema === inferred,
        s"$input")
    }
  }

  test("dayTertile puts every row in one of batches 1-3 with ordered, disjoint day ranges") {
    val ev = Tables.events(spark, dir)
    val total = ev.count()
    Seq(ev, ev.filter(col("event_type") === "click")).foreach { rows =>
      val bands = dayTertile(rows, ev)
        .groupBy(col("batch"))
        .agg(count(lit(1)).as("n"), min(expr("ts_ms div 86400000")).as("lo"),
          max(expr("ts_ms div 86400000")).as("hi"))
        .orderBy("batch").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(bands.map(_._1).toSeq === Seq(1L, 2L, 3L))
      assert(bands.map(_._2).sum === rows.count())
      bands.sliding(2).foreach { case Array(a, b) =>
        assert(a._3 <= a._4 && a._4 < b._3, s"bands overlap: $a $b")
      }
    }
    assert(dayTertile(ev, ev).count() === total)
  }
}
