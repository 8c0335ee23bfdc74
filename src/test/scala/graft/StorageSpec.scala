package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Storage-layout levers for 100 TB deployments: bucketing (co-located,
  * shuffle-free joins) and partitioned writes (partition-pruned scans).
  * These are assertions about the PHYSICAL PLAN, not just results — the
  * whole point is which exchanges/scans disappear. */
class StorageSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("bucketed tables join without a shuffle exchange") {
    val wh = Files.createTempDirectory("graft-wh").toString
    val o = Tables.orders(spark, sf("sf0.001")).select("o_orderkey", "o_totalprice")
    val l = Tables.lineitem(spark, sf("sf0.001")).select("l_orderkey", "l_quantity")
    o.write.mode("overwrite").option("path", s"$wh/o_b")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("o_bucketed")
    l.write.mode("overwrite").option("path", s"$wh/l_b")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("l_bucketed")

    // hint("merge") forces a sort-merge join — at fixture scale the
    // planner would broadcast these tiny tables and never consult the
    // buckets; at 100 TB SMJ is what actually happens, and the buckets
    // are what delete its exchanges.
    val joined = spark.table("o_bucketed").hint("merge")
      .join(spark.table("l_bucketed"),
        col("o_orderkey") === col("l_orderkey"))
    val n = joined.count()
    assert(n === Tables.lineitem(spark, sf("sf0.001"))
      .join(Tables.orders(spark, sf("sf0.001")),
        col("l_orderkey") === col("o_orderkey")).count())
    // co-located bucketed join: no shuffle on either side
    val p = plan(joined)
    assert(p.contains("SortMergeJoin"), s"expected SMJ in:\n$p")
    assert(!p.contains("Exchange"),
      s"bucketed join must not shuffle; plan was:\n$p")
  }

  test("partitioned parquet scans prune partitions on the filter") {
    val dir = Files.createTempDirectory("graft-part").toString
    Tables.events(spark, sf("sf0.001"))
      .select("event_id", "user_id", "event_type", "value")
      .write.mode("overwrite").partitionBy("event_type").parquet(dir)

    val filtered = spark.read.parquet(dir)
      .filter(col("event_type") === "purchase")
    val p = plan(filtered)
    // partition pruning shows in the scan's PartitionFilters, and only
    // the matching directory is read
    assert(p.contains("PartitionFilters") && p.contains("event_type"),
      s"expected partition filters in:\n$p")
    assert(filtered.count() ===
      Tables.events(spark, sf("sf0.001"))
        .filter(col("event_type") === "purchase").count())
  }

  test("compaction rewrites a fragmented directory into bounded file counts, losslessly") {
    import graft.operators.Layout
    val frag = Files.createTempDirectory("graft-frag").toString
    val out = Files.createTempDirectory("graft-compact").toString
    val ev = Tables.events(spark, sf("sf0.001"))
      .select("event_id", "user_id", "event_type", "value")
    ev.repartition(32).write.mode("overwrite").parquet(frag)
    def parts(dir: String) = new java.io.File(dir).listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts(frag) === 32, "fixture should start fragmented")
    Layout.compact(spark, frag, out, targetFiles = 4)
    assert(parts(out) <= 4, s"expected <=4 files, got ${parts(out)}")
    val back = spark.read.parquet(out)
    assert(back.count() === ev.count())
    assert(back.except(ev).isEmpty && ev.except(back).isEmpty)
    // maxRecordsPerFile splits an over-large output file
    val capped = Files.createTempDirectory("graft-capped").toString
    Layout.compact(spark, frag, capped, targetFiles = 1, maxRecordsPerFile = 100)
    assert(parts(capped) > 1, "100-row cap must split the single output")
    assert(spark.read.parquet(capped).count() === ev.count())
  }

  test("JSONL roundtrip is byte-faithful for adversarial text (newlines, quotes, unicode)") {
    import spark.implicits._
    val nasty = Seq(
      (1L, "line one\nline two\r\nthird"),
      (2L, "quote \" and backslash \\ and tab\t end"),
      (3L, "unicode: héllo wörld — 中文 🙂"),
      (4L, "{\"fake\": \"json\"} inside, plus , commas"),
      (5L, ""))
      .toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-jsonl").toString + "/docs"
    nasty.write.mode("overwrite").json(dir)
    val back = spark.read.schema(nasty.schema).json(dir)
    // one record per line even with embedded newlines (they're escaped)
    val lines = spark.read.text(dir).count()
    assert(lines === 5, s"expected 5 JSONL lines, got $lines")
    assert(back.except(nasty).isEmpty && nasty.except(back).isEmpty,
      "JSONL roundtrip must be lossless")
    // schema-on-read: names and types come from the explicit schema (no
    // inference; JSON reads are always nullable, so compare name+type)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      nasty.schema.fields.map(f => (f.name, f.dataType)).toSeq)
  }
}
