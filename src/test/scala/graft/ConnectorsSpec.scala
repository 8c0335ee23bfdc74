package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}

import graft.functions.CsvCodec
import graft.operators.Sorting
import graft.sources.{AvroIngest, AvroSplitProvider, MemTopic, MemTopicProvider, RecordGenerator}

/** EP2 through the file and MemTopic transports: CSV lines in → key
  * extraction → total sort → sink — the reference pipeline with
  * Parquet/text or the in-heap topic standing in for the Kafka topic
  * (connector jar absent in this offline build). */
class ConnectorsSpec extends SparkSpec {
  import spark.implicits._

  test("CSV line file source -> parse -> sort -> parquet sink round trip") {
    val in = Files.createTempDirectory("graft-lines").toString
    val out = Files.createTempDirectory("graft-sorted").toString
    RecordGenerator.csvLines(spark, 1000, seed = 5)
      .select("line").write.mode("overwrite").text(in)

    val lines = spark.read.text(in).select(col("value").as("line"))
    val decoded = CsvCodec.decode(lines, col("line"), Seq(
      "id" -> IntegerType, "name" -> StringType,
      "address" -> StringType, "continent" -> StringType))
    Sorting.totalSort(decoded, col("id"), col("name")).select("line")
      .write.mode("overwrite").parquet(out)

    val sorted = spark.read.parquet(out)
    assert(sorted.count() === 1000)
    // payload passthrough: identical multiset of raw lines
    val inBag = lines.as[String].collect().sorted
    val outBag = sorted.as[String].collect().sorted
    assert(inBag.sameElements(outBag))
  }

  /** Bounded (offset-capped) batch read of a topic's values. */
  private def topicLines(topic: String) =
    spark.read.format(classOf[MemTopicProvider].getName)
      .option("topic", topic).load()
      .select(col("value").as("line"))

  test("MemoryStream of CSV lines drives the topic sortedCopy — non-file transport") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Streaming

    val lines = Seq("3,cc", "1,aa", "2,bb", "5,ee", "4,dd", "10,jj", "7,gg")
    val ms = MemoryStream[String](spark)
    ms.addData(lines)
    val decoded = CsvCodec.decode(ms.toDF().toDF("line"), col("line"),
      Seq("id" -> IntegerType, "name" -> StringType))

    MemTopic.create("ms_sorted", numPartitions = 8)
    try {
      val ckpt = Files.createTempDirectory("graft-ms-ckpt").toString
      Streaming.sortedCopy(decoded, "ms_sorted", ckpt, Seq(col("id")))
        .awaitTermination()

      // (partition, offset) order is the validation consumer's view;
      // the sorted copy makes it the global key order
      val ids = spark.read.format(classOf[MemTopicProvider].getName)
        .option("topic", "ms_sorted").load()
        .orderBy("partition", "offset")
        .select(CsvCodec.fieldAs(col("value"), 0, IntegerType))
        .as[Int].collect()
      assert(ids.toSeq === Seq(1, 2, 3, 4, 5, 7, 10))
      // payload passthrough: exactly the fed lines reach the topic
      assert(topicLines("ms_sorted").as[String].collect().sorted.toSeq ===
        lines.sorted)
    } finally MemTopic.drop("ms_sorted")
  }

  test("MemTopic DSv2: produce -> bounded scan -> total sort -> sink, reference EP1+EP2") {
    MemTopic.create("source", numPartitions = 3)
    // ≥ shuffle partitions: the sink maps write task i → topic
    // partition i % n, so with n ≥ tasks the mapping is the identity
    // and (partition, offset) read order = the sort's range order —
    // the partition-id-prefixed "single ordered topic" form from
    // SURVEY §2.1 O9.
    MemTopic.create("sorted_id", numPartitions = 8)
    try {
      // EP1: produce generated CSV records into the partitioned topic
      MemTopic.write(
        RecordGenerator.csvLines(spark, 600, seed = 11).select("line"), "source")

      // EP2: bounded scan -> key extraction -> total sort -> sink
      val src = topicLines("source")
      val sorted = Sorting.totalSort(
        CsvCodec.decode(src, col("line"), Seq(
          "id" -> IntegerType, "name" -> StringType,
          "address" -> StringType, "continent" -> StringType)),
        col("id"), col("name"))
      MemTopic.write(sorted.select("line"), "sorted_id")

      // offset-bounded read (the drain-heuristic replacement): every
      // ACTION plans a fresh consistent [0, latest-at-plan) snapshot
      // and terminates — it never tail-chases or truncates on a slow
      // source like the reference's 5s-idle heuristic can
      val bounded = topicLines("sorted_id")
      assert(bounded.count() === 600)

      // multiset conservation through both topic hops
      val inBag = topicLines("source").as[String].collect().sorted
      val outBag = bounded.as[String].collect().sorted
      assert(inBag.sameElements(outBag))

      MemTopic.append("sorted_id", 0, Seq("999999,zzz,late row,Asia"))
      assert(bounded.count() === 601,
        "the next action's plan captures the new end offsets")

      // the sorted topic is globally ordered when read back in
      // (partition, offset) order — the validation consumer's view
      val ids = spark.read.format(classOf[MemTopicProvider].getName)
        .option("topic", "sorted_id").load()
        .filter(col("value") =!= "999999,zzz,late row,Asia")
        .orderBy("partition", "offset")
        .select(CsvCodec.fieldAs(col("value"), 0, IntegerType))
        .as[Int].collect()
      assert(ids.length === 600)
      assert(ids.sameElements(ids.sorted), "global total order across the topic")
    } finally { MemTopic.drop("source"); MemTopic.drop("sorted_id") }
  }

  test("MemTopic readNumbered: pos is the (partition, offset) ordinal from the end offsets") {
    MemTopic.create("numbered", numPartitions = 4)
    try {
      // uneven partitions, partition 1 empty
      MemTopic.append("numbered", 0, Seq("a0", "a1", "a2"))
      MemTopic.append("numbered", 2, Seq("c0", "c1", "c2", "c3", "c4"))
      MemTopic.append("numbered", 3, Seq("d0", "d1"))
      var numbered: org.apache.spark.sql.DataFrame = null
      assert(jobsDuring { numbered = MemTopic.readNumbered(spark, "numbered") } === 0,
        "the end offsets come from the driver, not from a Spark job")
      // appended after the end offsets were read, into the empty and a
      // non-empty partition
      MemTopic.append("numbered", 1, Seq("late-b"))
      MemTopic.append("numbered", 3, Seq("late-d"))
      assert(topicLines("numbered").count() === 12)

      val got = numbered.orderBy("pos")
        .select("value", "partition", "offset", "pos")
        .as[(String, Int, Long, Long)].collect().toSeq
      assert(got.map(_._4) === (1L to 10L), "pos is dense 1..N")
      assert(got.map(_._1) ===
        Seq("a0", "a1", "a2", "c0", "c1", "c2", "c3", "c4", "d0", "d1"),
        "pos order is (partition, offset) order; late rows are not read")
    } finally MemTopic.drop("numbered")
  }

  test("MemTopic MicroBatchStream: offset-tracked micro-batches, resume from checkpoint") {
    import java.nio.file.Files
    import org.apache.spark.sql.streaming.Trigger

    MemTopic.create("mbs", numPartitions = 2)
    try {
      MemTopic.append("mbs", 0, Seq("a", "b"))
      MemTopic.append("mbs", 1, Seq("c"))
      val out = Files.createTempDirectory("graft-mbs-out").toString
      val ckpt = Files.createTempDirectory("graft-mbs-ckpt").toString
      def run(): Unit = {
        val q = MemTopic.readStream(spark, "mbs")
          .writeStream.trigger(Trigger.AvailableNow())
          .option("checkpointLocation", ckpt)
          .format("parquet").option("path", out).start()
        q.awaitTermination()
      }
      run()
      assert(spark.read.parquet(out).count() === 3)
      // rows appended AFTER the first bounded run: a restart on the SAME
      // checkpoint must read exactly the delta — committed offsets
      // resume, nothing is re-read, nothing is lost
      MemTopic.append("mbs", 0, Seq("d"))
      MemTopic.append("mbs", 1, Seq("e", "f"))
      run()
      val all = spark.read.parquet(out).select("line").as[String].collect().sorted
      assert(all.toSeq === Seq("a", "b", "c", "d", "e", "f"),
        "second run must append exactly the post-checkpoint delta")
    } finally MemTopic.drop("mbs")
  }

  test("AvroSplit: block-split read is exact for EVERY split size") {
    val d = java.nio.file.Files.createTempDirectory("graft-avrosplit").toFile
    val rows = (1L to 500L).map(i => (i, s"name-$i", i % 5, i * 101L)).toSeq
    // one file, tiny sync interval -> many deflate blocks
    AvroIngest.writeCustomerAvro(rows, new java.io.File(d, "all.avro"),
      syncIntervalBytes = 64)
    val len = new java.io.File(d, "all.avro").length()
    // sweep split sizes across the block-size scale: boundaries land
    // mid-block, exactly on syncs, and beyond EOF — the union must be
    // exact (no lost or doubled row) and small splits must fan out
    Seq(128L, 1024L, 4096L, len, 2 * len).foreach { sb =>
      val df = spark.read.format(classOf[AvroSplitProvider].getName)
        .option("path", d.getPath).option("splitBytes", sb).load()
      val got = df.orderBy("c_custkey")
        .as[(Long, String, Long, Long)].collect().toSeq
      assert(got === rows, s"splitBytes=$sb roundtrip diverged")
      if (sb <= 1024) assert(df.rdd.getNumPartitions > 1,
        s"splitBytes=$sb must plan >1 task over the ${len}B file")
    }
    // inferred schema: long/string fields, non-null (no unions here)
    val sch = spark.read.format(classOf[AvroSplitProvider].getName)
      .option("path", d.getPath).load().schema
    assert(sch.map(_.dataType.simpleString) ===
      Seq("bigint", "string", "bigint", "bigint"))
  }

  test("AvroSplit: column pruning reaches the scan; values exact under splits") {
    val d = java.nio.file.Files.createTempDirectory("graft-avroprune").toFile
    val rows = (1L to 300L).map(i => (i, s"name-$i", i % 7, i * 13L)).toSeq
    AvroIngest.writeCustomerAvro(rows, new java.io.File(d, "all.avro"),
      syncIntervalBytes = 64)
    val df = spark.read.format(classOf[AvroSplitProvider].getName)
      .option("path", d.getPath).option("splitBytes", 1024L).load()
      .select("acctbal_cents", "c_custkey") // reversed order on purpose
    // the projection must narrow the DSv2 scan's ReadSchema, not sit
    // above a full-width scan
    val readSchemas = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.readSchema().fieldNames.toSeq
    }
    assert(readSchemas.nonEmpty && readSchemas.forall(_.toSet ===
      Set("c_custkey", "acctbal_cents")), s"ReadSchema not pruned: $readSchemas")
    val got = df.orderBy("c_custkey").as[(Long, Long)].collect().toSeq
    assert(got === rows.map(r => (r._4, r._1)), "pruned values diverged")
  }

  test("AvroSplit: array<float> fields decode exactly across split boundaries") {
    val d = java.nio.file.Files.createTempDirectory("graft-avroarr").toFile
    val rows = (1L to 200L).map(i =>
      (i, (0 until 16).map(j => (i * 31 + j * 7).toFloat / 3f), i.toInt % 4)).toSeq
    AvroIngest.writeEmbeddingAvro(rows, new java.io.File(d, "all.avro"),
      syncIntervalBytes = 256)
    val df = spark.read.format(classOf[AvroSplitProvider].getName)
      .option("path", d.getPath).option("splitBytes", 2048L).load()
    assert(df.schema.map(_.dataType.simpleString) ===
      Seq("bigint", "array<float>", "int"))
    assert(df.rdd.getNumPartitions > 1, "array fixture must split >1 task")
    val got = df.orderBy("vec_id")
      .as[(Long, Seq[Float], Int)].collect().toSeq
    assert(got === rows, "array roundtrip diverged")
    // pruning composes with arrays: project ONLY the array column
    val onlyArr = spark.read.format(classOf[AvroSplitProvider].getName)
      .option("path", d.getPath).option("splitBytes", 2048L).load()
      .select("embedding")
    val rs = onlyArr.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.readSchema().fieldNames.toSeq
    }
    assert(rs.forall(_ === Seq("embedding")), s"array pruning failed: $rs")
    assert(onlyArr.collect().map(_.getSeq[Float](0).sum).sum ===
      rows.map(_._2.sum).sum)
  }

  test("AvroIngest: multi-file container roundtrip is exact and file-parallel") {
    val d = java.nio.file.Files.createTempDirectory("graft-avro").toFile
    val rows = (1L to 37L).map(i =>
      (i, s"name-$i", i % 5, i * 101L)).toSeq
    // three container files (uneven split) — the binaryFile scan must
    // decode each independently and the union must be exact
    rows.grouped(15).zipWithIndex.foreach { case (g, i) =>
      AvroIngest.writeCustomerAvro(g.toSeq,
        new java.io.File(d, f"part-$i%02d.avro"))
    }
    val got = AvroIngest.readCustomerAvro(spark, d.getPath)
    // per-FILE fan-out actually observed, not just claimed: binaryFile's
    // openCostInBytes (4 MiB) pads each file past the packed-split
    // target, so three container files must plan as >1 scan partition,
    // and the decode is a narrow mapPartitions over that scan — a
    // single-partition plan here would mean the decode is NOT
    // file-parallel
    assert(got.rdd.getNumPartitions >= 2)
    val back = got.orderBy("c_custkey")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(back === rows)
    // deflate codec actually engaged: the files are container-framed,
    // not raw — magic bytes 'Obj' + version 1
    val head = java.nio.file.Files.readAllBytes(
      new java.io.File(d, "part-00.avro").toPath).take(4)
    assert(head.sameElements(Array[Byte]('O', 'b', 'j', 1)))
  }
}
