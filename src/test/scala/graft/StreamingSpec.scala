package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types.LongType

import graft.sources.Tables
import graft.streaming.Streaming

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("sortedCopy: AvailableNow run-to-completion sorted copy of a bounded input") {
    import graft.functions.CsvCodec
    import graft.sources.{MemTopic, MemTopicProvider}
    val in = tmp("graft-in")
    val ckpt = tmp("graft-ckpt")
    val src = Tables.events(spark, sf("sf0.001"))
      .select("event_id", "user_id", "event_type", "ts_ms")
    src.write.mode("overwrite").parquet(in)
    val schema = spark.read.parquet(in).schema
    val stream = spark.readStream.schema(schema).parquet(in)
      .withColumn("line",
        CsvCodec.encode(col("user_id"), col("event_id"), col("event_type")))

    // partitions ≥ the sort's task count: writer i → topic partition i
    MemTopic.create("sorted_copy_events", numPartitions = 8)
    try {
      Streaming.sortedCopy(stream, "sorted_copy_events", ckpt,
        Seq(col("user_id"), col("event_id"))).awaitTermination(120000)

      val got = spark.read.format(classOf[MemTopicProvider].getName)
        .option("topic", "sorted_copy_events").load()
      assert(got.count() === src.count(), "row-count conservation through the stream")
      // the reference's validation (O12): key sequence monotone in
      // (partition, offset) order
      val keys = got.orderBy("partition", "offset")
        .select(CsvCodec.fieldAs(col("value"), 0, LongType)).as[Long].collect()
      assert(keys.sameElements(keys.sorted), "sorted within the AvailableNow batch")
    } finally MemTopic.drop("sorted_copy_events")
  }

  test("sortedCopy fails at start when the topic has fewer partitions than the sort's tasks") {
    import graft.functions.CsvCodec
    import graft.queries.ParityQueries.withConf
    import graft.sources.MemTopic
    import org.apache.spark.sql.types.IntegerType
    val ms = MemoryStream[String](spark)
    ms.addData("2,b", "1,a")
    val decoded = CsvCodec.decode(ms.toDF().toDF("line"), col("line"),
      Seq("id" -> IntegerType))
    def start(topic: String): Unit =
      Streaming.sortedCopy(decoded, topic, tmp("graft-narrow-ckpt"), Seq(col("id")))
        .awaitTermination()
    MemTopic.create("narrow_sorted", numPartitions = 2)
    MemTopic.create("wide_sorted", numPartitions = 8)
    try {
      val narrow = intercept[IllegalArgumentException] {
        withConf(spark, "spark.sql.shuffle.partitions", "4")(start("narrow_sorted"))
      }
      assert(narrow.getMessage.contains("2 partitions") &&
        narrow.getMessage.contains("4 tasks"), narrow.getMessage)
      // AQE's initial partition count, when set, is the sort's task count
      val wide = intercept[IllegalArgumentException] {
        withConf(spark, "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
          "16")(start("wide_sorted"))
      }
      assert(wide.getMessage.contains("8 partitions") &&
        wide.getMessage.contains("16 tasks"), wide.getMessage)
      assert(spark.streams.active.isEmpty, "no query started")
      assert(MemTopic.endOffset("narrow_sorted", 0) === 0L)
    } finally { MemTopic.drop("narrow_sorted"); MemTopic.drop("wide_sorted") }
  }

  test("stream_sorted_copy over sf0.001: pos is 1..N, keys ordered by pos, rows are customer's") {
    val dir = sf("sf0.001")
    val got = SparkEntry.queries("stream_sorted_copy")(spark, dir)
      .select("id", "name", "nationkey", "segment", "pos")
      .as[(Long, String, Int, String, Long)].collect().toSeq
    assert(got.map(_._5) === (1L to got.length.toLong), "pos is dense 1..N")
    val keys = got.map(r => (r._1, r._2))
    assert(keys === keys.sorted, "(id, name) is non-decreasing in pos order")
    val customer = Tables.customer(spark, dir)
      .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
      .as[(Long, String, Int, String)].collect().toSeq
    assert(got.map(r => (r._1, r._2, r._3, r._4)).sorted === customer.sorted,
      "the sorted topic holds exactly customer's rows")
  }

  test("enrichStream: stream-static dimension join equals the batch join") {
    val events = Tables.events(spark, sf("sf0.001"))
      .select("event_id", "user_id", "event_type")
    val dim = Tables.customer(spark, sf("sf0.001"))
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))

    val input = MemoryStream[(Long, Long, String)](spark)
    input.addData(events.as[(Long, Long, String)].collect().toSeq)
    val streamDf = input.toDF().toDF("event_id", "user_id", "event_type")

    val q = Streaming.enrichStream(streamDf, dim, Seq("user_id"))
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val got = spark.table("enriched")
      .select("event_id", "user_id", "c_mktsegment")
      .as[(Long, Long, String)].collect().toSet
    val expected = events.join(dim, Seq("user_id"))
      .select("event_id", "user_id", "c_mktsegment")
      .as[(Long, Long, String)].collect().toSet
    assert(got === expected)
    assert(got.nonEmpty, "fixture user ids overlap the customer dim")
  }

  test("streamStreamIntervalJoin: watermarked interval join equals the batch range join") {
    val events = Tables.events(spark, sf("sf0.001"))
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts_ms"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts_ms").as("p_ts_ms"))

    val lIn = MemoryStream[(Long, Long, Long)](spark)
    lIn.addData(clicks.as[(Long, Long, Long)].collect().toSeq)
    val rIn = MemoryStream[(Long, Long, Long)](spark)
    rIn.addData(purchases.as[(Long, Long, Long)].collect().toSeq)

    val joined = Streaming.streamStreamIntervalJoin(
      lIn.toDF().toDF("user_id", "click_id", "ts_ms"),
      rIn.toDF().toDF("user_id", "purchase_id", "p_ts_ms"),
      Seq("user_id"), leftTsMs = "ts_ms", rightTsMs = "p_ts_ms",
      lowerMs = 0L, upperMs = 1800000L)
    val q = joined.select("user_id", "click_id", "purchase_id")
      .writeStream.format("memory").queryName("ssj")
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val got = spark.table("ssj")
      .as[(Long, Long, Long)].collect().toSet
    val expected = clicks.join(purchases, Seq("user_id"))
      .filter(col("p_ts_ms") >= col("ts_ms") &&
        col("p_ts_ms") <= col("ts_ms") + 1800000L)
      .select("user_id", "click_id", "purchase_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(expected.nonEmpty, "fixtures contain purchases within 30min of a click")
    assert(got === expected)
  }

  test("windowedCounts: streaming windowed agg equals the batch computation") {
    val events = Tables.events(spark, sf("sf0.001"))
      .select("event_id", "user_id", "event_type", "value", "ts_ms")
    val input = MemoryStream[(Long, Long, String, Double, Long)](spark)
    input.addData(events.as[(Long, Long, String, Double, Long)].collect().toSeq)

    val streamDf = input.toDF()
      .toDF("event_id", "user_id", "event_type", "value", "ts_ms")
    val agg = Streaming.windowedCounts(streamDf)
    val q = agg.writeStream.format("memory").queryName("wc")
      .outputMode(OutputMode.Complete()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val got = spark.table("wc")
      .select(unix_millis(col("window_start")).as("w"), col("event_type"), col("n"))
      .as[(Long, String, Long)].collect().toSet
    val expected = events
      .groupBy(expr("(ts_ms div 3600000) * 3600000").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .as[(Long, String, Long)].collect().toSet
    assert(got === expected)
  }

  test("slidingCounts: each event lands in exactly windowLen/slide windows") {
    val events = Tables.events(spark, sf("sf0.001"))
      .select("event_id", "user_id", "event_type", "value", "ts_ms")
    val input = MemoryStream[(Long, Long, String, Double, Long)](spark)
    input.addData(events.as[(Long, Long, String, Double, Long)].collect().toSeq)

    val streamDf = input.toDF()
      .toDF("event_id", "user_id", "event_type", "value", "ts_ms")
    val agg = Streaming.slidingCounts(streamDf)
    val q = agg.writeStream.format("memory").queryName("slw")
      .outputMode(OutputMode.Complete()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val got = spark.table("slw")
      .select(unix_millis(col("window_start")).as("w"), col("event_type"), col("n"))
      .as[(Long, String, Long)].collect().toSet
    // batch replay of the fan-out: each event belongs to the window
    // starting at its 30-minute floor and the one 30 minutes earlier
    val expected = events
      .select(col("event_type"), explode(array(lit(0L), lit(1L))).as("k"),
        col("ts_ms"))
      .groupBy(expr("(ts_ms div 1800000) * 1800000 - k * 1800000").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .as[(Long, String, Long)].collect().toSet
    assert(got === expected)
    // fan-out conservation: total weighted count = 2x the event count
    assert(got.toSeq.map(_._3).sum === 2L * events.count())
  }

  test("dedupStream: duplicate keys within the watermark are dropped") {
    val input = MemoryStream[(Long, String, Long)](spark)
    input.addData(
      (1L, "a", 1000L), (2L, "b", 2000L),
      (1L, "a-dup", 3000L), (3L, "c", 4000L), (2L, "b-dup", 2500L))
    val deduped = Streaming.dedupStream(
      input.toDF().toDF("doc_id", "text", "ts_ms"), Seq("doc_id"))
    val q = deduped.writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("dedup").select("doc_id", "text")
      .as[(Long, String)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq === Seq(1L, 2L, 3L))
    // first-in-batch occurrence survives
    assert(got.toMap === Map(1L -> "a", 2L -> "b", 3L -> "c"))
  }

  test("streaming top-k: the TopKLongs UDAF works inside a streaming aggregation") {
    val input = MemoryStream[(String, Long)](spark)
    input.addData(("a", 5L), ("a", 9L), ("a", 1L), ("a", 7L),
      ("b", 100L), ("b", 50L))
    val topk = udaf(new graft.functions.TopKLongs(2))
    val agg = input.toDF().toDF("grp", "v")
      .groupBy(col("grp")).agg(topk(col("v")).as("top"))
    val q = agg.writeStream.format("memory").queryName("stk")
      .outputMode(OutputMode.Complete()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("stk")
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(got === Map("a" -> Seq(9L, 7L), "b" -> Seq(100L, 50L)))
  }

  test("minhashNearDupStream: near-identical docs pair across micro-batches, unrelated docs don't") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val input = MemoryStream[(Long, String, Long)](spark)
    input.addData((1L, base, 1000L))
    input.addData(
      (2L, base + " extra", 2000L), // near-dup of 1, later batch
      (3L, "completely unrelated words about spark catalyst optimizer internals", 3000L))

    val pairs = Streaming.minhashNearDupStream(
      input.toDF().toDF("doc_id", "text", "ts_ms"), minEstimate = 0.5)
    val q = pairs.writeStream.format("memory").queryName("mhnd")
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val got = spark.table("mhnd")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 2L)), s"planted near-dup must pair, got $got")
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated doc must not pair: $got")
  }

  test("minhashNearDupStream matches batch minhashPairs on the fixture corpus") {
    // Same banding, same signatures, same estimate: the streaming pair
    // set (deduped — emission is at-least-once across bands) must equal
    // the batch operator's pairs when every doc fits in the watermark.
    val docs = Tables.documents(spark, sf("sf0.001"))
      .select(col("doc_id"), col("text"))
      .withColumn("ts_ms", lit(1000L))
      .as[(Long, String, Long)].collect().toSeq
    val input = MemoryStream[(Long, String, Long)](spark)
    input.addData(docs)
    val pairs = Streaming.minhashNearDupStream(
      input.toDF().toDF("doc_id", "text", "ts_ms"), minEstimate = 0.5)
    val q = pairs.writeStream.format("memory").queryName("mhvsb")
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("mhvsb")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val batch = graft.operators.Dedup.minhashPairs(
        Tables.documents(spark, sf("sf0.001")), "doc_id", "text",
        minEstimate = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(streamed === batch,
      s"stream-only: ${streamed -- batch}; batch-only: ${batch -- streamed}")
  }

  test("sessionWindowAgg: built-in session_window agrees with the custom fMGWS sessionize") {
    val gapMs = 1000L
    val evts = Seq(
      Streaming.Evt(1, 1, 0), Streaming.Evt(1, 2, 500), Streaming.Evt(1, 3, 900),
      Streaming.Evt(1, 4, 5000), Streaming.Evt(1, 5, 5400),
      Streaming.Evt(2, 7, 100), Streaming.Evt(2, 8, 10000))

    val input = MemoryStream[Streaming.Evt](spark)
    input.addData(evts)
    val agg = Streaming.sessionWindowAgg(input.toDF(), gap = "1 second")
    val q = agg.writeStream.format("memory").queryName("sw")
      .outputMode(OutputMode.Complete()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // session_window end = last event + gap; compare on (user, start, n)
    val builtIn = spark.table("sw")
      .select("user_id", "sess_start_ms", "n_events")
      .as[(Long, Long, Long)].collect().toSet

    // custom path: closed sessions + the open tail each key holds in state
    val input2 = MemoryStream[Streaming.Evt](spark)
    input2.addData(evts)
    val sessions = Streaming.sessionize(input2.toDS(), gapMs)
    val q2 = sessions.writeStream.format("memory").queryName("sw_custom")
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(120000)
    val closed = spark.table("sw_custom")
      .select("user_id", "sess_start_ms", "n_events")
      .as[(Long, Long, Long)].collect().toSet
    // fMGWS emits only gap-CLOSED sessions; the built-in (Complete mode on
    // bounded input) also reports each key's final open session
    assert(closed.subsetOf(builtIn),
      s"closed sessions must appear identically in both: ${closed -- builtIn}")
    val openTails = builtIn -- closed
    assert(openTails.map(_._1) === Set(1L, 2L),
      s"exactly one open tail per user expected, got $openTails")
  }

  test("stateless text operators run UNCHANGED on a stream and match batch") {
    // quality scoring, PII redaction and context chunking are pure
    // projections / generators — no state, no watermark — so the same
    // operator code must plan on a streaming DataFrame and agree with
    // the batch result row-for-row once the stream drains.
    val docs = Seq(
      (1L, "The cat and the dog sat on the mat near https://x.y/z today"),
      (2L, "mail me at a.b@c.de and call +1 (555) 010-9999 soon"),
      (3L, (1 to 100).map(i => s"tok$i").mkString(" ")))
    val input = MemoryStream[(Long, String)](spark)
    input.addData(docs: _*)
    val streamDf = input.toDF().toDF("doc_id", "text")

    def redact(df: org.apache.spark.sql.DataFrame) =
      graft.operators.TextAnalysis.redactPii(df, "doc_id", "text")
    def chunks(df: org.apache.spark.sql.DataFrame) =
      graft.operators.TextAnalysis.chunkTokens(df, "doc_id", "text",
        chunkSize = 32, overlap = 8)

    val q1 = redact(streamDf).writeStream.format("memory")
      .queryName("stream_redact").outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow()).start()
    val q2 = chunks(streamDf).writeStream.format("memory")
      .queryName("stream_chunks").outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow()).start()
    q1.awaitTermination(120000)
    q2.awaitTermination(120000)

    val batchDf = docs.toDF("doc_id", "text")
    assert(spark.table("stream_redact").collect().map(_.toSeq).toSet ===
      redact(batchDf).collect().map(_.toSeq).toSet)
    val gotChunks = spark.table("stream_chunks").collect().map(_.toSeq).toSet
    assert(gotChunks === chunks(batchDf).collect().map(_.toSeq).toSet)
    // doc 3 (100 tokens, 32-window/8-overlap) chunks into ceil((100-8)/24)=4
    assert(gotChunks.count(_.head == 3L) === 4)
  }

  test("MisraGries UDAF works inside a streaming aggregation") {
    // the sketch's bounded-map buffer is partial-aggregable, so it can
    // serve as streaming state: candidates over the whole (unbounded)
    // stream with O(capacity) memory per group
    val input = MemoryStream[(String, String)](spark)
    input.addData(Seq.fill(30)(("g1", "hot")) ++ (1 to 20).map(i => ("g1", s"t$i")): _*)
    input.addData(Seq.fill(25)(("g1", "warm")) ++ (1 to 20).map(i => ("g1", s"u$i")): _*)
    val mg = udaf(new graft.functions.MisraGries(8))
    val q = input.toDF().toDF("g", "word")
      .groupBy("g").agg(mg(col("word")).as("cands"))
      .writeStream.format("memory").queryName("mg_stream")
      .outputMode(OutputMode.Complete()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val cands = spark.table("mg_stream")
      .select(explode(col("cands"))).as[String].collect().toSet
    // the two true heavy items must survive; the candidate set stays ≤ capacity
    assert(cands.contains("hot") && cands.contains("warm"), cands.toString)
    assert(cands.size <= 8)
  }

  test("gapDetectStream finds exactly the buckets the batch spine join fills") {
    // fixture events, replayed as a stream in two micro-batches split at
    // a timestamp boundary — gaps revealed across the batch split too
    val events = Tables.events(spark, sf("sf0.001"))
      .select(col("event_type").as("key"), col("ts_ms"))
      .as[Streaming.Tick].collect().toSeq
    val mid = events.map(_.ts_ms).sorted.apply(events.length / 2)
    val input = MemoryStream[Streaming.Tick](spark)
    input.addData(events.filter(_.ts_ms < mid): _*)
    input.addData(events.filter(_.ts_ms >= mid): _*)

    val bucketMs = 3600000L
    val q = Streaming.gapDetectStream(input.toDS(), bucketMs)
      .writeStream.format("memory").queryName("gaps")
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("gaps")
      .select("key", "bucket_ms").as[(String, Long)].collect().toSet

    // batch truth: for each key, hours in [min, max] with no events
    val want = events.groupBy(_.key).toSeq.flatMap { case (k, ts) =>
      val hs = ts.map(t => Math.floorDiv(t.ts_ms, bucketMs)).toSet
      (hs.min to hs.max).filterNot(hs).map(h => (k, h * bucketMs))
    }.toSet
    assert(got === want,
      s"extra=${(got -- want).take(5)} missing=${(want -- got).take(5)} " +
        s"sizes got=${got.size} want=${want.size}")
    assert(want.nonEmpty, "fixture must actually contain gaps for this test to bite")
  }

  test("sessionize: flatMapGroupsWithState emits gap-closed sessions") {
    val input = MemoryStream[Streaming.Evt](spark)
    val gap = 1000L
    input.addData(
      Streaming.Evt(1, 1, 0), Streaming.Evt(1, 2, 500), Streaming.Evt(1, 3, 900),
      // gap > 1000 closes the first session
      Streaming.Evt(1, 4, 5000), Streaming.Evt(1, 5, 5400),
      // second gap closes the second session; the tail stays open in state
      Streaming.Evt(1, 6, 99000),
      Streaming.Evt(2, 7, 100), Streaming.Evt(2, 8, 10000))

    val sessions = Streaming.sessionize(input.toDS(), gap)
    val q = sessions.writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val got = spark.table("sess")
      .select("user_id", "sess_start_ms", "sess_end_ms", "n_events")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got === Set(
      (1L, 0L, 900L, 3L),      // closed by the 900 -> 5000 gap
      (1L, 5000L, 5400L, 2L),  // closed by the 5400 -> 99000 gap
      (2L, 100L, 100L, 1L)))   // closed by the 100 -> 10000 gap
  }

  test("userAccumStream (transformWithState): ValueState persists across micro-batches") {
    // transformWithState requires the RocksDB state store provider
    graft.queries.ParityQueries.withConf(spark,
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider") {
      val input = MemoryStream[(Long, Long, Double)](spark)
      val df = input.toDF().toDF("user_id", "event_id", "value")
      val q = Streaming.userAccumStream(df).toDF().writeStream
        .format("memory").queryName("tws_acc")
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", tmp("graft-tws-ckpt"))
        .start()
      // batch 0: user 1 twice, user 2 once
      input.addData((1L, 10L, 1.50), (1L, 11L, 2.25), (2L, 12L, 5.00))
      q.processAllAvailable()
      // batch 1: user 1 again (state must carry), user 3 new
      input.addData((1L, 13L, 0.75), (3L, 14L, 1.00))
      q.processAllAvailable()
      q.stop()

      val log = spark.table("tws_acc")
      // user 1 was touched by both batches -> exactly two snapshots,
      // and the second one CONTINUES the first (state persisted)
      val u1 = log.filter(col("user_id") === 1)
        .select("n", "cents", "max_eid")
        .as[(Long, Long, Long)].collect().toSet
      assert(u1 === Set((2L, 375L, 11L), (3L, 450L, 13L)))
      // the argmax-n collapse (the graded query's final step) recovers
      // exactly the batch GROUP BY totals
      val fin = log.groupBy(col("user_id"))
        .agg(max(col("n")).as("n"), max_by(col("cents"), col("n")).as("cents"),
          max(col("max_eid")).as("max_eid"))
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(fin === Set((1L, 3L, 450L, 13L), (2L, 1L, 500L, 12L),
        (3L, 1L, 100L, 14L)))
    }
  }

  test("dayCloseStream: event-time timers fire in the right batch and only past the watermark") {
    // pins the protocol the graded stream_state_timers oracle relies on:
    // (1) a timer fires in the first batch whose (previous-batch)
    //     watermark reaches it — boundary INCLUSIVE;
    // (2) input rows for a key re-arm its timer BEFORE the expiry check
    //     in the same batch, so an active key never closes;
    // (3) keys still inside the gap when the stream ends never emit.
    graft.queries.ParityQueries.withConf(spark,
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider") {
      val input = MemoryStream[(Long, Long)](spark)
      val df = input.toDF().toDF("user_id", "ts_ms")
      val fired =
        new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Long, Long, Long)]()
      val q = Streaming.dayCloseStream(df, gapMs = 60L).toDF().writeStream
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", tmp("graft-tmr-ckpt"))
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          b.collect().foreach(r => fired.add((id, r.getLong(0), r.getLong(1),
            r.getLong(2), r.getLong(3), r.getLong(4))))
        }
        .start()
      // all ts within day 0; gap = 60 ms. Each data batch that advances
      // the watermark is followed by a NO-DATA timer-sweep batch (the
      // engine's standard protocol — the same sweep AvailableNow runs
      // after its last file), so data batches get even ids (0,2,4,6)
      // and expiries land in the odd sweep batches.
      input.addData((1L, 10L), (1L, 20L), (2L, 30L))   // batch 0, wm -> 30
      q.processAllAvailable()
      input.addData((2L, 150L), (9L, 199L))            // batch 2, wm -> 199
      q.processAllAvailable()                          //   sweep 3: u1@80 fires
      input.addData((8L, 299L))                        // batch 4, wm -> 299
      q.processAllAvailable()                          //   sweep 5: u2, u9
      input.addData((7L, 9999999L))                    // batch 6, wm -> 9999999
      q.processAllAvailable()                          //   sweep 7: u8
      q.stop()

      val got = new scala.collection.mutable.HashSet[(Long, Long, Long, Long, Long, Long)]
      fired.forEach(t => got += t)
      assert(got.toSet === Set(
        // (batchId, user_id, day, n_events, last_ms, fired_ms)
        (3L, 1L, 0L, 2L, 20L, 80L),    // fired mid-stream, cross-batch
        (5L, 2L, 0L, 2L, 150L, 210L),  // re-armed in batch 2, closed later
        (5L, 9L, 0L, 1L, 199L, 259L),  // boundary-inclusive: 259 <= 299
        (7L, 8L, 0L, 1L, 299L, 359L)), // u7's arrival advanced wm past it
        s"unexpected emission set: $got")
      // u7 (open tail — nothing ever passed its expiry): never emitted,
      // checked by the exact-set equality above
    }
  }

  test("statestore batch source: checkpointed agg state equals the batch aggregate") {
    val input = MemoryStream[(Long, String, Double)](spark)
    val df = input.toDF().toDF("ts_ms", "event_type", "value")
    val ckpt = tmp("graft-ssr-ckpt")
    val q = Streaming.windowedCounts(df).writeStream
      .format("memory").queryName("ssr_state")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", ckpt)
      .start()
    val H = 3600000L
    input.addData((H, "a", 1.0), (H + 10, "a", 2.0), (2 * H, "b", 4.0))
    q.processAllAvailable()
    input.addData((H + 20, "a", 3.0)) // merges INTO hour-1's live state
    q.processAllAvailable()
    q.stop()

    val st = spark.read.format("statestore").load(ckpt)
      .select(unix_millis(col("key.window.start")).as("ws"),
        col("key.event_type").as("t"),
        col("value.count").as("n"), col("value.sum").as("s"))
      .as[(Long, String, Long, Double)].collect().toSet
    assert(st === Set((H, "a", 3L, 6.0), (2 * H, "b", 1L, 4.0)))
  }

  test("statestore change feed: replayed puts reconstruct the final state") {
    // change feed needs RocksDB + changelog checkpointing
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val clKey = "spark.sql.streaming.stateStore.rocksdb." +
      "changelogCheckpointing.enabled"
    val prevProv = spark.conf.getOption(provKey)
    val prevCl = spark.conf.getOption(clKey)
    spark.conf.set(provKey, "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider")
    spark.conf.set(clKey, "true")
    try {
      val input = MemoryStream[(Long, String, Double)](spark)
      val df = input.toDF().toDF("ts_ms", "event_type", "value")
      val ckpt = tmp("graft-cf-ckpt")
      val q = Streaming.windowedCounts(df).writeStream
        .format("memory").queryName("cf_state")
        .outputMode(OutputMode.Complete())
        .option("checkpointLocation", ckpt)
        .start()
      val H = 3600000L
      input.addData((H, "a", 1.0), (2 * H, "b", 4.0))
      q.processAllAvailable()
      input.addData((H + 10, "a", 2.0))
      q.processAllAvailable()
      q.stop()

      val feed = spark.read.format("statestore")
        .option("readChangeFeed", "true")
        .option("changeStartBatchId", "0")
        .load(ckpt)
      // the (H, a) key was updated in BOTH batches -> two change rows,
      // and the last one carries the merged (2, 3.0) buffer
      val last = feed
        .groupBy(unix_millis(col("key.window.start")).as("ws"),
          col("key.event_type").as("t"))
        .agg(max_by(struct(col("value.count"), col("value.sum")),
          col("batch_id")).as("v"), count(lit(1)).as("n_changes"))
        .select(col("ws"), col("t"), col("v.count").as("n"),
          col("v.sum").as("s"), col("n_changes"))
        .as[(Long, String, Long, Double, Long)].collect().toSet
      assert(last === Set((H, "a", 2L, 3.0, 2L), (2 * H, "b", 1L, 4.0, 1L)))
    } finally {
      prevProv match {
        case Some(v) => spark.conf.set(provKey, v)
        case None => spark.conf.unset(provKey)
      }
      prevCl match {
        case Some(v) => spark.conf.set(clKey, v)
        case None => spark.conf.unset(clKey)
      }
    }
  }

  test("join then windowed agg: sink and open state PARTITION the full aggregate") {
    // two stateful operators in one query (interval join -> 1-day
    // window agg). The graded query's contract is that the append-mode
    // sink (watermark-closed windows) and the agg operator's remaining
    // state (open windows) are DISJOINT and their union is the batch
    // aggregate — pinned here on a hand-built fixture where the close
    // boundary is known: the day-0 window must close (final watermark
    // passes it even after the join's 6 h delay is propagated), the
    // day-2 window must stay open. The day-0 match also spans
    // micro-batches (click in batch 1, purchase in batch 2), so join
    // state genuinely carries.
    val D = 86400000L
    val H = 3600000L
    def stage(name: String, slices: Seq[Seq[(Long, Long, Long)]]): String = {
      val d = tmp(s"graft-jtw-$name")
      val base = System.currentTimeMillis()
      slices.zipWithIndex.foreach { case (rows, i) =>
        val t = tmp(s"graft-jtw-$name-$i")
        rows.toDF("event_id", "ts_ms", "user_id")
          .repartition(1).write.mode("overwrite").parquet(t)
        val dst = new java.io.File(d, s"slice-$i.parquet")
        java.nio.file.Files.copy(new java.io.File(t).listFiles()
          .filter(_.getName.endsWith(".parquet")).head.toPath, dst.toPath)
        dst.setLastModified(base + i * 10000L)
      }
      d
    }
    // L1: click day0 10:00; L2: click day2 10:00 (both user 1)
    val lDir = stage("l", Seq(
      Seq((1L, 10 * H, 1L)),
      Seq((3L, 2 * D + 10 * H, 1L))))
    // R1: unmatched user-2 purchase day0 23:00; R2: the day0 match
    // (arrives a batch AFTER its click) + the day2 match
    val rDir = stage("r", Seq(
      Seq((4L, 23 * H, 2L)),
      Seq((2L, 11 * H, 1L), (5L, 2 * D + 11 * H, 1L))))
    val schema = spark.read.parquet(lDir).schema
    def rd(d: String) = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(d)
    val left = rd(lDir).select(col("event_id").as("l_event"),
      col("user_id"), col("ts_ms").as("l_ts"))
    val right = rd(rDir).select(col("event_id").as("r_event"),
      col("user_id"), col("ts_ms").as("r_ts"))
    val joined = Streaming.streamStreamIntervalJoin(
      left, right, Seq("user_id"), leftTsMs = "l_ts", rightTsMs = "r_ts",
      lowerMs = 0L, upperMs = 6 * H, watermark = "1 hour")
    val agg = joined
      .groupBy(window(col("l_event_time"), "1 day"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("r_ts") - col("l_ts")).as("sum_lag_ms"))
      .select(unix_millis(col("window.start")).as("win_ms"),
        col("n_pairs"), col("sum_lag_ms"))
    val ckpt = tmp("graft-jtw-ckpt")
    val q = agg.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .outputMode("append").format("memory").queryName("jtw_spec").start()
    assert(q.awaitTermination(120000),
      "AvailableNow run did not finish within 120 s — sink/state reads below would race a live query")
    val sink = spark.table("jtw_spec")
      .as[(Long, Long, Long)].collect().toSet
    val state = spark.read.format("statestore")
      .option("operatorId", "0").load(ckpt)
      .select(unix_millis(col("key.window.start")),
        col("value.count"), col("value.sum"))
      .as[(Long, Long, Long)].collect().toSet
    // closed: day-0 window, one pair, 1 h lag; open: day-2 window
    assert(sink === Set((0L, 1L, H)), s"sink was $sink")
    assert(state === Set((2 * D, 1L, H)), s"state was $state")
    assert(sink.map(_._1).intersect(state.map(_._1)).isEmpty)
  }
}
