package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

import graft.functions.CsvCodec
import graft.operators.Sorting
import graft.sources.Tables

/** Reference-parity queries: the three graded total sorts, the CSV
  * encode→decode→sort chain, and order-validation-as-a-query.
  *
  * Fixture mapping (FIXTURES.md): numeric-key sort → `events(user_id)`,
  * lexicographic-key sort → `customer(c_name)`, low-cardinality enum sort
  * (≙ `continent`, 6 values over 50 M rows — massive ties) →
  * `customer(c_mktsegment)`. Every query carries a full tie-break order
  * because the reference sort is unstable (`external_sort.go:140`) and the
  * driver hash-compares row sequences.
  *
  * `ts` is emitted as epoch milliseconds (`unix_millis`) rather than a raw
  * timestamp so the Spark/DuckDB comparison is integer-exact regardless of
  * parquet ns/µs unit handling.
  */
object ParityQueries {

  /** Run `body` with `spark.sql.shuffle.partitions` pinned to `n`,
    * restoring the session conf after. The stateful `stream_*` graded
    * queries run on a fixture of a few thousand rows, but the state
    * store instantiates one provider per shuffle partition × stateful
    * operator × micro-batch. `Session.local` sets one shuffle partition
    * per core, so the pin to 4 does nothing at 4 cores; at 8 or 32
    * cores it bounds that fan-out, which (not the dataflow) would
    * otherwise dominate their wall time. A real deployment sizes this to
    * the state volume; these bounded graded runs pin it small. The
    * streaming plan binds the value at `start()`, so setting it around
    * query construction + execution is sufficient. */
  private[queries] def withShufflePartitions[T](s: SparkSession, n: Int)(body: => T): T =
    withConf(s, "spark.sql.shuffle.partitions", n.toString)(body)

  /** Scoped session-conf override: set, run, restore (or unset if the
    * key was unset). The ONE save/restore implementation behind every
    * conf-dependent query — hand-rolled copies of this pattern are how
    * session-state leaks (a conf left set masking a missing-conf
    * failure elsewhere in the shared-session harness) creep in. */
  private[graft] def withConf[T](s: SparkSession, key: String,
      value: String)(body: => T): T = {
    val prev = s.conf.getOption(key)
    s.conf.set(key, value)
    try body finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  private[queries] def withStateStoreProvider[T](s: SparkSession, cls: String)(body: => T): T =
    withConf(s, "spark.sql.streaming.stateStore.providerClass", cls)(body)

  /** Per-JVM cache of staged input directories, keyed by a content
    * descriptor (fixture dir + staging recipe). Staged files are
    * immutable once written, so every later graded query — and every
    * Bench warmup/repeat pass — reuses the first staging instead of
    * re-writing it per run. Checkpoints, query names, and memory sinks
    * stay per-run and unique; only input data is shared.
    * `computeIfAbsent` makes the first build exclusive per key: `build`
    * writes into a fresh scratch dir and returns what every caller of
    * the key gets back (the dir itself, or a [[Staged]]). The stream
    * inputs stage through [[replay]], whose key is its own [[Replay]]
    * argument, so each of their keys has exactly one writer. */
  private[queries] object StagedInputs {
    private val cache = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
    def apply[T <: AnyRef](key: String)(build: String => T): T =
      cache.computeIfAbsent(key, _ => build(ScratchDirs("graft-stage"))).asInstanceOf[T]
  }

  /** Per-run scratch dirs (checkpoints, staged mutable inputs) with a
    * JVM-exit recursive delete, so repeated harness runs don't
    * accumulate temp space — `File.deleteOnExit` alone cannot remove a
    * non-empty checkpoint tree. One hook, one list; registration is
    * O(1) per dir. */
  private[queries] object ScratchDirs {
    private val dirs = java.util.Collections.synchronizedList(
      new java.util.ArrayList[java.io.File]())
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      dirs.forEach { root =>
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(); ()
        }
        rm(root)
      }))
    def apply(prefix: String): String = {
      val d = java.nio.file.Files.createTempDirectory(prefix).toFile
      dirs.add(d)
      d.toString
    }
    /** Register an EXISTING (or about-to-exist) path for the same
      * JVM-exit delete — for per-JVM-tagged scratch the caller names
      * itself (the bucketed-join warehouse). Safe only for paths no
      * other JVM shares; every registered tag embeds this process.
      * Idempotent: repeat registrations of the same path (one per
      * bucketed-join invocation) don't grow the list. */
    def track(path: String): String = {
      val f = new java.io.File(path)
      dirs.synchronized { if (!dirs.contains(f)) dirs.add(f) }
      path
    }
  }

  /** MemTopic topics whose lifetime must span the whole run (a returned
    * plan scans them lazily), dropped in one JVM-exit hook — the
    * in-heap analog of [[ScratchDirs]], so repeated harness passes
    * don't accumulate retired sorted-copy topics. */
  private[queries] object ScratchTopics {
    private val names = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      names.forEach(t => graft.sources.MemTopic.drop(t))))
    def register(topic: String): Unit = { names.add(topic); () }
  }

  /** Prefix of the memory-sink views [[drain]] creates (and drops). */
  private[graft] val DrainViewPrefix = "graft_drain_"

  /** Run the streaming frame `df` to completion and return its output:
    * the ONE run-to-completion protocol behind every memory-sink
    * `stream_*` query. `Trigger.AvailableNow` pins the source's end
    * offsets at start, so the run is bounded; the memory sink lives
    * under a generated unique name, is snapshotted into a LOCAL
    * DataFrame, and its temp view is dropped, so repeated graded runs
    * don't accumulate tables in the session catalog. Sound only because
    * every memory sink here is bounded (final state / fixture-sized
    * emission log). Callers that read the checkpoint afterwards (the
    * `statestore` source, a restart on the same checkpoint) pass their
    * own `ckpt`. */
  private[queries] def drain(df: DataFrame, outputMode: String,
      ckpt: String = ScratchDirs("graft-stream-ckpt")): DataFrame = {
    val s = df.sparkSession
    val qn = DrainViewPrefix + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = df.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .outputMode(outputMode).format("memory").queryName(qn).start()
    try {
      q.awaitTermination()
      val sink = s.table(qn)
      s.createDataFrame(sink.collectAsList(), sink.schema)
    } finally {
      if (q.isActive) q.stop()
      s.catalog.dropTempView(qn)
    }
  }

  /** Write ONE micro-batch slice: repartition(1) parquet into a
    * ScratchDirs-tracked scratch dir (no /tmp accumulation), copy the
    * single part-file into `hand` as `slice-k.parquet` with a strictly
    * increasing mtime (how maxFilesPerTrigger=1 replays slices as
    * ordered micro-batches). */
  private def writeSlice(df: DataFrame, hand: String, k: Int,
      baseMtime: Long): Unit = {
    val tmp = ScratchDirs(s"graft-slice-$k")
    df.repartition(1).write.mode("overwrite").parquet(tmp)
    val dst = new java.io.File(hand, s"slice-$k.parquet")
    java.nio.file.Files.copy(new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath, dst.toPath)
    dst.setLastModified(baseMtime + k * 10000L)
    ()
  }

  /** Commit-log file names under a streaming checkpoint — the resume
    * evidence the restart-recovery grades require on (a resumed query
    * preserves old commit files and appends strictly newer batch ids;
    * a from-scratch run rewrites batch 0). */
  private[queries] def ckptCommits(ckpt: String): Set[String] = {
    val d = new java.io.File(ckpt, "commits")
    if (d.isDirectory) d.list().toSet else Set.empty
  }

  /** Adds `batch`, the day tertile (1–3) of each row's `ts_ms` within
    * the day span of `span`'s `ts_ms`: days split into three equal
    * bands, so batch k holds whole days and precedes batch k+1. Taking
    * the span from the whole table gives one event type's rows the
    * same bands as the other's. */
  private[queries] def dayTertile(rows: DataFrame, span: DataFrame): DataFrame = {
    val day = expr("ts_ms div 86400000")
    val bounds = span.agg(min(day).as("mn"), max(day).as("mx"))
    rows.withColumn("day", day).crossJoin(broadcast(bounds))
      .withColumn("batch", expr("((day - mn) * 3) div (mx - mn + 1) + 1"))
      .drop("day", "mn", "mx")
  }

  /** A fixture input of the graded streams, staged as files that a
    * file stream replays: which rows, laid out in which files. Its
    * `toString` is the staging's cache key after the fixture dir, so
    * equal inputs share one staging, and an input's rows and files are
    * a function of the key alone. */
  private[queries] sealed trait Replay {
    /** The rows to stage; slice inputs carry a `batch` column (1–3)
      * naming the slice of each row. Built only by the first staging
      * per JVM, so its fixture reads run once. */
    def frame(s: SparkSession, dir: String): DataFrame
    /** The streaming view of the staged rows. */
    def view(stream: DataFrame): DataFrame = stream
  }

  /** The raw events rows (one event type when `eventType` is set),
    * split round-robin into `roundRobin` files, or written as read
    * when it is None. The view adds `ts_ms` ([[Tables.withTsMs]]). */
  private[queries] final case class EventFiles(roundRobin: Option[Int],
      eventType: Option[String] = None) extends Replay {
    def frame(s: SparkSession, dir: String): DataFrame = {
      val ev = Tables.table(s, dir, "events")
      val rows = eventType.fold(ev)(t => ev.filter(col("event_type") === t))
      roundRobin.fold(rows)(rows.repartition)
    }
    override def view(stream: DataFrame): DataFrame = Tables.withTsMs(stream)
  }

  /** Events projected to `cols` as three ordered slices, slice k =
    * [[dayTertile]] k over the whole table's day span. `eventType`
    * keeps one event type; `plantLate` moves the tertile-1 rows with
    * event_id % 17 = 0 into slice 3, where they arrive late. */
  private[queries] final case class EventSlices(cols: Seq[String],
      eventType: Option[String] = None, plantLate: Boolean = false) extends Replay {
    def frame(s: SparkSession, dir: String): DataFrame = {
      val ev = Tables.events(s, dir)
      val tert = dayTertile(
        eventType.fold(ev)(t => ev.filter(col("event_type") === t)), ev)
      val batched = if (!plantLate) tert else tert.withColumn("batch",
        when(col("batch") === 1 && col("event_id") % 17 === 0, 3)
          .otherwise(col("batch")))
      batched.select((cols :+ "batch").map(col): _*)
    }
  }

  /** The clean day-tertile slices of the whole events rows, shared by
    * every stream that replays the events in time order. */
  private[queries] val EventTertiles: Replay =
    EventSlices(Seq("event_id", "ts_ms", "user_id", "event_type", "value"))

  /** The documents (doc_id, text) as three ordered doc-id tertile
    * slices, each row given a synthetic event time
    * ts_ms = (doc_id + 1) minutes. */
  private[queries] case object DocSlices extends Replay {
    def frame(s: SparkSession, dir: String): DataFrame = {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val n = docs.count()
      docs.withColumn("ts_ms", (col("doc_id") + 1) * 60000L)
        .withColumn("batch", expr(s"(doc_id * 3) div $n + 1"))
    }
  }

  /** A staged [[Replay]]: its directory. */
  private[queries] final case class Staged(input: Replay, dir: String) {
    /** A bounded micro-batch stream over the staged files (or over
      * `path`, a directory the caller [[land]]s them in, which may still
      * be empty): one file per trigger, or every file in one batch. The
      * schema is declared from a footer of the staged files
      * ([[Tables.parquet]]), so building it runs no Spark job. */
    def stream(s: SparkSession, oneFilePerTrigger: Boolean = true,
        path: String = dir): DataFrame = {
      val r = s.readStream.schema(Tables.parquet(s, dir).schema)
      input.view((if (oneFilePerTrigger) r.option("maxFilesPerTrigger", "1")
        else r).parquet(path))
    }
    /** Copy slice `k`, mtime included, into `into`: how a restart query
      * has new input land between two runs. */
    def land(k: Int, into: String): Unit = {
      val f = s"slice-$k.parquet"
      java.nio.file.Files.copy(java.nio.file.Paths.get(dir, f),
        java.nio.file.Paths.get(into, f),
        java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
      ()
    }
  }

  /** Stage `input` over fixture `dir` once per JVM through
    * [[StagedInputs]], under the key `dir|input`. Slice inputs become
    * `slice-k.parquet` files with increasing mtimes, so a one-file-per-
    * trigger stream replays them in order; the others are written as
    * their frame's partitions. */
  private[queries] def replay(s: SparkSession, dir: String, input: Replay): Staged =
    StagedInputs(s"$dir|$input") { d =>
      val df = input.frame(s, dir)
      input match {
        case _: EventFiles =>
          df.write.mode("overwrite").parquet(d)
        case _ =>
          val base = System.currentTimeMillis()
          (1 to 3).foreach { k =>
            writeSlice(df.filter(col("batch") === k).drop("batch"), d, k, base)
          }
      }
      Staged(input, d)
    }

  private def eventsProjected(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("event_id"), col("ts_ms"),
      col("user_id"), col("event_type"), col("value"), col("props"))

  /** One micro-batch of events reduced to its latest row per `user_id`:
    * the greatest (ts_ms, event_id, event_type, value) struct, a
    * partial-aggregable max, never a window over the batch. The delta
    * both foreachBatch sinks merge. */
  private def latestPerUser(batch: DataFrame): DataFrame =
    batch.groupBy(col("user_id"))
      .agg(max(struct(col("ts_ms"), col("event_id"), col("event_type"),
        col("value"))).as("last"))
      .select(col("user_id"), col("last.ts_ms").as("ts_ms"),
        col("last.event_type").as("event_type"),
        col("last.value").as("value"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // O7–O9: numeric-key global total sort, payload passthrough.
    "sort_by_id" -> ((s, dir) =>
      Sorting.totalSort(eventsProjected(s, dir), col("user_id"), col("event_id"))),

    // O7–O9: lexicographic (binary-collation) sort.
    "sort_by_name" -> ((s, dir) =>
      Sorting.totalSort(Tables.customer(s, dir), col("c_name"), col("c_custkey"))),

    // O7–O9: low-cardinality enum key (≙ continent, heavy duplicate keys).
    "sort_by_continent" -> ((s, dir) =>
      Sorting.totalSort(Tables.customer(s, dir), col("c_mktsegment"), col("c_custkey"))),

    // O1/O5 + O7–O9: full reference chain — encode rows as comma-joined CSV
    // lines (generator.go:44-56), re-extract typed fields positionally
    // (external_sort.go:365-425), sort numerically on the parsed key.
    "csv_roundtrip_sort" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val lines = c.select(CsvCodec.encode(
        col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_mktsegment")).as("line"))
      val decoded = CsvCodec.decode(lines, col("line"), Seq(
        "id" -> LongType, "name" -> StringType,
        "nationkey" -> IntegerType, "segment" -> StringType))
        .select("id", "name", "nationkey", "segment")
      Sorting.totalSort(decoded, col("id"), col("name"))
    }),

    // O12: the reference's test_validation.sh monotonicity check as a query,
    // over all rows, plus row-count conservation (SURVEY.md §5.1 gap).
    "validate_monotonic" -> ((s, dir) =>
      Sorting.monotonicCheck(
        Tables.events(s, dir), col("user_id"), col("user_id"), col("event_id"))),

    // Top-k without a global sort: TakeOrderedAndProject (bounded per-
    // partition heaps + driver merge of k rows — no shuffle of the data).
    "sort_topk" -> ((s, dir) =>
      Sorting.topK(
        Tables.orders(s, dir).select("o_orderkey", "o_custkey", "o_totalprice"),
        100, col("o_totalprice").desc, col("o_orderkey"))),

    // Contiguous global ids in total order WITHOUT the naive
    // single-partition row_number window: range partition + per-partition
    // counts (P longs to the driver) + parallel per-partition numbering.
    "q_global_ids" -> ((s, dir) =>
      Sorting.globalIds(
          Tables.orders(s, dir).select("o_orderkey", "o_totalprice"),
          col("o_totalprice").desc, col("o_orderkey"))
        .select(col("o_orderkey"), col("gid"))
        .orderBy(col("gid"))),

    // O1/O2: the reference's synthetic producer — deterministic seeded
    // records from spark.range partition parallelism (domains from
    // generator.go:9-13,24-42), replayed exactly by the DuckDB oracle.
    "generate_records" -> ((s, _) =>
      graft.sources.RecordGenerator.records(s, 1000, seed = 42).orderBy("row_id")),

    // The ENTIRE reference pipeline (EP1+EP2) executed end-to-end on the
    // STREAMING path and graded: produce CSV lines into a partitioned
    // MemTopic (O3, atomic batched append) → STREAMING read directly
    // from the topic (O4's live MicroBatchStream form; AvailableNow
    // pins the per-partition end offsets at query start) → a real
    // StreamingQuery whose foreachBatch total-sorts and appends to the
    // sorted topic with writer→partition identity (O7–O10) →
    // validation-consumer offset-bounded read-back (O4, batch form) in
    // (partition, offset) order. The graded `pos` column is the
    // read-back ORDINAL, so the oracle's row_number over the sort key
    // hash-verifies that (partition, offset) order IS the total order —
    // a mis-sorted batch, a lost/duplicated row, or a broken
    // writer→partition mapping all flip the hash.
    "stream_sorted_copy" -> ((s, dir) => withShufflePartitions(s, 4) {
      import graft.sources.MemTopic
      import graft.streaming.Streaming
      val uid = java.util.UUID.randomUUID().toString.take(8)
      val srcTopic = s"graft_stream_src_$uid"
      val dstTopic = s"graft_stream_sorted_$uid"
      // one sorted-topic partition per task of the sort (the pin above),
      // so the sink's task-i → partition-(i mod n) mapping is the identity
      MemTopic.create(srcTopic, numPartitions = 3)
      MemTopic.create(dstTopic, numPartitions = Streaming.sortTasks(s))
      val c = Tables.customer(s, dir)
      MemTopic.write(c.select(CsvCodec.encode(
        col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_mktsegment")).as("line")),
        srcTopic)
      // streaming read DIRECTLY from the topic (MicroBatchStream — the
      // live O4 form; AvailableNow pins the end offsets at query start)
      val stream = MemTopic.readStream(s, srcTopic)
      val decoded = CsvCodec.decode(stream, col("line"), Seq(
        "id" -> LongType, "name" -> StringType,
        "nationkey" -> IntegerType, "segment" -> StringType))
      val ckpt = ScratchDirs("graft-stream-ckpt")
      Streaming.sortedCopy(decoded, dstTopic, ckpt, Seq(col("id"), col("name")))
        .awaitTermination()
      // the source topic is fully drained and nothing downstream reads
      // it — drop it now; the sorted topic must outlive this call (the
      // returned plan scans it lazily), so it drops on JVM exit
      MemTopic.drop(srcTopic)
      ScratchTopics.register(dstTopic)
      // the ordinal comes from the sorted topic's end offsets, read on the
      // driver: no Spark job at build, no window or shuffle to number it
      val back = MemTopic.readNumbered(s, dstTopic)
      CsvCodec.decode(back.select(col("value").as("line"), col("pos")),
          col("line"), Seq(
            "id" -> LongType, "name" -> StringType,
            "nationkey" -> IntegerType, "segment" -> StringType))
        .select("id", "name", "nationkey", "segment", "pos")
        .orderBy("pos")
    }),

    // STATEFUL streaming graded: the watermarked tumbling-window
    // aggregation (Streaming.windowedCounts) runs as a real
    // AvailableNow StreamingQuery over the events parquet, accumulating
    // window state across micro-batches into the complete-mode memory
    // sink (the bounded-run test sink; production would foreachBatch
    // into a table). The final state is hash-compared against the batch
    // q_time_window oracle — this grades streaming state management
    // itself, not just a stateless per-batch transform like
    // stream_sorted_copy. Complete mode keeps all windows live, so the
    // "last window never emits in append mode" AvailableNow pitfall
    // does not apply.
    // Streaming exact dedup graded ACROSS micro-batches: the events
    // fixture is staged as four files and read with maxFilesPerTrigger=1,
    // so the dedup state genuinely carries between batches (a user seen
    // in batch 0 must suppress its batch-3 occurrences). Output is the
    // distinct key SET, which is order-independent — exactly what
    // first-occurrence-wins guarantees regardless of batch boundaries —
    // so the batch DISTINCT oracle grades it. dropDuplicates* is a
    // stateful FILTER (not an aggregation), so append mode emits
    // immediately and the AvailableNow last-window pitfall does not
    // apply.
    "stream_dedup" -> ((s, dir) => withShufflePartitions(s, 4) {
      val stream = replay(s, dir, EventFiles(Some(4))).stream(s)
      // watermark wider than the fixture's whole time span: batches
      // arrive in arbitrary ts order, and a narrow watermark would
      // DROP a late-batch-only user as late data (correct streaming
      // semantics, but not what the DISTINCT oracle states)
      val deduped = graft.streaming.Streaming.dedupStream(
        stream, Seq("user_id"), watermark = "87600 hours")
      drain(deduped.select("user_id"), "append").orderBy("user_id")
    }),

    "stream_windowed_counts" -> ((s, dir) => withShufflePartitions(s, 4) {
      // FileStreamSource needs a DIRECTORY; the fixture is one parquet
      // file — staged into one, replayed as a single batch
      val stream = replay(s, dir, EventFiles(None))
        .stream(s, oneFilePerTrigger = false)
      val agg = graft.streaming.Streaming.windowedCounts(stream)
      drain(agg, "complete")
        .select(unix_millis(col("window_start")).as("window_start_ms"),
          col("event_type"), col("n"),
          round(col("sum_value"), 2).as("sum_value"))
        .orderBy("window_start_ms", "event_type")
    }),

    // The RocksDB state-store leg: the SAME cross-batch stateful
    // windowed aggregation, but with streaming state held by
    // RocksDBStateStoreProvider (rocksdbjni ships in /opt/spark/jars)
    // instead of the default in-heap HDFSBackedStateStore. This is THE
    // streaming scale surface: at a 100 TB key universe the in-heap
    // store caps state at executor heap size, while RocksDB keeps
    // state on local disk with an LRU block cache — same engine
    // semantics, different backend. Graded against the identical
    // batch oracle: the backend must be semantically INVISIBLE
    // (hash-identical windows/counts/sums from a different state
    // engine). 3-file staging + maxFilesPerTrigger=1 forces the state
    // to genuinely persist and merge across three micro-batch commits
    // (a single-batch run would never touch the store's recovery path).
    "stream_rocksdb_state" -> ((s, dir) => withShufflePartitions(s, 4) {
      withStateStoreProvider(s, "org.apache.spark.sql.execution." +
          "streaming.state.RocksDBStateStoreProvider") {
        val stream = replay(s, dir, EventFiles(Some(3))).stream(s)
        val agg = graft.streaming.Streaming.windowedCounts(stream)
        drain(agg, "complete")
          .select(unix_millis(col("window_start")).as("window_start_ms"),
            col("event_type"), col("n"),
            round(col("sum_value"), 2).as("sum_value"))
          .orderBy("window_start_ms", "event_type")
      }
    }),

    // The state-store READER surface graded: after the windowed
    // aggregation stream commits, its internal state is read back as a
    // BATCH table through the `statestore` DataSourceV2 (key =
    // (window, event_type), value = the live agg buffer (count, sum),
    // plus partition_id; the companion `state-metadata` source lists
    // operators/stores/batch ranges). This is the debugging/ops surface
    // for stateful pipelines at scale — inspect, audit, or repair
    // checkpointed state WITHOUT replaying the stream — and it is graded
    // hard: the state contents must equal the batch GROUP BY oracle
    // exactly (complete-mode agg state IS the final aggregate).
    "stream_state_inspect" -> ((s, dir) => withShufflePartitions(s, 4) {
      val stream = replay(s, dir, EventFiles(Some(3))).stream(s)
      val agg = graft.streaming.Streaming.windowedCounts(stream)
      // the graded result is the checkpointed STATE, not the sink
      val ckpt = ScratchDirs("graft-sssi-ckpt")
      drain(agg, "complete", ckpt)
      s.read.format("statestore").load(ckpt)
        .select(unix_millis(col("key.window.start")).as("window_start_ms"),
          col("key.event_type").as("event_type"),
          col("value.count").as("n"),
          round(col("value.sum"), 2).as("sum_value"))
        .orderBy("window_start_ms", "event_type")
    }),

    // The state CHANGE-FEED surface graded: with RocksDB changelog
    // checkpointing, every per-batch state put is journaled, and the
    // `statestore` source replays the journal as a batch table
    // (readChangeFeed + changeStartBatchId). This is the state-audit/
    // CDC-of-state surface — "what did batch k write?" — and the exactly-
    // once argument made inspectable. Graded end-to-end: replaying the
    // puts and keeping each key's LAST write (argmax batch_id) must
    // reconstruct the final aggregate, i.e. the same batch GROUP BY
    // oracle as the state it journals.
    "stream_state_changelog" -> ((s, dir) => withShufflePartitions(s, 4) {
      withConf(s, "spark.sql.streaming.stateStore.rocksdb." +
          "changelogCheckpointing.enabled", "true") {
        withStateStoreProvider(s, "org.apache.spark.sql.execution." +
            "streaming.state.RocksDBStateStoreProvider") {
          val stream = replay(s, dir, EventFiles(Some(3))).stream(s)
          val agg = graft.streaming.Streaming.windowedCounts(stream)
          val ckpt = ScratchDirs("graft-sscl-ckpt")
          drain(agg, "complete", ckpt)
          s.read.format("statestore")
            .option("readChangeFeed", "true")
            .option("changeStartBatchId", "0")
            .load(ckpt)
            .groupBy(unix_millis(col("key.window.start")).as("window_start_ms"),
              col("key.event_type").as("event_type"))
            .agg(max_by(struct(col("value.count").as("n"),
                col("value.sum").as("s")), col("batch_id")).as("v"))
            .select(col("window_start_ms"), col("event_type"),
              col("v.n").as("n"), round(col("v.s"), 2).as("sum_value"))
            .orderBy("window_start_ms", "event_type")
        }
      }
    }),

    // The arbitrary-stateful-processing v2 surface graded:
    // transformWithState (Spark 4's StatefulProcessor API — named state
    // primitives on the RocksDB store, the successor to
    // flatMapGroupsWithState for long-lived keyed state) maintains a
    // per-user ValueState account across three genuine micro-batch
    // commits. Append mode emits a running snapshot per (user, batch);
    // the snapshot count is strictly monotone per user, so the final
    // account is recovered batch-boundary-INDEPENDENTLY as the argmax-n
    // row — and graded against the plain batch GROUP BY oracle. Cents
    // are floored integers, so cross-batch accumulation is exact in any
    // arrival order.
    "stream_transform_with_state" -> ((s, dir) => withShufflePartitions(s, 4) {
      withStateStoreProvider(s, "org.apache.spark.sql.execution." +
          "streaming.state.RocksDBStateStoreProvider") {
        val stream = replay(s, dir, EventFiles(Some(3))).stream(s)
        val snapshots = graft.streaming.Streaming.userAccumStream(stream)
        drain(snapshots.toDF(), "append")
          .groupBy(col("user_id"))
          .agg(max(col("n")).as("n"),
            max_by(col("cents"), col("n")).as("cents"),
            max(col("max_eid")).as("max_eid"))
          .orderBy("user_id")
      }
    }),

    // Stream–stream INNER interval join graded: clicks and purchases
    // are staged as SEPARATE 3-file directories read with
    // maxFilesPerTrigger=1, so a click in batch 0 must stay buffered in
    // join state until its purchase arrives in batch 2 — this grades
    // cross-batch join-state management, the defining stream–stream
    // problem. Inner-join matches emit in the batch where the second
    // side arrives (no watermark-close needed); the watermark is wider
    // than the fixture span so no row is dropped as late, making the
    // batch self-join oracle the exact expected output.
    // STREAMING sessionization graded: the built-in session_window
    // aggregation runs as a real AvailableNow StreamingQuery (merging
    // session state across arriving events inside the engine),
    // accumulating into the complete-mode memory sink; the final
    // session set is hash-compared against the batch q_session_window
    // oracle (same 30-minute gap). Complete mode keeps every session
    // live, so no session is lost to the append-mode watermark-close
    // rule on a bounded run.
    "stream_session_window" -> ((s, dir) => withShufflePartitions(s, 4) {
      val stream = replay(s, dir, EventFiles(None))
        .stream(s, oneFilePerTrigger = false)
      val agg = graft.streaming.Streaming.sessionWindowAgg(stream, "30 minutes")
      drain(agg, "complete").select("user_id", "sess_start_ms", "sess_end_ms", "n_events")
        .orderBy("user_id", "sess_start_ms")
    }),

    "stream_interval_join" -> ((s, dir) => withShufflePartitions(s, 4) {
      def rd(t: String) = replay(s, dir, EventFiles(Some(3), Some(t))).stream(s)
      val left = rd("click").select(col("event_id").as("l_event"),
        col("user_id"), col("ts_ms").as("l_ts"))
      val right = rd("purchase").select(col("event_id").as("r_event"),
        col("user_id"), col("ts_ms").as("r_ts"))
      val joined = graft.streaming.Streaming.streamStreamIntervalJoin(
        left, right, Seq("user_id"), leftTsMs = "l_ts", rightTsMs = "r_ts",
        lowerMs = 0L, upperMs = 21600000L, watermark = "87600 hours")
      drain(joined.select("l_event", "r_event", "user_id", "l_ts", "r_ts"), "append")
        .orderBy("l_event", "r_event")
    }),

    // Stream–static enrichment graded: events arrive as 3 staged files
    // read with maxFilesPerTrigger=1 (three genuine micro-batches), each
    // batch joining the static customer dimension via the broadcast
    // stream–static join (no state, no watermark — the lookup shape).
    // Append mode emits every enriched row as its batch completes; the
    // accumulated memory-sink table must equal the batch join, which is
    // what the oracle states.
    "stream_enrich" -> ((s, dir) => withShufflePartitions(s, 4) {
      val stream = replay(s, dir, EventFiles(Some(3))).stream(s)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      val dim = Tables.customer(s, dir)
        .select(col("c_custkey").as("user_id"), col("c_name"), col("c_mktsegment"))
      val enriched = graft.streaming.Streaming.enrichStream(stream, dim, Seq("user_id"))
      drain(enriched, "append")
        .select(col("event_id"), col("user_id"), col("event_type"),
          round(col("value"), 4).as("value_r"), col("c_name"), col("c_mktsegment"))
        .orderBy("event_id")
    }),

    // Stream–stream LEFT OUTER interval join graded: the semantics that
    // only exist in streaming — an unmatched click emits its null row
    // ONLY once the watermark proves no purchase can still match
    // (l_ts + upper behind the final eviction watermark); clicks whose
    // horizon is still open when the bounded run ends are ABSENT. Both
    // sides stage as time-tertile slices sharing global day bounds, so
    // batch k pairs slice k of each side, watermarks advance in event
    // time, and nothing is late-dropped; the REAL 1-hour watermark then
    // drives null emission. The oracle = all predicate matches UNION
    // unmatched clicks with l_ts + 6 h < min(side maxima) − 1 h.
    "stream_outer_join" -> ((s, dir) => withShufflePartitions(s, 4) {
      def rd(t: String) = replay(s, dir,
        EventSlices(Seq("event_id", "ts_ms", "user_id"), Some(t))).stream(s)
      val left = rd("click").select(col("event_id").as("l_event"),
        col("user_id"), col("ts_ms").as("l_ts"))
      val right = rd("purchase").select(col("event_id").as("r_event"),
        col("user_id"), col("ts_ms").as("r_ts"))
      val joined = graft.streaming.Streaming.streamStreamIntervalJoin(
        left, right, Seq("user_id"), leftTsMs = "l_ts", rightTsMs = "r_ts",
        lowerMs = 0L, upperMs = 21600000L, watermark = "1 hour",
        joinType = "left_outer")
      drain(joined.select("l_event", "r_event", "user_id", "l_ts", "r_ts"), "append")
        .orderBy(col("l_event"), col("r_event").asc_nulls_first)
    }),

    // foreachBatch MERGE SINK graded: the production pattern for
    // streaming upserts into a keyed table without a transactional
    // format — each micro-batch reduces to its latest row per key (a
    // partial-aggregable struct max, never a window over the batch),
    // then merges into the parquet state via the same full-outer-join
    // Upsert the batch surface grades, writing a NEW state generation
    // per batch (read-and-overwrite of one path would race the scan).
    // Batches are time-tertile slices, so cross-batch override order is
    // event-time order and the final state must equal the batch
    // latest-row-per-user oracle.
    "stream_upsert_sink" -> ((s, dir) => withShufflePartitions(s, 4) {
      val stream = replay(s, dir, EventTertiles).stream(s)
      val stateRoot = ScratchDirs("graft-sus-state")
      @volatile var statePath: Option[String] = None
      val ckpt = ScratchDirs("graft-sus-ckpt")
      val q = stream.writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          val delta = latestPerUser(batch)
          val merged = statePath match {
            case None => delta
            case Some(p) =>
              graft.operators.Upsert(Tables.parquet(s, p), delta, "user_id")
          }
          val next = s"$stateRoot/state-$batchId"
          merged.write.mode("overwrite").parquet(next)
          statePath = Some(next)
          ()
        }
        .start()
      q.awaitTermination()
      Tables.parquet(s, statePath.get)
        .select(col("user_id"), col("ts_ms"), col("event_type"),
          round(col("value"), 4).as("value_r"))
        .orderBy("user_id")
    }),

    // EXACTLY-ONCE VERSIONED STREAMING SINK graded — foreachBatch
    // delivery is AT-LEAST-ONCE (a micro-batch replays after a driver
    // restart), so a transactional sink must make the replay a no-op.
    // This is the public Delta-Lake txn/txnVersion design on our
    // versioned table: each micro-batch commits through
    // TimeTravel.upsertOnce with the batch id as the transaction id,
    // which records the id in the manifest alongside the delta — and
    // the query REPLAYS every batch on purpose (a second upsertOnce
    // with the same id, the restart case, machine-checked per batch):
    // the replay must return the SAME version and commit NOTHING. The
    // final latestVersion require proves exactly 3 micro-batch commits
    // landed for 3 staged slices + replays; the hash grade proves the
    // table's final snapshot equals the per-user last event over the
    // whole stream (within-batch dedup via one max_by struct; across
    // batches last-writer-wins on version order = arrival order, the
    // same LWW a 100 TB CDC-ingest trickle relies on).
    "stream_versioned_sink" -> ((s, dir) => withShufflePartitions(s, 4) {
      import graft.operators.TimeTravel
      val in = replay(s, dir, EventTertiles)
      val root = ScratchDirs("graft-svs")
      // v0: an EMPTY base — the table exists before the first batch,
      // so every micro-batch goes through the same idempotent path
      TimeTravel.init(
        Tables.parquet(s, in.dir).limit(0)
          .select(col("user_id"), col("ts_ms"), col("event_type"),
            col("value")),
        root, "user_id")
      val stream = in.stream(s)
      val ckpt = ScratchDirs("graft-svs-ckpt")
      val q = stream.writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          val delta = latestPerUser(batch)
          val txn = s"svs-batch-$batchId"
          val v = TimeTravel.upsertOnce(root, delta, txn)
          val replay = TimeTravel.upsertOnce(root, delta, txn)
          require(replay == v && TimeTravel.latestVersion(root) == v,
            s"replayed batch $batchId must be a no-op: v$replay after v$v")
          ()
        }
        .start()
      q.awaitTermination()
      val vEnd = TimeTravel.latestVersion(root)
      require(vEnd == 3L,
        s"3 slices + per-batch replays must commit exactly 3 versions, got $vEnd")
      TimeTravel.snapshot(s, root, vEnd, "user_id")
        .select(col("user_id"), col("ts_ms"), col("event_type"),
          round(col("value"), 4).as("value_r"))
        .orderBy("user_id")
    }),

    // SLIDING-window streaming aggregation graded: 1-hour windows every
    // 30 minutes, so each event fans into exactly TWO overlapping
    // windows — the semantic tumbling windows cannot express. Complete
    // mode (same AvailableNow protocol as stream_windowed_counts); the
    // oracle replays the fan-out by expanding each event to its two
    // epoch-aligned window starts.
    "stream_sliding_window" -> ((s, dir) => withShufflePartitions(s, 4) {
      val stream = replay(s, dir, EventFiles(None))
        .stream(s, oneFilePerTrigger = false)
      val agg = graft.streaming.Streaming.slidingCounts(stream)
      drain(agg, "complete")
        .select(unix_millis(col("window_start")).as("window_start_ms"),
          col("event_type"), col("n"),
          round(col("sum_value"), 2).as("sum_value"))
        .orderBy("window_start_ms", "event_type")
    }),

    // STREAMING HLL graded: the mergeable-sketch argument made
    // executable — hllRegisters' per-(group, bucket) max is idempotent
    // and commutative, so the registers accumulated across three
    // micro-batches in complete mode MUST equal the batch registers,
    // and the finalized estimate hash-matches the q_hll_sketch oracle's
    // replay. Aggregation state is |types|·256 rows — bounded by the
    // sketch, not the stream (THE reason sketches exist at 100 TB).
    "stream_hll" -> ((s, dir) => withShufflePartitions(s, 4) {
      val stream = replay(s, dir, EventFiles(Some(3))).stream(s)
      val regs = graft.operators.Sketches.hllRegisters(
        stream.select(col("event_type"), col("user_id")),
        "event_type", col("user_id"))
      // finalize the LOCAL snapshot, never the sink: hllEstimate
      // self-joins the registers against their own group spine, and the
      // memory-sink VIEW exposes identical attribute ids on both sides
      // (analyzer conflict). The sink is sketch-sized (|types|·256 rows).
      graft.operators.Sketches.hllEstimate(drain(regs, "complete"), "event_type")
        .orderBy("event_type")
    }),

    // WATERMARK LATE-DATA DROP graded: the defining semantics of
    // event-time streaming — rows that arrive after their window passed
    // the watermark are DROPPED, and append mode emits only windows the
    // watermark has closed. The events fixture is split into three
    // time-tertile slices; a deterministic subset of tertile-1 rows
    // (event_id % 17 = 0) is PLANTED into slice 3, arriving ~20 days
    // late against a 1-hour watermark. Slices get strictly increasing
    // mtimes so maxFilesPerTrigger=1 replays them as ordered
    // micro-batches. The oracle replays the engine's TWO-watermark
    // protocol in SQL (late-filter watermark lags one batch behind the
    // eviction watermark — see the oracle comment): a row survives iff
    // its window end exceeds its batch's LATE watermark, and a window
    // emits iff its end ≤ the final eviction watermark — so the drop
    // rule, its one-batch slack, and the append-mode close rule are all
    // hash-graded.
    "stream_late_drop" -> ((s, dir) => withShufflePartitions(s, 4) {
      val stream = replay(s, dir, EventSlices(
        Seq("event_id", "ts_ms", "event_type", "value"), plantLate = true)).stream(s)
      val agg = graft.streaming.Streaming.windowedCounts(stream)
      drain(agg, "append")
        .select(unix_millis(col("window_start")).as("window_start_ms"),
          col("event_type"), col("n"),
          round(col("sum_value"), 2).as("sum_value"))
        .orderBy("window_start_ms", "event_type")
    }),

    // CUSTOM flatMapGroupsWithState graded: gap DETECTION — per
    // event_type, O(1) state holds only the last seen 1-hour bucket;
    // when an arriving event's bucket skips ahead, every missed bucket
    // in between is emitted (the live twin of the batch gap-fill spine
    // join). Reuses the clean time-tertile staging (monotone slices:
    // every bucket in batch k precedes batch k+1, and a 1 h bucket
    // never straddles the day-aligned tertile boundary), so the emitted
    // set must equal the batch interior-gap oracle — a gap spanning a
    // batch boundary is only revealed by a LATER batch's event, which
    // grades that the custom state genuinely carries across
    // micro-batches. Emission is arrival-order-deterministic because
    // the slices are globally time-ordered by construction.
    "stream_gap_detect" -> ((s, dir) => withShufflePartitions(s, 4) {
      val stream = replay(s, dir, EventTertiles).stream(s)
      import s.implicits._
      val ticks = stream.select(col("event_type").as("key"), col("ts_ms"))
        .as[graft.streaming.Streaming.Tick]
      val gaps = graft.streaming.Streaming
        .gapDetectStream(ticks, bucketMs = 3600000L)
      drain(gaps.toDF(), "append").select(col("key"), col("bucket_ms"))
        .orderBy("key", "bucket_ms")
    }),

    // CUSTOM fMGWS sessionization graded — the EAGER-emission semantics
    // the built-in session_window cannot express (stream_session_window
    // grades that one): a session emits the moment a later event
    // REVEALS its closing gap, not when the watermark passes; the open
    // tail stays in state. Same monotone time-tertile staging, so a
    // session spanning a batch boundary must survive in state and merge
    // with the next batch's events — the cross-batch claim under grade.
    // On bounded input the emitted set is exactly the batch
    // gap-and-island sessions MINUS each user's last (never-closed)
    // session; the oracle replays that with the custom rule's STRICT
    // gap comparison (merge at exactly 30 min, split beyond — the
    // built-in splits AT the boundary).
    "stream_custom_sessions" -> ((s, dir) => withShufflePartitions(s, 4) {
      val stream = replay(s, dir, EventTertiles).stream(s)
      import s.implicits._
      val evts = stream.select(col("user_id"), col("event_id"), col("ts_ms"))
        .as[graft.streaming.Streaming.Evt]
      val sessions = graft.streaming.Streaming
        .sessionize(evts, gapMs = 1800000L)
      drain(sessions.toDF(), "append")
        .select(col("user_id"), col("sess_start_ms"), col("sess_end_ms"),
          col("n_events"))
        .orderBy("user_id", "sess_start_ms")
    }),

    // Event-time TIMERS graded (transformWithState, TimeMode.EventTime):
    // per-(user, day) inactivity close-out where emission happens ONLY
    // in handleExpiredTimer — when the WATERMARK crosses the key's
    // last event + gap — never on an arriving row. The day-based key
    // confines every key to exactly one time-tertile batch, so the
    // staged protocol collapses to a batch-independent contract the
    // oracle can state exactly: a key emits iff last_ms + gap <= the
    // final watermark (empirically pinned: expiry is boundary-INCLUSIVE
    // and AvailableNow runs one final timer sweep at the global max
    // event time). Keys still inside the gap at end-of-stream stay in
    // state and never emit — the open tail of a live pipeline.
    // StreamingSpec additionally pins WHICH batch each timer fires in
    // (mid-stream for tertile-1 keys, the final sweep for late-covered
    // ones) via a foreachBatch probe on synthetic staged input.
    "stream_state_timers" -> ((s, dir) => withShufflePartitions(s, 4) {
      withStateStoreProvider(s, "org.apache.spark.sql.execution." +
          "streaming.state.RocksDBStateStoreProvider") {
        val stream = replay(s, dir, EventTertiles).stream(s)
        val closes = graft.streaming.Streaming
          .dayCloseStream(stream, gapMs = 3600007L)
        drain(closes.toDF(), "append").orderBy("user_id", "day")
      }
    }),

    // CHECKPOINT-RESTART RECOVERY graded — the exactly-once claim the
    // streaming surface rests on, finally exercised rather than
    // asserted: a stateful windowed aggregation runs to completion
    // (AvailableNow) over the FIRST TWO time-tertiles of the fixture,
    // STOPS, more input lands (tertile 3), and a NEW StreamingQuery
    // restarts from the SAME checkpoint. The restarted query must (a)
    // resume rather than restart — enforced in-code: the run-1 commit
    // files survive verbatim and run 2 APPENDS strictly newer batch
    // ids — and (b) restore the window state and merge only the new
    // tertile into it, so the final complete-mode table equals the
    // batch aggregate over the WHOLE fixture (the DuckDB grade). A
    // recovery defect is observable either way: reprocessing old files
    // double-counts (hash flip), lost state drops the run-1 windows
    // (hash flip), ignoring the checkpoint rewrites batch 0 (require
    // fails). The input MUTATES mid-query, so the run reads a per-run
    // directory the staged slices land in one at a time.
    "stream_restart_recovery" -> ((s, dir) => withShufflePartitions(s, 4) {
      val in = replay(s, dir, EventTertiles)
      val hand = ScratchDirs("graft-srr-in")
      val ckpt = ScratchDirs("graft-srr-ckpt")
      in.land(1, hand); in.land(2, hand)
      def run(): DataFrame = drain(
        graft.streaming.Streaming.windowedCounts(
          in.stream(s, oneFilePerTrigger = false, hand)),
        "complete", ckpt)
      val first = run()
      val commits1 = ckptCommits(ckpt)
      in.land(3, hand)
      val fin = run()
      val commits2 = ckptCommits(ckpt)
      // the restart proves nothing unless run 1 was genuinely partial
      // and run 2 genuinely RESUMED (old commits intact, new ones
      // strictly appended — a from-scratch run would rewrite batch 0)
      require(first.count() < fin.count(),
        "restart-recovery fixture defect: run 1 was not partial")
      require(commits1.nonEmpty && commits1.subsetOf(commits2) &&
          commits2.size > commits1.size,
        s"run 2 did not resume the checkpoint: $commits1 -> $commits2")
      fin
        .select(unix_millis(col("window_start")).as("window_start_ms"),
          col("event_type"), col("n"),
          round(col("sum_value"), 2).as("sum_value"))
        .orderBy("window_start_ms", "event_type")
    }),

    // CHECKPOINT-RESTART RECOVERY of the transformWithState surface —
    // the v2 ARBITRARY-state analog of stream_restart_recovery: where
    // that query proves the engine restores its own windowed-agg
    // buffers, this one proves USER-DEFINED named state (the
    // StatefulProcessor's ValueState on the RocksDB store) survives a
    // stop, a new-data landing, and a fresh StreamingQuery resuming
    // the same checkpoint. The per-user account accumulates across the
    // restart boundary; append mode emits a snapshot per (user,
    // touched batch), so the final account is recovered
    // batch-AND-RESTART-independently as the argmax-n row over the
    // UNION of both runs' emission logs (a user untouched after the
    // restart keeps its run-1 snapshot; a touched one's run-2 snapshot
    // must CONTINUE from restored state — lost state restarts its
    // count and flips the hash). Same resume require()s as
    // stream_restart_recovery; cents are floored integers so
    // accumulation is exact in any slicing.
    "stream_restart_tws" -> ((s, dir) => withShufflePartitions(s, 4) {
      withStateStoreProvider(s, "org.apache.spark.sql.execution." +
          "streaming.state.RocksDBStateStoreProvider") {
        val in = replay(s, dir,
          EventSlices(Seq("event_id", "ts_ms", "user_id", "value")))
        val hand = ScratchDirs("graft-srt-in")
        val ckpt = ScratchDirs("graft-srt-ckpt")
        in.land(1, hand); in.land(2, hand)
        // the append-mode MEMORY sink refuses checkpoint recovery (only
        // complete mode regenerates its table) — the recoverable sink
        // here is the parquet FILE sink, whose _spark_metadata log is
        // also what makes the cross-restart emission log readable as
        // ONE exactly-once table afterwards
        val outDir = ScratchDirs("graft-srt-out")
        def run(): Unit = {
          val stream = in.stream(s, oneFilePerTrigger = false, hand)
          val snaps = graft.streaming.Streaming.userAccumStream(stream)
          val q = snaps.toDF().writeStream
            .trigger(Trigger.AvailableNow())
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .format("parquet").option("path", outDir)
            .start()
          q.awaitTermination()
        }
        run()
        val commits1 = ckptCommits(ckpt)
        in.land(3, hand)
        run()
        val commits2 = ckptCommits(ckpt)
        require(commits1.nonEmpty && commits1.subsetOf(commits2) &&
            commits2.size > commits1.size,
          s"run 2 did not resume the checkpoint: $commits1 -> $commits2")
        Tables.parquet(s, outDir)
          .groupBy(col("user_id"))
          .agg(max(col("n")).as("n"),
            max_by(col("cents"), col("n")).as("cents"),
            max(col("max_eid")).as("max_eid"))
          .orderBy("user_id")
      }
    }),

    // MULTIPLE STATEFUL OPERATORS in one query graded (SPARK-42376,
    // the Spark-4 pipeline shape): stream-stream interval join
    // (clicks ⋈ purchases within 6 h on user_id) feeding a 1-day
    // tumbling-window aggregation — two stateful operators, ONE
    // checkpoint, with the engine propagating the join's event-time
    // delay into the downstream agg's watermark (no watermark
    // re-declaration: the join output already carries the tag, and
    // redefining it is disallowed under allowMultiple). Emission
    // protocol made grade-proof instead of modeled: append mode emits
    // a window only once the PROPAGATED watermark closes it, so the
    // graded result is sink ∪ open-agg-state — every joined pair is in
    // exactly one of the two (emitted windows are evicted from state
    // atomically), making the union equal the batch join+window
    // aggregate independently of where the close boundary falls. The
    // open state is read back through the statestore source
    // (operatorId 0 = the agg; the probe-pinned key/value schema is
    // key.window.start / value.{count,sum}) — the same ops surface
    // stream_state_inspect grades. Monotone tertile slices on both
    // sides keep every row inside the 1-hour watermark (no late
    // drops), and the inner join cannot lose a match to eviction:
    // eviction needs wm > l_ts + 6 h, which requires a LATER-batch
    // event, and all matching purchases arrived by then (time-ordered
    // slices) and processed before the batch-end eviction.
    "stream_join_then_window" -> ((s, dir) => withShufflePartitions(s, 4) {
      def rd(t: String) = replay(s, dir,
        EventSlices(Seq("event_id", "ts_ms", "user_id"), Some(t))).stream(s)
      val left = rd("click").select(col("event_id").as("l_event"),
        col("user_id"), col("ts_ms").as("l_ts"))
      val right = rd("purchase").select(col("event_id").as("r_event"),
        col("user_id"), col("ts_ms").as("r_ts"))
      val joined = graft.streaming.Streaming.streamStreamIntervalJoin(
        left, right, Seq("user_id"), leftTsMs = "l_ts", rightTsMs = "r_ts",
        lowerMs = 0L, upperMs = 21600000L, watermark = "1 hour")
      val agg = joined
        .groupBy(window(col("l_event_time"), "1 day"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("r_ts") - col("l_ts")).as("sum_lag_ms"))
        .select(unix_millis(col("window.start")).as("win_ms"),
          col("n_pairs"), col("sum_lag_ms"))
      val ckpt = ScratchDirs("graft-sjtw-ckpt")
      val closed = drain(agg, "append", ckpt)
      val open = s.read.format("statestore")
        .option("operatorId", "0").load(ckpt)
        .select(unix_millis(col("key.window.start")).as("win_ms"),
          col("value.count").as("n_pairs"),
          col("value.sum").as("sum_lag_ms"))
      closed.unionByName(open).orderBy("win_ms")
    }),

    // TASK-LEVEL FAULT TOLERANCE graded — exactly-once THROUGH a task
    // retry INSIDE a stateful micro-batch, not just across graceful
    // stops (stream_restart_recovery's scope): the windowed aggregation
    // runs over three monotone tertile slices, and a one-shot transient
    // failure (FaultInjection) is thrown by the first task of the THIRD
    // micro-batch that touches a tertile-3 window — i.e. inside the
    // stateful result stage, after the task has loaded and updated two
    // batches of carried window state but BEFORE its state-store
    // commit. Spark must abort the uncommitted store changes, retry the
    // task (attemptNumber 1), reload the last committed state version,
    // and reapply the batch exactly once. Both halves are
    // machine-checked: the tag must be CONSUMED (the throw really
    // happened) and the `retried` accumulator — which only a SUCCESSFUL
    // task attempt can land — must be positive (the recovery path really
    // ran). The grade then hash-compares the final complete-mode state
    // against the whole-fixture batch oracle: a double-applied batch
    // (commit-then-retry), lost state (reload miss), or dropped rows
    // all flip the hash. Needs a retry budget: local masters run with
    // maxFailures=1 unless `local[N,F]` — every session in this repo
    // (`Session.local`: Verify, Bench, specs, tools) grants F=2, and the
    // require makes a budget-less session fail loudly instead of
    // silently skipping the injection.
    "stream_task_retry" -> ((s, dir) => taskRetryQuery(s, dir)),

    // The SAME mid-batch task-failure grade on the RocksDB state store:
    // the backend whose abort path differs materially from the in-heap
    // default (native store instance + changelog/file cleanup must roll
    // back, and the retry must reload the last committed version from
    // the checkpoint) — at 100 TB the store IS RocksDB, so exactly-once
    // through a retry must be proven against it, not just the
    // HDFS-backed map. Identical protocol, oracle, and requires.
    "stream_task_retry_rocksdb" -> ((s, dir) =>
      withStateStoreProvider(s, "org.apache.spark.sql.execution." +
          "streaming.state.RocksDBStateStoreProvider") {
        taskRetryQuery(s, dir)
      }))

  /** The stream_task_retry protocol, shared by the in-heap and RocksDB
    * grades (see the stream_task_retry registry comment): windowed agg
    * over three monotone tertile batches, a one-shot transient failure
    * in the stateful result stage of the third, both failure halves
    * machine-checked, final state graded against the batch oracle. */
  private def taskRetryQuery(s: SparkSession, dir: String): DataFrame =
    withShufflePartitions(s, 4) {
      val m = s.sparkContext.master
      val localRe = """local(?:\[([0-9*]+)(?:,\s*(\d+))?\])?""".r
      val canRetry = m match {
        case localRe(_, f) => f != null && f.toInt >= 2
        case _ => true // cluster masters: spark.task.maxFailures >= 2
      }
      require(canRetry,
        s"stream_task_retry needs a task-retry budget (local[N,2+]); master=$m")
      val in = replay(s, dir, EventTertiles)
      // the fault marker = windows of the THIRD staged slice, which
      // first exist in micro-batch 2's output. Derived from slice-3
      // ITSELF (min ts, floored to the window grain) — definitionally
      // synchronized with whatever the staging wrote, no second copy
      // of the tertile formula, no full-table scan; day-aligned
      // tertiles mean the floor-hour window holds only slice-3 rows
      val slice3Min = Tables.parquet(s,
          new java.io.File(in.dir, "slice-3.parquet").getPath)
        .agg(min(col("ts_ms"))).head()
      require(!slice3Min.isNullAt(0), "staged slice 3 is empty")
      val lo3Ms = (slice3Min.getLong(0) / 3600000L) * 3600000L
      val tag = "graft_retry_" + java.util.UUID.randomUUID().toString.take(8)
      graft.streaming.FaultInjection.arm(tag)
      val retried = s.sparkContext.longAccumulator(s"retried_$tag")
      val agg = graft.streaming.Streaming.windowedCounts(in.stream(s))
        .withColumn("n", graft.streaming.FaultInjection.faultOnce(tag, retried)(
          col("n"), unix_millis(col("window_start")) >= lit(lo3Ms)))
      val fin = drain(agg, "complete")
      require(graft.streaming.FaultInjection.consumed(tag),
        "injected fault never fired: the marker row was never evaluated " +
          "on a first-attempt task")
      require(retried.value > 0,
        "no task attempt > 0 completed: the failure was not retried")
      fin
        .select(unix_millis(col("window_start")).as("window_start_ms"),
          col("event_type"), col("n"),
          round(col("sum_value"), 2).as("sum_value"))
        .orderBy("window_start_ms", "event_type")
    }

  val oracles: Map[String, String] = Map(
    "sort_by_id" ->
      """SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, event_type, value, props
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "sort_by_name" ->
      "SELECT * FROM customer ORDER BY c_name, c_custkey",
    "sort_by_continent" ->
      "SELECT * FROM customer ORDER BY c_mktsegment, c_custkey",
    "csv_roundtrip_sort" ->
      """SELECT c_custkey AS id, c_name AS name,
        |       c_nationkey AS nationkey, c_mktsegment AS segment
        |FROM customer ORDER BY id, name""".stripMargin,
    "validate_monotonic" ->
      """SELECT count(*) AS n_rows,
        |       count(CASE WHEN prev > k THEN 1 END) AS n_inversions
        |FROM (SELECT user_id AS k,
        |             lag(user_id) OVER (ORDER BY user_id, event_id) AS prev
        |      FROM events) t""".stripMargin,
    "sort_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "q_global_ids" ->
      """SELECT o_orderkey,
        |       row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) - 1 AS gid
        |FROM orders ORDER BY gid""".stripMargin,
    "generate_records" ->
      graft.sources.RecordGenerator.oracleSql(1000, seed = 42),
    "stream_sorted_copy" ->
      """SELECT c_custkey AS id, c_name AS name,
        |       c_nationkey AS nationkey, c_mktsegment AS segment,
        |       row_number() OVER (ORDER BY c_custkey, c_name) AS pos
        |FROM customer ORDER BY pos""".stripMargin,
    "stream_windowed_counts" ->
      """SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms, event_type,
        |       count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start_ms, event_type""".stripMargin,
    // Identical to the stream_windowed_counts oracle: the state
    // BACKEND (RocksDB vs in-heap) must not change a single value.
    "stream_rocksdb_state" ->
      """SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms, event_type,
        |       count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start_ms, event_type""".stripMargin,
    "stream_dedup" ->
      "SELECT DISTINCT user_id FROM events ORDER BY user_id",
    // Replaying the state journal and keeping each key's last write must
    // reconstruct the final aggregate — same statement as the windowed
    // counts oracle.
    "stream_state_changelog" ->
      """SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms, event_type,
        |       count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start_ms, event_type""".stripMargin,
    // The checkpointed agg state read back through the statestore source
    // must BE the final aggregate — same statement as the windowed
    // counts oracle.
    "stream_state_inspect" ->
      """SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms, event_type,
        |       count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start_ms, event_type""".stripMargin,
    // The final per-user account the StatefulProcessor converges to must
    // equal the plain batch rollup, whatever the micro-batch slicing.
    "stream_transform_with_state" ->
      """SELECT user_id, count(*) AS n,
        |       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents,
        |       max(event_id) AS max_eid
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // Identical to the batch q_session_window oracle (30-minute gap):
    // the streaming engine's merged session state must converge to the
    // batch gap-and-island answer on bounded input.
    "stream_session_window" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
        |         lag(epoch_ms(ts)) OVER (PARTITION BY user_id
        |                                 ORDER BY epoch_ms(ts), event_id) AS prev_ms
        |  FROM events),
        |s AS (
        |  SELECT *, CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms >= 1800000
        |                 THEN 1 ELSE 0 END AS new_sess FROM e),
        |t AS (
        |  SELECT user_id, ts_ms,
        |         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |                             ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM s)
        |SELECT user_id, min(ts_ms) AS sess_start_ms,
        |       max(ts_ms) + 1800000 AS sess_end_ms, count(*) AS n_events
        |FROM t GROUP BY user_id, session_id ORDER BY user_id, sess_start_ms""".stripMargin,
    "stream_interval_join" ->
      """WITH e AS (SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, event_type
        |           FROM events)
        |SELECT l.event_id AS l_event, r.event_id AS r_event, l.user_id,
        |       l.ts_ms AS l_ts, r.ts_ms AS r_ts
        |FROM e l JOIN e r ON l.user_id = r.user_id
        |WHERE l.event_type = 'click' AND r.event_type = 'purchase'
        |  AND r.ts_ms >= l.ts_ms AND r.ts_ms <= l.ts_ms + 21600000
        |ORDER BY l_event, r_event""".stripMargin,

    "stream_enrich" ->
      """SELECT event_id, user_id, event_type, round(value, 4) AS value_r,
        |       c_name, c_mktsegment
        |FROM events JOIN customer ON user_id = c_custkey
        |ORDER BY event_id""".stripMargin,

    // Matches = the full predicate join; null rows = unmatched clicks
    // whose match horizon closed under the final watermark (min of the
    // two sides' max event times, minus the 1-hour delay). Clicks with
    // an open horizon are absent — the bounded-run analogue of "the
    // stream might still match them".
    "stream_outer_join" ->
      """WITH e AS (SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, event_type
        |           FROM events),
        |l AS (SELECT event_id AS l_event, user_id, ts_ms AS l_ts FROM e
        |      WHERE event_type = 'click'),
        |r AS (SELECT event_id AS r_event, user_id, ts_ms AS r_ts FROM e
        |      WHERE event_type = 'purchase'),
        |m AS (SELECT l.l_event, r.r_event, l.user_id, l.l_ts, r.r_ts
        |      FROM l JOIN r ON l.user_id = r.user_id
        |       AND r.r_ts >= l.l_ts AND r.r_ts <= l.l_ts + 21600000),
        |wm AS (SELECT least((SELECT max(l_ts) FROM l),
        |                    (SELECT max(r_ts) FROM r)) - 3600000 AS wf),
        |u AS (SELECT l.l_event, NULL::BIGINT AS r_event, l.user_id, l.l_ts,
        |             NULL::BIGINT AS r_ts
        |      FROM l CROSS JOIN wm
        |      WHERE l.l_ts + 21600000 < wm.wf
        |        AND NOT EXISTS (SELECT 1 FROM m WHERE m.l_event = l.l_event))
        |SELECT * FROM m UNION ALL SELECT * FROM u
        |ORDER BY l_event, r_event NULLS FIRST""".stripMargin,

    // The accumulated foreachBatch state must equal the batch
    // latest-row-per-key reduction over the full fixture.
    "stream_upsert_sink" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id,
        |             event_type, value
        |           FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |                  ORDER BY ts_ms DESC, event_id DESC) AS rk
        |      FROM e)
        |SELECT user_id, ts_ms, event_type, round(value, 4) AS value_r
        |FROM r WHERE rk = 1 ORDER BY user_id""".stripMargin,

    // Same per-user last-event replay as stream_upsert_sink: the
    // versioned sink's LWW across batch-ordered commits + within-batch
    // max_by dedup reduces to the global (ts_ms, event_id) argmax
    // because the staged tertiles are time-monotone.
    "stream_versioned_sink" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id,
        |             event_type, value
        |           FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |                  ORDER BY ts_ms DESC, event_id DESC) AS rk
        |      FROM e)
        |SELECT user_id, ts_ms, event_type, round(value, 4) AS value_r
        |FROM r WHERE rk = 1 ORDER BY user_id""".stripMargin,

    // Replays the engine's TWO-watermark protocol (SPARK-42376, the
    // multiple-stateful-operator design): a batch filters LATE rows
    // with the watermark of the PREVIOUS batch (max event time through
    // batch k−2, minus delay) while EVICTION/emission advances with the
    // current one — so the append-mode output closes against the final
    // watermark, but a late row survives one extra batch of slack. The
    // planted fixture makes the distinction observable: the two newest
    // planted rows sit between the two watermarks and must be KEPT.
    "stream_late_drop" ->
      """WITH e AS (SELECT event_id, epoch_ms(ts) AS ts_ms, event_type,
        |             CAST(value AS DOUBLE) AS v,
        |             epoch_ms(ts) // 86400000 AS day
        |           FROM events),
        |bounds AS (SELECT min(day) AS mn, max(day) AS mx FROM e),
        |b AS (SELECT e.*,
        |        CASE WHEN ((day - mn) * 3) // (mx - mn + 1) + 1 = 1
        |                  AND event_id % 17 = 0 THEN 3
        |             ELSE ((day - mn) * 3) // (mx - mn + 1) + 1 END AS batch
        |      FROM e CROSS JOIN bounds),
        |m AS (SELECT batch, max(ts_ms) AS mb FROM b GROUP BY 1),
        |w AS (SELECT k.batch,
        |        (SELECT max(mb) FROM m WHERE m.batch < k.batch - 1) - 3600000
        |          AS wm_late
        |      FROM m k),
        |surv AS (SELECT b.* FROM b JOIN w ON w.batch = b.batch
        |         WHERE w.wm_late IS NULL
        |            OR ((b.ts_ms // 3600000) + 1) * 3600000 > w.wm_late),
        |wfin AS (SELECT max(mb) - 3600000 AS wf FROM m),
        |agg AS (SELECT (ts_ms // 3600000) * 3600000 AS window_start_ms,
        |          event_type, count(*) AS n, round(sum(v), 2) AS sum_value
        |        FROM surv GROUP BY 1, 2)
        |SELECT window_start_ms, event_type, n, sum_value
        |FROM agg CROSS JOIN wfin
        |WHERE window_start_ms + 3600000 <= wf
        |ORDER BY window_start_ms, event_type""".stripMargin,

    // Each event belongs to exactly two 1h/30min windows: the one
    // starting at its 30-minute floor and the one 30 minutes earlier.
    "stream_sliding_window" ->
      """WITH x AS (SELECT epoch_ms(ts) AS ts_ms, event_type,
        |             CAST(value AS DOUBLE) AS v
        |           FROM events),
        |w AS (SELECT (ts_ms // 1800000) * 1800000 - k * 1800000
        |               AS window_start_ms,
        |        event_type, v
        |      FROM x CROSS JOIN (SELECT unnest([0, 1]) AS k) ks)
        |SELECT window_start_ms, event_type, count(*) AS n,
        |       round(sum(v), 2) AS sum_value
        |FROM w GROUP BY 1, 2 ORDER BY window_start_ms, event_type""".stripMargin,

    // The batch HLL replay (shared CTEs from Sketches.oracleCtes, next
    // to the one Spark implementation): register max is merge-safe, so
    // accumulating across micro-batches must land on the identical
    // registers.
    "stream_hll" ->
      s"""WITH ${graft.operators.Sketches.oracleCtes}
         |SELECT event_type, CAST(256 - v0 AS BIGINT) AS registers_nonzero,
         |       round(${graft.operators.Sketches.oracleEstimateExpr},
         |             2) AS hll_estimate
         |FROM agg ORDER BY event_type""".stripMargin,

    // Batch interior-gap replay: globally time-ordered slices mean the
    // stream's final emitted set is exactly every missed bucket between
    // consecutive observed buckets per key.
    "stream_gap_detect" ->
      """WITH b AS (SELECT DISTINCT event_type AS key,
        |             epoch_ms(ts) // 3600000 AS bucket
        |           FROM events),
        |p AS (SELECT key, bucket,
        |        lag(bucket) OVER (PARTITION BY key ORDER BY bucket) AS prev
        |      FROM b),
        |g AS (SELECT key, unnest(generate_series(prev + 1, bucket - 1)) AS gb
        |      FROM p WHERE prev IS NOT NULL AND bucket > prev + 1)
        |SELECT key, gb * 3600000 AS bucket_ms
        |FROM g ORDER BY key, bucket_ms""".stripMargin,

    // Batch gap-and-island replay with the CUSTOM operator's strict
    // gap rule (split only when gap > 30 min; end = last event, no +gap
    // padding), minus each user's last session (the open tail that
    // never closes on bounded input).
    "stream_custom_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
        |         lag(epoch_ms(ts)) OVER (PARTITION BY user_id
        |                                 ORDER BY epoch_ms(ts), event_id)
        |           AS prev_ms
        |  FROM events),
        |s AS (
        |  SELECT *, CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > 1800000
        |                 THEN 1 ELSE 0 END AS new_sess FROM e),
        |t AS (
        |  SELECT user_id, ts_ms,
        |         sum(new_sess) OVER (PARTITION BY user_id
        |                             ORDER BY ts_ms, event_id
        |                             ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM s),
        |g AS (SELECT user_id, session_id, min(ts_ms) AS sess_start_ms,
        |        max(ts_ms) AS sess_end_ms, count(*) AS n_events
        |      FROM t GROUP BY 1, 2),
        |mx AS (SELECT user_id, max(session_id) AS last_sess
        |       FROM g GROUP BY 1)
        |SELECT g.user_id AS user_id, sess_start_ms, sess_end_ms, n_events
        |FROM g JOIN mx ON g.user_id = mx.user_id
        |WHERE g.session_id < mx.last_sess
        |ORDER BY g.user_id, sess_start_ms""".stripMargin,

    // The timer protocol collapsed batch-independently: a (user, day)
    // key fires iff last_ms + gap <= the final watermark (the global
    // max event time under the 0s delay); fired_ms is the expiry itself.
    "stream_state_timers" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) // 86400000 AS day,
        |                  epoch_ms(ts) AS ts_ms FROM events),
        |g AS (SELECT user_id, day, count(*) AS n_events,
        |             max(ts_ms) AS last_ms
        |      FROM e GROUP BY 1, 2),
        |w AS (SELECT max(ts_ms) AS wm FROM e)
        |SELECT user_id, day, n_events, last_ms,
        |       last_ms + 3600007 AS fired_ms
        |FROM g, w WHERE last_ms + 3600007 <= w.wm
        |ORDER BY user_id, day""".stripMargin,

    // Recovery converges to the plain batch aggregate over the WHOLE
    // fixture — identical statement to the stream_windowed_counts
    // oracle; the cross-restart protocol (resume, restore, merge-only-
    // the-new) is what makes the streaming side land on it.
    "stream_restart_recovery" ->
      """SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms, event_type,
        |       count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start_ms, event_type""".stripMargin,

    // The account the restarted StatefulProcessor converges to must
    // equal the plain batch rollup over the WHOLE fixture — identical
    // statement to the stream_transform_with_state oracle; the
    // cross-restart ValueState restore is what makes the streaming
    // side land on it.
    "stream_restart_tws" ->
      """SELECT user_id, count(*) AS n,
        |       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents,
        |       max(event_id) AS max_eid
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // sink ∪ open-state is the FULL join+window aggregate: every
    // predicate match lands in exactly one of the two, so the oracle
    // is simply the batch interval join rolled into 1-day windows of
    // the click time — no watermark-boundary modeling needed.
    // Exactly-once through the injected mid-batch task failure: the
    // final state must be the plain whole-fixture aggregate — identical
    // statement to the stream_windowed_counts oracle; a double-applied
    // or lost batch flips n/sum for every window the retried task held.
    "stream_task_retry" ->
      """SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms, event_type,
        |       count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start_ms, event_type""".stripMargin,

    // Same statement for the RocksDB leg: the state BACKEND must be
    // invisible to exactly-once through a task retry.
    "stream_task_retry_rocksdb" ->
      """SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms, event_type,
        |       count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start_ms, event_type""".stripMargin,

    "stream_join_then_window" ->
      """WITH e AS (SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, event_type
        |           FROM events),
        |l AS (SELECT user_id, ts_ms AS l_ts FROM e WHERE event_type = 'click'),
        |r AS (SELECT user_id, ts_ms AS r_ts FROM e WHERE event_type = 'purchase'),
        |m AS (SELECT l.l_ts, r.r_ts FROM l JOIN r ON l.user_id = r.user_id
        |       AND r.r_ts >= l.l_ts AND r.r_ts <= l.l_ts + 21600000)
        |SELECT (l_ts // 86400000) * 86400000 AS win_ms,
        |       count(*) AS n_pairs,
        |       CAST(sum(r_ts - l_ts) AS BIGINT) AS sum_lag_ms
        |FROM m GROUP BY 1 ORDER BY win_ms""".stripMargin)
}
