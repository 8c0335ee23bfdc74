package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

import graft.Session
import graft.functions.CsvCodec
import graft.sources.{RecordGenerator, Tables}

/** The reference's END-TO-END workload at its published scale: generate
  * N CSV records (default 50 M ≙ `cmd/producer/main.go:21`), persist them
  * as the bounded "topic", then produce three globally totally-ordered
  * copies — by id (numeric), name, continent (binary lexicographic) —
  * each re-reading the full source like the reference's three sorter runs
  * (`scripts/run.sh:32-35`). Transport is Parquet (no Kafka connector in
  * this offline build); the sort path — scan → key extraction → range
  * shuffle → external sort → sink — is identical work per record.
  *
  * Reference baselines (BASELINE.md): producer 60–75 k rec/s; sorter
  * 500–600 k rec/s per key on 4 cores / 2 GB.
  *
  * Usage: runMain graft.tools.RefBench [n] [outDir]
  * Cores come from `SPARK_GRAFT_CPUS` (default 4, the reference's setup).
  */
object RefBench {
  def main(args: Array[String]): Unit = {
    val flags = args.filter(_.startsWith("--")).toSet
    val pos = args.filterNot(_.startsWith("--"))
    val n = if (pos.length > 0) pos(0).toLong else 50000000L
    val base = if (pos.length > 1) pos(1) else "/tmp/graft_refbench"
    val cpus = Session.cpus
    val spark = Session.local(cpus)

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }

    val src = s"$base/source"
    val reuse = flags.contains("--reuse") &&
      Files.exists(Paths.get(src, "_SUCCESS"))
    val (_, tGen) = timed {
      if (!reuse)
        RecordGenerator.recordsFast(spark, n, seed = 42, numPartitions = cpus * 4)
          .select(CsvCodec.encode(col("id"), col("name"), col("address"), col("continent"))
            .as("line"))
          .write.mode("overwrite").parquet(src)
    }

    // (key name, CSV field position, key type, spread) ≙
    // cmd/sorter/main.go:24. `spread` applies the hash tiebreak
    // (totalSortSpread) — valid because the reference sort is unstable —
    // ONLY where it pays: low/medium-cardinality keys whose ties would
    // otherwise cap range-partition parallelism (continent: 6 values → 6
    // non-empty partitions) or skew it (name). The unique numeric id keeps
    // the single-key sort, which Tungsten runs as a radix sort on the
    // 8-byte prefix — a second sort key would forfeit that.
    // Spread pays only when parallelism exceeds what the key's tie
    // structure already provides (measured: continent 1.15M -> 2.34M
    // rec/s at 32 cores, but 945k -> 438k at 4 cores where the extra
    // hash + two-key comparison is pure overhead). Threshold: more cores
    // than the enum's 6 values.
    // --stage-metrics: per-stage task-metric observability (the pprof
    // analog, tools.StageMetrics) — prints wall/CPU/shuffle/spill per
    // stage after the sorts, so a slow run decomposes into WHICH
    // exchange/sort cost what, and whether it spilled.
    val metrics =
      if (flags.contains("--stage-metrics")) Some(StageMetrics.attach(spark))
      else None

    val useSpread = cpus > 6
    val keys = Seq(
      ("id", 0, LongType, false),
      ("name", 1, StringType, useSpread),
      ("continent", 3, StringType, useSpread))
    val sortSecs = keys.map { case (key, fieldPos, dt, spread) =>
      val (_, t) = timed {
        val extracted = Tables.parquet(spark, src)
          .withColumn("__key", CsvCodec.fieldAs(col("line"), fieldPos, dt))
        val sorted =
          if (spread)
            graft.operators.Sorting.totalSortSpread(extracted, col("__key"), col("line"))
          else extracted.orderBy(col("__key"))
        sorted.select(col("line"))
          .write.mode("overwrite").parquet(s"$base/sorted_$key")
      }
      key -> t
    }

    // On --reuse the source may hold a different row count than the CLI
    // n — rates must reflect what was actually sorted.
    val actualN = if (reuse) Tables.parquet(spark, src).count() else n
    val rates = sortSecs.map { case (k, t) => s""""$k":${(actualN / t).toLong}""" }.mkString(",")
    val times = sortSecs.map { case (k, t) => s""""$k":$t""" }.mkString(",")
    // gen fields are omitted on --reuse (a ~0s skipped block is not a rate)
    val genPart =
      if (reuse) "\"gen_reused\":true,"
      else s""""gen_sec":$tGen,"gen_rate":${(n / tGen).toLong},"""
    println(
      s"""{"n":$actualN,""" + genPart +
        s""""sort_sec":{$times},"sort_rate_rec_per_sec":{$rates}}""")
    metrics.foreach { sm => sm.summary().foreach(println); sm.detach() }
    spark.stop()
  }
}
