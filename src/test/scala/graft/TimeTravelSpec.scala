package graft

import org.apache.spark.sql.functions._

import graft.operators.TimeTravel
import graft.streaming.FaultInjection

/** Pins the versioned-table protocol (manifests, O(|delta|) commits,
  * snapshot isolation, compaction as a content no-op) and the
  * fault-injection one-shot contract the stream_task_retry grade
  * builds on. */
class TimeTravelSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long)] =
    df.select("k", "seg", "v").as[(Long, String, Long)].collect().toSet

  /** Resolve a version's data dir by its deterministic prefix (data
    * dirs carry a random suffix so racing commits never collide). */
  private def dataDir(root: String, prefix: String): String =
    new java.io.File(root).list().filter(_.startsWith(prefix)) match {
      case Array(one) => s"$root/$one"
      case other => fail(s"expected one $prefix* dir, got ${other.toSeq}")
    }

  test("TimeTravel: snapshot reads are versioned; compaction is a content no-op") {
    val root = java.nio.file.Files.createTempDirectory("graft-tt-spec").toString
    val base = (1L to 20L).map(k => (k, "a", k * 10)).toDF("k", "seg", "v")
    assert(TimeTravel.init(base, root, "k") === 0L)
    // v1: update evens; v2: update multiples of 3 + insert key 99
    TimeTravel.upsert(root,
      base.filter($"k" % 2 === 0).select($"k", lit("b").as("seg"), ($"v" + 1).as("v")))
    TimeTravel.upsert(root,
      base.filter($"k" % 3 === 0).select($"k", lit("c").as("seg"), ($"v" + 2).as("v"))
        .unionByName(Seq((99L, "n", 7L)).toDF("k", "seg", "v")))
    // the delta commit wrote ONLY its rows (O(|delta|), never O(|table|))
    assert(spark.read.parquet(dataDir(root, "delta-00001")).count() === 10L)
    val v0 = rows(TimeTravel.snapshot(spark, root, 0L, "k"))
    val v1 = rows(TimeTravel.snapshot(spark, root, 1L, "k"))
    val v2 = rows(TimeTravel.snapshot(spark, root, 2L, "k"))
    assert(v0 === base.as[(Long, String, Long)].collect().toSet)
    assert(v1 === v0.map { case (k, s, v) =>
      if (k % 2 == 0) (k, "b", v + 1) else (k, s, v) })
    assert(v2 === v1.map { case (k, s, v) =>
      if (k % 3 == 0) (k, "c", (k * 10) + 2) else (k, s, v) } + ((99L, "n", 7L)))
    // compaction: new version, identical content, base-only read plan
    val v3 = TimeTravel.compact(spark, root, "k")
    assert(v3 === 3L)
    val snap3 = TimeTravel.snapshot(spark, root, v3, "k")
    assert(rows(snap3) === v2)
    assert(snap3.inputFiles.nonEmpty &&
      snap3.inputFiles.forall(_.contains("base-00003")))
    // historical versions remain readable AFTER compaction
    assert(rows(TimeTravel.snapshot(spark, root, 1L, "k")) === v1)
    // double-init refuses
    intercept[IllegalArgumentException] { TimeTravel.init(base, root, "k") }

    // additive schema evolution: v4's delta carries a column nothing
    // else has; v4 shows it (null-filled for stale rows), v3 does not
    TimeTravel.upsert(root,
      Seq((1L, "d", 100L, 9L)).toDF("k", "seg", "v", "extra"))
    val v4 = TimeTravel.snapshot(spark, root, 4L, "k")
    assert(v4.columns.toSeq === Seq("k", "seg", "v", "extra"))
    val extras = v4.select("k", "extra").as[(Long, Option[Long])]
      .collect().toMap
    assert(extras(1L) === Some(9L) && extras(2L) === None)
    assert(!TimeTravel.snapshot(spark, root, 3L, "k").columns.contains("extra"))

    // vacuum at the compaction horizon: the v3 base survives (still
    // referenced by manifest-4), everything older is reclaimed, v4 and
    // v3 stay exact, sub-horizon reads fail
    TimeTravel.vacuum(root, keepFrom = 3L)
    val left = new java.io.File(root).list().toSet
    assert(left.size === 4 && left.contains("manifest-00003.txt") &&
      left.contains("manifest-00004.txt") &&
      left.exists(_.startsWith("base-00003-")) &&
      left.exists(_.startsWith("delta-00004-")),
      s"unexpected survivors: $left")
    assert(rows(TimeTravel.snapshot(spark, root, 3L, "k")) === v2)
    intercept[Exception] { TimeTravel.snapshot(spark, root, 1L, "k") }
  }

  test("TimeTravel.changes: per-commit tags, range bounds, compaction no-op") {
    val root = java.nio.file.Files.createTempDirectory("graft-ttc-spec").toString
    val base = (1L to 10L).map(k => (k, "a", k)).toDF("k", "seg", "v")
    TimeTravel.init(base, root, "k")
    // v1 inserts 99; v2 updates 99 and key 4; v3 = compaction
    TimeTravel.upsert(root, Seq((99L, "n", 1L)).toDF("k", "seg", "v"))
    TimeTravel.upsert(root,
      Seq((99L, "n2", 2L), (4L, "b", 40L)).toDF("k", "seg", "v"))
    TimeTravel.compact(spark, root, "k")
    val ch = TimeTravel.changes(spark, root, 0L, 3L, "k")
      .select("k", "_commit_version", "_change_type")
      .as[(Long, Long, String)].collect().toSet
    // 99 is insert at v1 then UPDATE at v2 (per-commit, not net); 4 is
    // update (existed at fromV); compaction (v3) contributes nothing
    assert(ch === Set((99L, 1L, "insert"), (99L, 2L, "update"),
      (4L, 2L, "update")))
    // range start after the insert: only v2's rows, 99 still an update
    val ch2 = TimeTravel.changes(spark, root, 1L, 3L, "k")
      .select("k", "_commit_version", "_change_type")
      .as[(Long, Long, String)].collect().toSet
    assert(ch2 === Set((99L, 2L, "update"), (4L, 2L, "update")))
    // empty range (compaction only) -> zero change rows, with the
    // full CDC schema intact (a downstream projection must not choke)
    val empty = TimeTravel.changes(spark, root, 2L, 3L, "k")
    assert(empty.count() === 0L)
    assert(empty.columns.toSeq ===
      Seq("k", "seg", "v", "_commit_version", "_change_type"))
  }

  test("TimeTravel: snapshot, snapshotAt and changes build with zero Spark jobs over entries whose columns differ") {
    val root = java.nio.file.Files.createTempDirectory("graft-ttj-spec").toString
    TimeTravel.init((1L to 10L).map(k => (k, "a", k)).toDF("k", "seg", "v"), root, "k")
    // v1 adds `extra`; v2 writes the base columns; v3's tombstones
    // carry the key alone
    TimeTravel.upsert(root, Seq((2L, "b", 20L, 7L)).toDF("k", "seg", "v", "extra"))
    TimeTravel.upsert(root, Seq((3L, "c", 30L)).toDF("k", "seg", "v"))
    TimeTravel.delete(root, Seq(Tuple1(4L)).toDF("k"))
    // each chain entry's schema is a driver-side footer read
    assert(jobsDuring {
      TimeTravel.snapshot(spark, root, 3L, "k")
      TimeTravel.snapshotAt(spark, root, 3L, "k", Seq(2L, 3L))
      TimeTravel.changes(spark, root, 0L, 3L, "k")
    } === 0)
    // the union still fills the columns an entry lacks with null
    val snap = TimeTravel.snapshot(spark, root, 3L, "k")
    assert(snap.columns.toSeq === Seq("k", "seg", "v", "extra"))
    val got = snap.select("k", "seg", "v", "extra")
      .as[(Long, String, Long, Option[Long])].collect().map(r => r._1 -> r).toMap
    assert(got.size === 9 && !got.contains(4L))
    assert(got(1L) === ((1L, "a", 1L, None)) && got(2L) === ((2L, "b", 20L, Some(7L))) &&
      got(3L) === ((3L, "c", 30L, None)))
    assert(TimeTravel.snapshotAt(spark, root, 3L, "k", Seq(2L, 3L))
      .select("k", "extra").as[(Long, Option[Long])].collect().toSet ===
      Set((2L, Some(7L)), (3L, None)))
    val ch = TimeTravel.changes(spark, root, 0L, 3L, "k")
    assert(ch.columns.contains("extra"))
    assert(ch.select("k", "_commit_version", "_change_type")
      .as[(Long, Long, String)].collect().toSet ===
      Set((2L, 1L, "update"), (3L, 2L, "update"), (4L, 3L, "delete")))
  }

  test("TimeTravel.delete: versioned tombstones, revival, changes tagging") {
    val root = java.nio.file.Files.createTempDirectory("graft-ttd-spec").toString
    val base = (1L to 10L).map(k => (k, "a", k)).toDF("k", "seg", "v")
    TimeTravel.init(base, root, "k")
    TimeTravel.delete(root, Seq(Tuple1(4L), Tuple1(6L)).toDF("k")) // v1
    TimeTravel.upsert(root, Seq((6L, "r", 60L)).toDF("k", "seg", "v")) // v2 revives 6
    // deletes are versioned: v0 still shows both keys; v1 shows
    // neither; v2 revives 6 with the upsert's values, 4 stays gone
    assert(rows(TimeTravel.snapshot(spark, root, 0L, "k")).map(_._1) ===
      (1L to 10L).toSet)
    val k1 = rows(TimeTravel.snapshot(spark, root, 1L, "k")).map(_._1)
    assert(!k1.contains(4L) && !k1.contains(6L) && k1.size === 8)
    val s2 = rows(TimeTravel.snapshot(spark, root, 2L, "k"))
    assert(!s2.map(_._1).contains(4L) && s2.contains((6L, "r", 60L)))
    // the tombstone column never reaches a snapshot's schema
    assert(!TimeTravel.snapshot(spark, root, 2L, "k")
      .columns.contains("__tombstone"))
    // the change feed tags tombstone commits 'delete'; the REVIVAL of 6
    // tags 'insert' — per-commit typing against each commit's own
    // parent (at v2's parent the key was tombstoned), the standard CDF
    // replay-log semantics: delete THEN insert
    val ch = TimeTravel.changes(spark, root, 0L, 2L, "k")
      .select("k", "_commit_version", "_change_type")
      .as[(Long, Long, String)].collect().toSet
    assert(ch === Set((4L, 1L, "delete"), (6L, 1L, "delete"),
      (6L, 2L, "insert")))
  }

  test("TimeTravel: a torn manifest neither corrupts reads nor blocks commits") {
    val root = java.nio.file.Files.createTempDirectory("graft-ttx-spec").toString
    val base = (1L to 10L).map(k => (k, "a", k)).toDF("k", "seg", "v")
    TimeTravel.init(base, root, "k")
    TimeTravel.upsert(root, Seq((1L, "b", 11L)).toDF("k", "seg", "v")) // v1
    // simulate a crash mid-commit: junk bytes parked at manifest-2
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "manifest-00002.txt"),
      "garbage not a manifest\n".getBytes)
    // reads at the last VALID version are untouched, and latestVersion
    // never selects the torn manifest
    assert(TimeTravel.latestVersion(root) === 1L)
    assert(rows(TimeTravel.snapshot(spark, root, 1L, "k"))
      .contains((1L, "b", 11L)))
    // a read AT the torn version fails loudly, not with junk data
    intercept[java.io.IOException] { TimeTravel.snapshot(spark, root, 2L, "k") }
    // the next commit reclaims the version slot instead of wedging
    val v2 = TimeTravel.upsert(root, Seq((2L, "c", 22L)).toDF("k", "seg", "v"))
    assert(v2 === 2L)
    assert(rows(TimeTravel.snapshot(spark, root, 2L, "k"))
      .contains((2L, "c", 22L)))
  }

  test("TimeTravel: racing commits — one winner per version, loser retries cleanly") {
    val root = java.nio.file.Files.createTempDirectory("graft-ttr-spec").toString
    val base = (1L to 10L).map(k => (k, "a", k)).toDF("k", "seg", "v")
    TimeTravel.init(base, root, "k")
    // two writers commit concurrently from the same parent (v0): the
    // O_EXCL manifest claim admits exactly one v1; the loser retries on
    // the winner's result and lands v2 — no torn state, both rows in
    val deltas = Seq(
      Seq((1L, "x", 100L)).toDF("k", "seg", "v"),
      Seq((2L, "y", 200L)).toDF("k", "seg", "v"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val vs = Await.result(
      Future.sequence(deltas.map(d => Future(TimeTravel.upsert(root, d)))),
      2.minutes)
    assert(vs.toSet === Set(1L, 2L), s"got versions $vs")
    val snap = rows(TimeTravel.snapshot(spark, root, 2L, "k"))
    assert(snap.contains((1L, "x", 100L)) && snap.contains((2L, "y", 200L)))
    // per-commit change types survived the retry's recompute
    val ch = TimeTravel.changes(spark, root, 0L, 2L, "k")
      .select("k", "_change_type").as[(Long, String)].collect().toSet
    assert(ch === Set((1L, "update"), (2L, "update")))
  }

  test("TimeTravel.snapshotAt: manifest key stats prune file sets") {
    val root = java.nio.file.Files.createTempDirectory("graft-ttp-spec").toString
    // disjoint key ranges per file set: base 1-100, deltas 101-200 and
    // 1-10 — a point in (1..10) must plan over base + delta-2 ONLY
    TimeTravel.init(
      (1L to 100L).map(k => (k, "a", k)).toDF("k", "seg", "v"), root, "k")
    TimeTravel.upsert(root,
      (101L to 200L).map(k => (k, "b", k)).toDF("k", "seg", "v"))
    TimeTravel.upsert(root,
      (1L to 10L).map(k => (k, "c", k + 1000)).toDF("k", "seg", "v"))
    val pt = TimeTravel.snapshotAt(spark, root, 2L, "k", Seq(5L))
    assert(rows(pt) === Set((5L, "c", 1005L)))
    val files = pt.inputFiles
    assert(files.exists(_.contains("base-00000")) &&
      files.exists(_.contains("delta-00002")) &&
      !files.exists(_.contains("delta-00001")),
      s"stats pruning failed: ${files.toSeq}")
    // merge semantics stay exact through pruning: a point whose winner
    // is the base still reflects later non-matching deltas' absence
    assert(rows(TimeTravel.snapshotAt(spark, root, 2L, "k", Seq(50L, 150L)))
      === Set((50L, "a", 50L), (150L, "b", 150L)))
    // a point outside every file set's range reads zero rows AND zero files
    val none = TimeTravel.snapshotAt(spark, root, 2L, "k", Seq(99999L))
    assert(none.count() === 0L)
  }

  test("TimeTravel.compact(buckets): per-file stats prune, vacuum keeps the bucketed base") {
    val root = java.nio.file.Files.createTempDirectory("graft-ttb-spec").toString
    TimeTravel.init(
      (1L to 200L).map(k => (k, "a", k)).toDF("k", "seg", "v"), root, "k")
    TimeTravel.upsert(root,
      (1L to 20L).map(k => (k, "b", k + 500)).toDF("k", "seg", "v"))
    val v2 = TimeTravel.compact(spark, root, "k", buckets = 4)
    assert(v2 === 2L)
    // bucketing is semantically invisible: the compacted snapshot equals
    // the pre-compaction merge, and reads plan over the new base only
    val snap = TimeTravel.snapshot(spark, root, v2, "k")
    assert(rows(snap) === rows(TimeTravel.snapshot(spark, root, 1L, "k")))
    val baseFiles = snap.inputFiles
    assert(baseFiles.length >= 3 && baseFiles.forall(_.contains("base-00002")),
      s"expected a split base, got ${baseFiles.toSeq}")
    // per-file stats: a low-key point lookup reads strictly fewer files
    val pt = TimeTravel.snapshotAt(spark, root, v2, "k", Seq(3L))
    assert(rows(pt) === Set((3L, "b", 503L)))
    assert(pt.inputFiles.length < baseFiles.length,
      s"pruning read ${pt.inputFiles.length} of ${baseFiles.length}")
    // vacuum must key its reachability on the bucketed base's DIRECTORY
    // (entries name part files inside it), not delete it as unreferenced
    TimeTravel.vacuum(root, keepFrom = v2)
    assert(rows(TimeTravel.snapshot(spark, root, v2, "k")) === rows(snap))
    val left = new java.io.File(root).list().toSet
    assert(left.exists(_.startsWith("base-00002-")) &&
      !left.exists(_.startsWith("base-00000-")) &&
      !left.exists(_.startsWith("delta-00001-")),
      s"unexpected survivors: $left")
  }

  test("TimeTravel: the commit-time range skip prunes the probe chain") {
    val root = java.nio.file.Files.createTempDirectory("graft-ttk-spec").toString
    TimeTravel.init(
      (1L to 100L).map(k => (k, "a", k)).toDF("k", "seg", "v"), root, "k")
    // DISJOINT-range upsert: the base's [1,100] misses [201,210] -> 0
    // entries scanned, all rows typed insert without the membership join
    TimeTravel.upsert(root,
      (201L to 210L).map(k => (k, "b", k)).toDF("k", "seg", "v"))
    assert(TimeTravel.lastProbeScannedEntries === 0,
      "a disjoint-range delta must skip the whole chain")
    // OVERLAPPING upsert: [5,6] hits the base only, not delta [201,210]
    TimeTravel.upsert(root,
      Seq((5L, "c", 55L), (6L, "c", 66L)).toDF("k", "seg", "v"))
    assert(TimeTravel.lastProbeScannedEntries === 1,
      "an overlapping delta must probe exactly the base")
    val ch = TimeTravel.changes(spark, root, 0L, 2L, "k")
      .select("k", "_commit_version", "_change_type")
      .as[(Long, Long, String)].collect().toSet
    assert(ch === (201L to 210L).map(k => (k, 1L, "insert")).toSet ++
      Set((5L, 2L, "update"), (6L, 2L, "update")))
    val snap = rows(TimeTravel.snapshot(spark, root, 2L, "k"))
    assert(snap.size === 110 && snap.contains((5L, "c", 55L)) &&
      snap.contains((205L, "b", 205L)))
  }

  test("TimeTravel: a STRING-keyed table types changes correctly, unpruned") {
    val root = java.nio.file.Files.createTempDirectory("graft-tts-spec").toString
    val base = (1 to 200).map(i => (f"doc-$i%04d", i.toLong)).toDF("k", "v")
    TimeTravel.init(base, root, "k")
    TimeTravel.upsert(root,
      Seq(("doc-0001", 101L), ("doc-0002", 102L)).toDF("k", "v"))
    assert(TimeTravel.lastProbeScannedEntries === 1)
    // string keys record no range stats: even a DISJOINT upsert probes
    // the full chain (base + delta-1)
    TimeTravel.upsert(root,
      Seq(("zzz-9991", 1L), ("zzz-9992", 2L)).toDF("k", "v"))
    assert(TimeTravel.lastProbeScannedEntries === 2)
    val ch = TimeTravel.changes(spark, root, 0L, 2L, "k")
      .select("k", "_change_type").as[(String, String)].collect().toSet
    assert(ch === Set(("doc-0001", "update"), ("doc-0002", "update"),
      ("zzz-9991", "insert"), ("zzz-9992", "insert")))
    val snap = TimeTravel.snapshot(spark, root, 2L, "k")
      .as[(String, Long)].collect().toSet
    assert(snap.size === 202 && snap.contains(("doc-0001", 101L)) &&
      snap.contains(("zzz-9991", 1L)) && snap.contains(("doc-0003", 3L)))
  }

  /** Entry lines of version `v`'s manifest (the header line dropped). */
  private def manifestEntries(root: String, v: Long): Seq[String] =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, f"manifest-$v%05d.txt")), "UTF-8")
      .split("\n").toSeq.tail.filter(_.nonEmpty)

  /** Hand-write version `v`'s manifest with a VALID header and CRC. */
  private def writeManifest(root: String, v: Long, key: String,
                            entries: Seq[String]): Unit = {
    val crc = new java.util.zip.CRC32()
    crc.update(entries.mkString("\n").getBytes("UTF-8"))
    val header = s"graft-manifest 2 $key ${entries.size} " +
      java.lang.Long.toHexString(crc.getValue)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, f"manifest-$v%05d.txt"),
      ((header +: entries).mkString("\n") + "\n").getBytes("UTF-8"))
  }

  test("TimeTravel: manifests write 4-field entries, read unknown trailing fields") {
    val root = java.nio.file.Files.createTempDirectory("graft-ttm-spec").toString
    TimeTravel.init(
      (1L to 20L).map(k => (k, "a", k)).toDF("k", "seg", "v"), root, "k")
    TimeTravel.upsertOnce(root,
      Seq((2L, "b", 22L), (30L, "b", 30L)).toDF("k", "seg", "v"), "batch-0")
    TimeTravel.delete(root, Seq(3L).toDF("k"))
    TimeTravel.compact(spark, root, "k")
    val v4 = TimeTravel.compact(spark, root, "k", buckets = 2)
    for (v <- 0L to v4; e <- manifestEntries(root, v))
      assert(e.split(" ").length === 4, s"manifest $v entry '$e'")
    // a newer writer's extra field: the manifest still reads, as the
    // same table
    writeManifest(root, v4 + 1, "k", manifestEntries(root, v4).map(_ + " Z:1"))
    assert(TimeTravel.latestVersion(root) === v4 + 1)
    assert(rows(TimeTravel.snapshot(spark, root, v4 + 1, "k")) ===
      rows(TimeTravel.snapshot(spark, root, v4, "k")))
    // commits extend it, and write 4-field entries again
    val v6 = TimeTravel.upsert(root, Seq((40L, "c", 40L)).toDF("k", "seg", "v"))
    assert(v6 === v4 + 2)
    assert(manifestEntries(root, v6).forall(_.split(" ").length == 4))
    assert(TimeTravel.upsertOnce(root,
      Seq((2L, "b", 22L)).toDF("k", "seg", "v"), "batch-0") === 1L)
    // a 3-field entry is torn even under a valid checksum
    writeManifest(root, v6 + 1, "k",
      manifestEntries(root, v6).map(_.split(" ").take(3).mkString(" ")))
    assert(TimeTravel.latestVersion(root) === v6)
    intercept[java.io.IOException] { TimeTravel.snapshot(spark, root, v6 + 1, "k") }
  }

  test("TimeTravel.init: a failed write cancels and awaits the overlapped probe") {
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val root = java.nio.file.Files.createTempDirectory("graft-ttc-spec").toString
    // left alone, the probe's tasks run 20 s each; the kill check lets a
    // cancelled task stop at its next row
    val slowKey = udf { (k: Long) =>
      if (org.apache.spark.TaskContext.get().isInterrupted())
        throw new org.apache.spark.TaskKilledException("cancelled")
      Thread.sleep(100)
      k
    }
    // Parquet cannot write an interval column, so the write fails while
    // the probe (which never reads the column) is still running
    val df = spark.range(0, 800, 1, 4).select(slowKey($"id").as("k"),
      expr("make_interval(0, 0, 0, 0, 0, 0, 1)").as("iv"))
    val t0 = System.nanoTime()
    intercept[org.apache.spark.sql.AnalysisException] {
      TimeTravel.init(df, root, "k")
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 15, s"init took $secs s: the probe ran to completion")
    // the status store trails the scheduler by a listener-bus hop; once
    // drained, no probe job may start later either
    val tracker = spark.sparkContext.statusTracker
    eventually(timeout(10.seconds), interval(100.millis)) {
      assert(tracker.getActiveJobIds().isEmpty)
    }
    Thread.sleep(1000)
    assert(tracker.getActiveJobIds().isEmpty, "an orphaned probe job started")
    assert(!new java.io.File(root).list().exists(_.startsWith("base-")))
    assert(TimeTravel.latestVersion(root) === -1L)
  }

  test("TimeTravel.upsertOnce: a replayed txn commits nothing; markers survive compaction") {
    val root = java.nio.file.Files.createTempDirectory("graft-ttt-spec").toString
    TimeTravel.init(
      (1L to 10L).map(k => (k, "a", k)).toDF("k", "seg", "v"), root, "k")
    val d1 = Seq((1L, "b", 11L)).toDF("k", "seg", "v")
    assert(TimeTravel.upsertOnce(root, d1, "batch-0") === 1L)
    // the replay (at-least-once redelivery): same version back, no new
    // manifest, no new delta file set on disk
    assert(TimeTravel.upsertOnce(root, d1, "batch-0") === 1L)
    assert(TimeTravel.latestVersion(root) === 1L)
    assert(new java.io.File(root).list().count(_.startsWith("delta-")) === 1)
    // a DIFFERENT txn commits normally
    assert(TimeTravel.upsertOnce(root,
      Seq((2L, "c", 22L)).toDF("k", "seg", "v"), "batch-1") === 2L)
    // markers survive compaction: a content no-op must not reopen
    // already-applied batches
    val v3 = TimeTravel.compact(spark, root, "k")
    assert(TimeTravel.upsertOnce(root, d1, "batch-0") === 1L)
    assert(TimeTravel.latestVersion(root) === v3)
    // plain upsert still works on a txn-bearing manifest chain
    val v4 = TimeTravel.upsert(root, Seq((3L, "d", 33L)).toDF("k", "seg", "v"))
    assert(v4 === 4L)
    assert(rows(TimeTravel.snapshot(spark, root, v4, "k"))
      .contains((3L, "d", 33L)))
    // malformed txn ids fail loudly (they'd corrupt the manifest line)
    intercept[IllegalArgumentException] {
      TimeTravel.upsertOnce(root, d1, "has space")
    }
  }

  test("FaultInjection: one-shot per tag, retry attempts recorded") {
    val tag = "spec_" + java.util.UUID.randomUUID().toString.take(8)
    FaultInjection.arm(tag)
    assert(!FaultInjection.consumed(tag))
    val acc = spark.sparkContext.longAccumulator("spec_retried")
    val f = FaultInjection.faultOnce(tag, acc)
    // a marked row on a first-attempt task throws ONCE, kills the task,
    // and the retry (the session grants local[4,2]) completes the job
    // with the exact result
    val out = spark.range(1L, 101L, 1L, 4).toDF("n")
      .withColumn("n2", f($"n", $"n" === 42L))
      .agg(sum("n2")).as[Long].head()
    assert(out === 5050L, "exactly-once through the injected retry")
    assert(FaultInjection.consumed(tag), "the fault must have fired")
    assert(acc.value > 0, "a successful retry attempt must have recorded itself")
  }
}
