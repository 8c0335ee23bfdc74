package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.operators.TimeTravel

/** Writes beside reads on the versioned table: a table keyed on an
  * integral column takes cycles of upserts and a delete, with snapshot,
  * point-lookup and change-feed reads between commits; each cycle ends
  * with compaction and retention, so per-op cost does not drift with run
  * length.
  *
  * Row contents are closed-form in (seed, commit number, key), so
  * run.py replays the committed sequence into a last-writer-wins model
  * and compares the final snapshot with it. */
final class TableCommits extends Workload {
  val InitRows = 20000L
  val KeySpace = InitRows + InitRows / 4
  val UpsertRows = 1000L
  val DeleteRows = 200L
  val UpsertsPerCycle = 2
  val Points = 100
  val Key = "k"

  private var root = ""
  /** Commit number of the next upsert or delete (0 is the init). */
  private var g = 1L
  /** Committed (number, kind), in order, for the model in run.py. */
  private val log = mutable.ArrayBuffer.empty[(Long, String)]
  private val live = new java.util.BitSet(KeySpace.toInt)
  /** Per op id, in the traced run: files a commit wrote, the manifest
    * it published, the data files a lookup could read, the live rows a
    * snapshot returns. */
  private val filesWritten, manifestBytes, filesAtLookup = mutable.Map.empty[Int, Double]
  private val liveAtRead = mutable.Map.empty[Int, Long]

  private def seedOf(seed: Long) = math.floorMod(seed, 1000003L)
  private def keysOf(n: Long, stride: Long, off: Long): Seq[Long] =
    (0L until n).map(i => (i * stride + off) % KeySpace)
  private def upsertKeys(c: Ctx) = keysOf(UpsertRows, KeySpace / UpsertRows, g * 7919L + seedOf(c.seed) * 131L)
  private def deleteKeys(c: Ctx) = keysOf(DeleteRows, KeySpace / DeleteRows, g * 104729L + seedOf(c.seed) * 17L)

  /** Rows arrive from the client as a local batch, so every commit runs
    * the same plan shape (a generating expression would embed the
    * commit number as a literal and compile new code per commit). */
  private def rows(c: Ctx, keys: Seq[Long], gen: Long): DataFrame = {
    val s = seedOf(c.seed)
    c.spark.createDataFrame(keys.map(k => (k, (k * 31 + gen * 1000003L + s) % 1000000007L, s"g${gen}_${k % 97}")))
      .toDF(Key, "v", "s")
  }

  private def init(c: Ctx, dir: String): Unit = {
    root = dir
    TimeTravel.init(rows(c, 0L until InitRows, 0), root, Key)
    log.clear(); live.clear(); live.set(0, InitRows.toInt)
    log += ((0L, "init")); g = 1
  }

  private def upsert(c: Ctx): Unit = TimeTravel.upsert(root, rows(c, upsertKeys(c), g))

  private def delete(c: Ctx): Unit =
    TimeTravel.delete(root, c.spark.createDataFrame(deleteKeys(c).map(Tuple1(_))).toDF(Key))

  private def committed(c: Ctx, kind: String): Unit = {
    log += ((g, kind))
    if (kind == "upsert") upsertKeys(c).foreach(k => live.set(k.toInt))
    else deleteKeys(c).foreach(k => live.clear(k.toInt))
    g += 1
  }

  private def dataFiles: Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.getName.startsWith("part-") && f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new File(root))
  }
  private def latestManifest: Long =
    Option(new File(root).listFiles).toSeq.flatten
      .filter(_.getName.matches("manifest-\\d+\\.txt")).sortBy(_.getName).lastOption.map(_.length).getOrElse(0L)

  /** The same keys on every lookup of a run, so lookups share one plan. */
  private def points(seed: Long): Seq[Long] =
    (0 until Points).map(i => (i * 1237L + seedOf(seed)) % KeySpace)

  /** A commit op; in the traced run, the files it wrote are counted. */
  private def commit(c: Ctx, kind: String, slot: String, pass: Int)(body: => Unit): Boolean = {
    val before = if (c.traced) dataFiles.size else 0
    val ok = c.op("commit", slot, pass)(body)
    if (ok) {
      committed(c, kind)
      if (c.traced) {
        filesWritten(c.trace.ops.last.id) = (dataFiles.size - before).toDouble
        manifestBytes(c.trace.ops.last.id) = latestManifest.toDouble
      }
    }
    ok
  }

  private def read(c: Ctx, i: Int, pass: Int): Boolean = {
    val v = TimeTravel.latestVersion(root)
    i % 3 match {
      case 0 =>
        liveAtRead(c.trace.ops.size) = live.cardinality()
        c.op("snapshot", "snapshot", pass)(c.materialize(TimeTravel.snapshot(c.spark, root, v, Key)))
      case 1 =>
        if (c.traced) filesAtLookup(c.trace.ops.size) = dataFiles.size
        c.op("snapshotAt", "snapshotAt", pass)(
          c.materialize(TimeTravel.snapshotAt(c.spark, root, v, Key, points(c.seed))))
      case _ =>
        c.op("changes", "changes", pass)(c.materialize(TimeTravel.changes(c.spark, root, v - 1, v, Key)))
    }
  }

  /** Each round creates the initial table afresh. */
  def prepare(c: Ctx, r: Int): Unit = {
    init(c, c.dir(s"table/t$r"))
    if (r > 0) Ctx.deleteTree(c.dir(s"table/t${r - 1}"))
  }

  def pass(c: Ctx, n: Int): Unit = {
    (1 to UpsertsPerCycle).foreach { i =>
      if (commit(c, "upsert", "upsert", n)(upsert(c))) read(c, i, n)
    }
    if (commit(c, "delete", "delete", n)(delete(c))) read(c, 0, n)
    var compacted = -1L
    if (c.op("compact", "compact", n) { compacted = TimeTravel.compact(c.spark, root, Key) })
      c.op("vacuum", "vacuum", n)(TimeTravel.vacuum(root, compacted))
  }

  override def afterTimed(c: Ctx): Unit = {
    val out = c.dir("table/final")
    TimeTravel.snapshot(c.spark, root, TimeTravel.latestVersion(root), Key)
      .coalesce(1).write.mode("overwrite").parquet(out)
    c.artifacts ++= Seq("table_final" -> out, "table_log" -> log.map { case (n, k) => Seq(n.toString, k) },
      "table_seed" -> seedOf(c.seed), "table_init_rows" -> InitRows, "table_key_space" -> KeySpace,
      "table_upsert_rows" -> UpsertRows, "table_delete_rows" -> DeleteRows)
  }

  private def ok(c: Ctx) = c.timedOps.filter(_.ok)

  def figures(c: Ctx): Map[String, Double] = {
    val commits = ok(c).filter(_.kind == "commit").map(_.seconds)
    val reads = ok(c).filter(o => Set("snapshot", "snapshotAt", "changes")(o.kind)).map(_.seconds)
    def p50(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else Stats.median(xs)
    def tail(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else Stats.tail(xs)._1
    Map("commit_s.p50" -> p50(commits), "commit_s.tail" -> tail(commits),
      "read_s.p50" -> p50(reads), "read_s.tail" -> tail(reads))
  }

  def layers(c: Ctx): Map[String, Double] = {
    val ops = ok(c)
    val commits = ops.filter(_.kind == "commit")
    val snaps = ops.filter(_.kind == "snapshot")
    val lookups = ops.filter(_.kind == "snapshotAt")
    val scanned = Layers.stagesOf(c, snaps).map(_.recordsRead).sum.toDouble
    val liveRows = snaps.flatMap(o => liveAtRead.get(o.id)).sum.toDouble
    val filesRead = Layers.plansOf(c, lookups).map(_.filesRead).sum.toDouble
    val filesThere = lookups.flatMap(o => filesAtLookup.get(o.id)).sum
    def mean(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    Map(
      "timetravel.jobs_per_commit" -> Layers.perOp(Layers.jobsOf(c, commits).size, commits),
      "timetravel.files_written_per_commit" -> mean(commits.flatMap(o => filesWritten.get(o.id))),
      "timetravel.manifest_bytes" -> mean(commits.flatMap(o => manifestBytes.get(o.id))),
      "timetravel.read_amp" -> (if (liveRows == 0) 0.0 else scanned / liveRows),
      "timetravel.files_read_share" -> (if (filesThere == 0) 0.0 else filesRead / filesThere),
      "timetravel.compact_s" -> Layers.medianS(ops.filter(_.kind == "compact")),
      "timetravel.vacuum_s" -> Layers.medianS(ops.filter(_.kind == "vacuum")))
  }
}
