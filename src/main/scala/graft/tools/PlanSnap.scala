package graft.tools

import java.nio.file.{Files, Paths}

import graft.{Session, SparkEntry}

/** Plan auditor: dump `explain("formatted")` of named graded queries to
  * `<outDir>/<name>_<tag>.txt` in ONE session — how an operator's
  * pushdown / broadcast / codegen is checked before it counts as done,
  * and the before/after plan files an optimization round commits (e.g.
  * `plans/r13/`). Time a query with Bench and `SPARK_GRAFT_ONLY`. Usage:
  *   runMain graft.tools.PlanSnap <outDir> <tag> <sfDir> <name> [name...]
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val sfDir = args(2)
    val names = args.drop(3)
    Files.createDirectories(Paths.get(outDir))
    val spark = Session.local()
    names.foreach { n =>
      val txt =
        try {
          val df = SparkEntry.queries(n)(spark, sfDir)
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        } catch { case e: Throwable => s"ERROR building $n: ${e.getMessage}" }
      Files.write(Paths.get(outDir, s"${n}_$tag.txt"),
        txt.getBytes("UTF-8"))
      println(s"[plansnap] wrote $n ($tag)")
    }
    spark.stop()
  }
}
