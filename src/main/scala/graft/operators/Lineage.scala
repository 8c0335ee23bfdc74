package graft.operators

import org.apache.spark.sql.DataFrame

/** The lineage cut between rounds of the iterative operators that take
  * a `checkpointDir`. */
private[operators] object Lineage {

  /** A cut for one operator run: `localCheckpoint` by default, or, when
    * `checkpointDir` is given, a parquet round-trip into
    * `checkpointDir/<prefix>_<k>` for the k-th cut, so a lost executor
    * replays from reliable storage. The directory is a deployment path
    * the caller owns; the cut is a materialization barrier and never
    * changes a result. */
  def cut(checkpointDir: Option[String], prefix: String): DataFrame => DataFrame =
    checkpointDir match {
      case Some(dir) =>
        var seq = 0
        df => {
          val path = s"$dir/${prefix}_$seq"
          seq += 1
          df.write.mode("overwrite").parquet(path)
          graft.sources.Tables.parquet(df.sparkSession, path)
        }
      case None => _.localCheckpoint()
    }
}
