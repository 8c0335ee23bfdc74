package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hierarchy flattening — the distributed answer to `WITH RECURSIVE`
  * parent-chain walks (org charts, category trees, thread ancestry).
  * Sequential engines walk one edge per recursion step; at corpus scale
  * that is O(depth) sequential rounds over the whole table. Pointer
  * DOUBLING collapses the walk to O(log depth) self-joins: after round
  * r every node knows an ancestor 2^r steps up (or its root), so a
  * 4096-deep chain resolves in 12 rounds.
  */
object Hierarchy {

  /** Resolve every node's ROOT ancestor and exact DEPTH (edge count to
    * the root) from an (id, parent) relation; `parent` null marks a
    * root. A parent id missing from the node set is treated as if the
    * child were a root's child of that id — more precisely the walk
    * stops there (coalesce keeps the last known ancestor), which turns
    * referential breaks into visible "root = dangling id" rows instead
    * of silent drops.
    *
    * `rounds` bounds the resolvable depth at 2^rounds: each round joins
    * the state against itself (shuffle on the ancestor key vs the id
    * key — two exchanges of O(N) rows), composing ancestor pointers
    * `anc ← anc(anc)` and adding the hop counts. Root rows are their
    * own fixpoint (anc = id, d = 0), so extra rounds are no-ops — a
    * fixed round count keeps the plan static and the result exact with
    * NO driver-side convergence check. Depth accumulation is exact
    * long arithmetic — bit-identical in any partition order, so the
    * iterative algorithm carries a replayable sequential oracle
    * (DuckDB `WITH RECURSIVE`).
    *
    * Scale notes: state is one row per node forever (never grows), but
    * LINEAGE doubles per round — each round's plan embeds the previous
    * round twice (the self-join), so an uncut walk is O(2^rounds) plan
    * nodes: beyond ~12 rounds Catalyst analysis dominates wall time and
    * the driver eventually OOMs just RENDERING the tree (observed at 15
    * rounds; COVERAGE.md's historical hierarchy probe notes). `cutEvery`
    * therefore cuts lineage every few rounds — `localCheckpoint` by
    * default, a parquet round-trip under `checkpointDir` for
    * cluster-grade fault tolerance, exactly the
    * [[Dedup.connectedComponentsWithRounds]] policy. Results are
    * unaffected (the cut is a materialization barrier, not a semantic
    * change). */
  def rootAndDepth(nodes: DataFrame, idCol: String, parentCol: String,
                   rounds: Int, cutEvery: Int = 6,
                   checkpointDir: Option[String] = None): DataFrame = {
    require(rounds >= 0 && rounds <= 40,
      s"rounds must be in [0, 40] (depth <= 2^rounds), got $rounds")
    require(cutEvery >= 1, s"cutEvery must be >= 1, got $cutEvery")
    val cut = Lineage.cut(checkpointDir, "hier_cut")
    var state = nodes.select(
      col(idCol).as("id"),
      when(col(parentCol).isNull, col(idCol)).otherwise(col(parentCol))
        .as("anc"),
      when(col(parentCol).isNull, lit(0L)).otherwise(lit(1L)).as("d"))
    (1 to rounds).foreach { r =>
      val up = state.select(col("id").as("__aid"), col("anc").as("__aanc"),
        col("d").as("__ad"))
      val next = state.join(up, col("anc") === col("__aid"), "left")
        .select(col("id"),
          coalesce(col("__aanc"), col("anc")).as("anc"),
          (col("d") + coalesce(col("__ad"), lit(0L))).as("d"))
      state = if (r % cutEvery == 0 && r < rounds) cut(next) else next
    }
    state.select(col("id"), col("anc").as("root"), col("d").as("depth"))
  }
}
