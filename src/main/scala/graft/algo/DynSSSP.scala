package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.GraphOps
import graft.iterate.IterationDriver

/** Dynamic single-source shortest paths (`graph/DynBFS.cpp`,
  * `graph/DynDijkstra.cpp` semantics): repair an existing distance table
  * after a batch of edge insertions instead of recomputing from scratch.
  *
  * The reference repairs level by level from the affected endpoints; the
  * distributed shape is identical in spirit: seed the relaxation frontier
  * with only the nodes whose distance improves through a NEW edge, then
  * run the standard frontier min-relaxation until no distance changes.
  * Work is proportional to the affected region, not the graph — the whole
  * point of the Dyn* family — and each round is one join + aggregation on
  * the (shrinking) frontier.
  *
  * Deletions invalidate lower bounds and are NOT repairable this way
  * (the reference's DynBFS likewise handles insertions; deletion repair
  * needs the full recompute) — callers fall back to `SSSP.bfs` on
  * deletion batches.
  */
object DynSSSP {

  /** Repair `dist (id, dist)` for `source` after inserting `newEdges` into
    * `edges` (the post-insertion edge table, weights respected when
    * `weighted`). Nodes previously unreachable enter through the frontier
    * naturally. Returns the repaired `(id, dist)`.
    *
    * Runs on weighted SSSP's relax loop ([[SSSP.relax]]) from an init state
    * of the old distances lowered by the seeded improvements, with +∞ for
    * every other adjacency node; only the improved nodes start changed.
    */
  def insertEdges(spark: SparkSession, edges: DataFrame, dist: DataFrame,
                  newEdges: DataFrame, weighted: Boolean = false,
                  directed: Boolean = false, maxIter: Int = 1000): DataFrame = {
    val weight = if (weighted) col("weight") else lit(1.0)
    val newAdj = (if (directed) newEdges else GraphOps.symmetrize(newEdges))
      .select(col("src"), col("dst"), weight.as("weight"))

    // initial improvements: new edges whose src has a distance and whose
    // dst either has none or a worse one
    val d = dist.select(col("id"), col("dist").cast("double").as("dist"))
    val seeds = newAdj
      .join(d.select(col("id").as("src"), col("dist").as("ds")), "src")
      .join(d.select(col("id").as("dst"), col("dist").as("dd")),
        Seq("dst"), "left")
      .where(col("dd").isNull || col("ds") + col("weight") < col("dd"))
      .groupBy(col("dst").as("id"))
      .agg(min(col("ds") + col("weight")).as("nd"))

    SSSP.relax(spark, edges, directed, weight, maxIter,
        IterationDriver.DefaultUnroll) { adj =>
      GraphOps.nodes(adj).join(d, Seq("id"), "full")
        .join(seeds, Seq("id"), "left")
        .select(col("id"),
          coalesce(least(col("dist"), col("nd")), lit(Double.PositiveInfinity))
            .as("dist"),
          (col("nd").isNotNull &&
            (col("dist").isNull || col("nd") < col("dist"))).as("changed"))
    }
  }
}
