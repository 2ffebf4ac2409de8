package graft.algo

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.GraphOps
import graft.iterate.{FrontierLoop, IterConfig, IterationDriver}

/** Shortest-path operators (SURVEY.md §2.8): distributed frontier BFS and
  * Bellman-Ford-style weighted SSSP — the Spark counterparts of the
  * reference's `graph/BFS.cpp` / `Dijkstra.cpp` (priority queues don't
  * distribute; iterative relaxation does).
  */
object SSSP {

  /** Multi-source BFS: `sources(id)` → `(source, id, dist)` hop counts for
    * all reachable nodes. One frontier join per level on
    * [[graft.iterate.FrontierLoop]]; all sources advance in the same jobs
    * (batching amortizes per-iteration overhead — this is how
    * APSP/diameter-ish workloads should run on Spark, not n separate BFS
    * jobs).
    */
  def bfs(spark: SparkSession, edges: DataFrame, sources: DataFrame,
          directed: Boolean = false, maxDepth: Int = 1000,
          prebuiltAdj: Boolean = false): DataFrame = {
    // `prebuiltAdj`: the caller hands an adjacency table that is ALREADY in
    // traversal orientation (symmetric for undirected graphs), already
    // src-partitioned + sorted + persisted, and owns its lifecycle. Callers
    // that run several BFS passes over one graph (Diameter: pivot pass,
    // double sweep, every fringe batch) build that cache ONCE instead of
    // paying a re-symmetrize (which would double an already-symmetric
    // table) plus a full shuffle + sort + cache build per call.
    val adj =
      if (prebuiltAdj) edges.select("src", "dst")
      else adjacency(edges, directed, col("src"), col("dst"))

    val reach = FrontierLoop.run(sources.select(col("id").as("source"),
        col("id"), lit(0L).as("dist")), Seq("source", "id"), maxDepth) {
      (frontier, _) =>
        adj.join(frontier.select(col("source"), col("id").as("src"),
            col("dist")), "src")
          .select(col("source"), col("dst").as("id"), (col("dist") + 1).as("dist"))
          .groupBy("source", "id").agg(min("dist").as("dist"))
    }
    if (!prebuiltAdj) adj.unpersist()
    reach.all
  }

  /** Weighted SSSP via iterative relaxation (Bellman-Ford / the hash-min
    * family): dist'[v] = min(dist[v], min over in-edges dist[u]+w).
    * Converges in ≤ diameter iterations on non-negative weights.
    */
  def weighted(spark: SparkSession, edges: DataFrame, source: Long,
               directed: Boolean = false, maxIter: Int = 1000,
               unroll: Int = IterationDriver.DefaultUnroll): DataFrame =
    relax(spark, edges, directed, col("weight"), maxIter, unroll) { adj =>
      GraphOps.nodes(adj)
        .select(col("id"),
          when(col("id") === source, 0.0).otherwise(Double.PositiveInfinity).as("dist"),
          (col("id") === source).as("changed"))
    }

  /** The relax loop of [[weighted]] and [[DynSSSP.insertEdges]], on
    * `IterationDriver.run`. `init(adj)` is the start state
    * `(id, dist, changed)` over the traversal adjacency `(src, dst, weight)`
    * (edge weights from `weight`); each round relaxes the out-edges of the
    * nodes whose distance changed. Returns `(id, dist)` for the nodes at a
    * finite distance.
    */
  private[algo] def relax(spark: SparkSession, edges: DataFrame,
                          directed: Boolean, weight: Column, maxIter: Int,
                          unroll: Int)(init: DataFrame => DataFrame): DataFrame = {
    val adj = adjacency(edges, directed, col("src"), col("dst"),
      weight.as("weight"))

    def step(state: DataFrame, iter: Int): DataFrame = {
      val frontier = state.where(col("changed"))
        .select(col("id").as("src"), col("dist"))
      val relax = adj.join(frontier, "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("dist") + col("weight")).as("prop"))
      state.select("id", "dist").join(relax, Seq("id"), "left")
        .select(col("id"),
          least(col("dist"), coalesce(col("prop"), col("dist"))).as("dist"),
          (col("prop").isNotNull && col("prop") < col("dist")).as("changed"))
    }

    // next-only metric, so relax rounds compose into one chain job with a
    // single metric read (IterationDriver.run's unroll). Weighted SSSP's
    // worst case is exactly where this pays most — a high-diameter graph
    // needs one relax round per hop, and at unroll = 1 the 2 driver
    // round-trips per round are the dominant fixed cost.
    def changedAgg(next: DataFrame): DataFrame =
      next.agg(sum(when(col("changed"), 1L).otherwise(0L)).as("m"))

    val res = IterationDriver.run(spark, init(adj), step, changedAgg,
      IterConfig(tol = 0.0, maxIter = maxIter), unroll = unroll)
    adj.unpersist()
    res.state.where(!col("dist").isNaN && col("dist") =!= Double.PositiveInfinity)
      .select("id", "dist")
  }

  /** The traversal adjacency of `edges` (symmetrized unless `directed`)
    * projected to `cols`, persisted; the caller unpersists it after its
    * loop. src-partitioned once: per-level frontier joins reshuffle only the
    * frontier, never the cached edge table. Sorted within partitions:
    * InMemoryRelation preserves outputOrdering, so the per-level sort-merge
    * frontier join skips re-sorting the cached edge side (multi-source
    * frontiers aren't node-bounded, so these joins stay SMJ — the sort was
    * paid once per LEVEL otherwise).
    */
  private def adjacency(edges: DataFrame, directed: Boolean,
                        cols: Column*): DataFrame =
    (if (directed) edges else GraphOps.symmetrize(edges)).select(cols: _*)
      .repartition(col("src")).sortWithinPartitions("src")
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** Eccentricity of the given sources (max BFS distance), and from it the
    * exact diameter when `sources` = all nodes (`distance/Diameter.cpp`
    * exact path — at scale use a sampled source set).
    */
  def eccentricity(spark: SparkSession, edges: DataFrame,
                   sources: DataFrame, maxDepth: Int = 1000): DataFrame =
    bfs(spark, edges, sources, maxDepth = maxDepth)
      .groupBy(col("source").as("id")).agg(max("dist").as("eccentricity"))

  /** APSP (`distance/APSP.cpp` surface): all-pairs hop distances — the
    * batched multi-source BFS with every node a source. Θ(n·m) work and an
    * n²-row result by definition; at web scale use [[bfs]] with a
    * restricted source set (the reference's APSP is likewise an all-source
    * convenience over per-source traversals, not a smarter algorithm).
    */
  def apsp(spark: SparkSession, edges: DataFrame,
           directed: Boolean = false): DataFrame =
    bfs(spark, edges, GraphOps.nodes(edges).select("id"), directed)
      .select("source", "id", "dist")
}

/** Graph contraction by partition (`coarsening/ParallelPartitionCoarsening
  * .cpp:20-70`): supernode per community; parallel edges merge by weight
  * sum; intra-community edges become self-loops. Pure relational — the
  * exact op PLM/PLP-style multilevel algorithms share.
  */
object Coarsening {
  def byPartition(edges: DataFrame, labels: DataFrame): DataFrame =
    edges
      .join(labels.withColumnRenamed("id", "src")
        .withColumnRenamed("label", "csrc"), "src")
      .join(labels.withColumnRenamed("id", "dst")
        .withColumnRenamed("label", "cdst"), "dst")
      .select(least(col("csrc"), col("cdst")).as("src"),
        greatest(col("csrc"), col("cdst")).as("dst"), col("weight"))
      .groupBy("src", "dst").agg(sum("weight").as("weight"))
}
