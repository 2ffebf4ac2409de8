package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.{DenseId, GraphOps, Materialize}
import graft.iterate.{IterConfig, IterationDriver}

/** Connected components via iterative min-label propagation ("hash-min"),
  * the Spark-native counterpart of the reference's
  * `ParallelConnectedComponents` (`components/ParallelConnectedComponents
  * .cpp:20-95`): labels start as node ids (`allToSingletons`, :29-30), each
  * sweep takes `component[u] = min(component[u], min over neighbors)`
  * (:55-77), and only neighbors of changed nodes are re-examined next sweep
  * (the active-set trick, :67-74). After `coarsenAfter` sweeps without
  * convergence the label graph is contracted and the algorithm recurses
  * (:81-94) — the reference's own remedy for long label-propagation chains,
  * which ports directly: contraction is a `join+distinct`, and the
  * contracted graph is orders of magnitude smaller.
  *
  * Component numbering matches the reference's sequential
  * `ConnectedComponents` (`components/ConnectedComponents.cpp:16-55`):
  * BFS-discovery order by ascending seed id ≡ dense renumbering of
  * components by their minimum node id (SURVEY.md §2.5).
  *
  * Scale shape: per sweep, one join (frontier × edges) + one min-aggregation
  * + one left join back; the frontier shrinks geometrically on web-ish
  * graphs, so late sweeps touch a tiny fraction of the edge table.
  */
object ConnectedComponents {

  final case class Config(
      maxIter: Int = 100,
      coarsenAfter: Int = 8,
      checkpointDir: Option[String] = None)

  /** Min-label fixpoint: returns `(id, label)` with label = min node id of
    * the component. `sym` must be the symmetrized edge view.
    */
  private def hashMin(spark: SparkSession, sym: DataFrame, nodes: DataFrame,
                      cfg: Config, depth: Int,
                      hashBuild: Boolean): DataFrame = {
    val init = nodes.select(col("id"), col("id").as("label"),
      lit(true).as("changed"))
    // see GraphOps.hashBuildHint — decided once at the top level from the
    // node count (contraction levels only shrink, so the decision is
    // conservative there)
    def buildSide(df: DataFrame): DataFrame =
      if (hashBuild) df.hint("shuffle_hash") else df

    def step(state: DataFrame, iter: Int): DataFrame = {
      val frontier = state.where(col("changed"))
        .select(col("id").as("src"), col("label"))
      val proposals = sym.join(buildSide(frontier), "src")
        .groupBy(col("dst").as("id"))
        .agg(min("label").as("prop"))
      state.select("id", "label")
        .join(buildSide(proposals), Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("prop"), col("label"))).as("label"),
          (col("prop").isNotNull && col("prop") < col("label")).as("changed"))
    }

    // convergence metric is next-only, so sweeps unroll: hash-min moves
    // labels one hop per sweep and most levels run their full sweep budget,
    // so composing sweeps into one job (lazy-checkpointed intermediates,
    // single chain action + one metric read) amortizes the per-sweep
    // submission overhead; values and the detected convergence sweep are
    // identical to unroll = 1.
    def changedAgg(next: DataFrame): DataFrame =
      next.agg(sum(when(col("changed"), 1L).otherwise(0L)).as("m"))

    // Every level gets a bounded sweep budget, then contracts and recurses
    // until its contraction converges — min-label propagation moves one hop
    // per sweep, so a fixed per-level cap alone would silently return wrong
    // labels on graphs whose (contracted) diameter exceeds it (long chains /
    // crawler traps). Contraction shrinks the graph geometrically whenever
    // any label changed, so the recursion depth stays O(log diameter).
    val maxThisLevel = math.max(cfg.coarsenAfter, 2)
    val res = IterationDriver.run(spark, init, step, changedAgg,
      IterConfig(tol = 0.0, maxIter = maxThisLevel,
        checkpointDir = cfg.checkpointDir.map(d => s"$d/level=$depth")),
      IterationDriver.DefaultUnroll)

    val labels0 = res.state.select("id", "label")
    val converged = res.history.lastOption.forall(_.metric == 0.0)
    if (converged) labels0
    else if (depth >= cfg.maxIter)
      throw new IllegalStateException(
        s"ConnectedComponents: contraction depth $depth without convergence")
    else {
      // Pointer-jump the label table to its fixpoint before contracting:
      // label ← label(label) doubles the effective propagation distance per
      // round (min-labels always point to a smaller id in the same
      // component, so composition is safe and converges in O(log n)
      // rounds). Without this, path-shaped regions shrink only by the sweep
      // budget per level — a 600-node chain needs 100+ contraction levels;
      // with it, the whole chain collapses at one level. This is the
      // standard two-phase/large-star acceleration.
      var labels = labels0
      var jumped = 1L
      while (jumped > 0) {
        val parents = labels
          .select(col("id").as("label"), col("label").as("plabel"))
        val next = labels.join(parents, Seq("label"), "left")
          .select(col("id"),
            coalesce(col("plabel"), col("label")).as("label"),
            (coalesce(col("plabel"), col("label")) =!= col("label"))
              .as("moved"))
          .transform(graft.core.Materialize.checkpoint)
        jumped = next.where(col("moved")).count()
        labels = next.select("id", "label")
      }
      // contract: vertices = current labels, edges = distinct label pairs.
      // The contracted graph and the prolonged labels are BOTH eagerly
      // checkpointed: each recursion level's sweeps re-scan its edge input
      // many times, and without materialization the plan nests one
      // contraction join-tree per level (measured: 33 MB plan strings and
      // 15 MB task binaries by level 4 on a 600-node chain, starving the
      // driver into heartbeat timeouts).
      val l = labels.persist(StorageLevel.MEMORY_AND_DISK)
      val contracted = sym
        .join(l.withColumnRenamed("id", "src").withColumnRenamed("label", "lsrc"), "src")
        .join(l.withColumnRenamed("id", "dst").withColumnRenamed("label", "ldst"), "dst")
        .select(col("lsrc").as("src"), col("ldst").as("dst"))
        .where(col("src") =!= col("dst"))
        .distinct()
        .withColumn("weight", lit(1.0))
        .transform(graft.core.Materialize.checkpoint)
      val cNodes = l.select(col("label").as("id")).distinct()
      val cLabels = hashMin(spark, GraphOps.symmetrize(contracted), cNodes,
        cfg, depth + 1, hashBuild)
      // prolong coarse labels back to fine nodes
      val out = l.join(cLabels.select(col("id").as("label"),
          col("label").as("clabel")),
          Seq("label"), "left")
        .select(col("id"), coalesce(col("clabel"), col("label")).as("label"))
        .transform(graft.core.Materialize.checkpoint)
      graft.core.Materialize.free(contracted)
      l.unpersist()
      out
    }
  }

  /** Full run: `(id, component)` with components densely numbered `0..k-1`
    * in ascending-min-node-id order (exact match with the reference
    * sequential BFS numbering).
    */
  def run(spark: SparkSession, edges: DataFrame,
          cfg: Config = Config()): DataFrame = {
    // hash-partitioned by src once: every sweep's frontier join is
    // src-keyed, so the cached edge table never reshuffles inside the loop
    // (only the node-sized frontier and proposal tables move)
    val sym = Materialize.cacheForLoop(spark,
      GraphOps.symmetrize(edges.where(col("src") =!= col("dst")))
        .select("src", "dst").repartition(col("src")))
    // id-partitioned, so the first level's init state needs no re-hash
    val nodes = Materialize.checkpointForLoop(spark, GraphOps.nodes(edges))
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val n = nodes.count()
    val hashBuild = n / math.max(parts, 1) <= GraphOps.hashBuildMaxSliceRows
    val labels = hashMin(spark, sym, nodes, cfg, 0, hashBuild)
    // dense renumber by ascending min-id (= BFS discovery order)
    val comps = labels.select(col("label")).distinct()
    val numbered = DenseId.assign(comps, "component", Seq("label"))
    // strategy fixed at planning: left to AQE, the join broadcasts
    // whichever side's query stage finishes first, so a rerun of the same
    // query could plan and compile a different join
    val out = labels.join(GraphOps.hashBuildHint(numbered, n, parts), Seq("label"))
      .select(col("id"), col("component"))
    sym.unpersist(); Materialize.free(nodes)
    out
  }

  /** Number of components (reference `numberOfComponents`). */
  def count(spark: SparkSession, edges: DataFrame): Long =
    run(spark, edges).select("component").distinct().count()
}
