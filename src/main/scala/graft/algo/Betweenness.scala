package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{GraphOps, Materialize}
import graft.iterate.{FrontierLoop, Reach}

/** Sampled betweenness centrality — Brandes' algorithm
  * (`centrality/Betweenness.cpp`, sampled variant `ApproxBetweenness2.cpp`:
  * run Brandes from a source sample, scale by n/|S|) re-shaped for Spark:
  * ALL sampled sources advance together through the same frontier jobs
  * (batching amortizes per-level job overhead), and the dependency
  * accumulation runs level-synchronously backwards over the BFS DAG —
  * per level one join + one aggregation, no per-node recursion.
  *
  * Forward: level-synchronous BFS accumulating shortest-path counts
  * `sigma(s,v)` (sum over predecessor sigmas). Backward: for levels
  * d = depth..1, `delta(v) += Σ_{w: succ} sigma(v)/sigma(w)·(1+delta(w))`.
  * Betweenness(v) = Σ_s delta(s,v), halved for undirected graphs, scaled
  * by n/|S| when sampling.
  */
object Betweenness {

  /** Brandes from a deterministic hash-chosen source sample
    * (`ApproxBetweenness2.cpp` shape).
    */
  def sampled(spark: SparkSession, edges: DataFrame, nSources: Int,
              seed: Long = 42, directed: Boolean = false,
              maxDepth: Int = 100, normalized: Boolean = false): DataFrame = {
    val nodes = nonLoopNodes(edges)
    val sources = nodes
      .orderBy(xxhash64(col("id"), lit(seed)), col("id"))
      .limit(nSources)
      .select("id")
    forSources(spark, edges, sources, directed, maxDepth, normalized,
      scaleToFullGraph = true)
  }

  /** Brandes from an explicit source set; `scaleToFullGraph` multiplies the
    * dependency sums by n/|S| (the sampling estimator).
    */
  def forSources(spark: SparkSession, edges: DataFrame, sourceIds: DataFrame,
                 directed: Boolean = false, maxDepth: Int = 100,
                 normalized: Boolean = false,
                 scaleToFullGraph: Boolean = true): DataFrame = {
    val adj = brandesAdj(edges, directed)
    val nodes = nonLoopNodes(edges)
    val n = nodes.count()
    val nSources = sourceIds.count()
    val sources = sourceIds.select(col("id").as("source"))
    val reach = sigmaBfs(adj, sources, maxDepth)
    val paths = reach.all

    // ---- backward: level-synchronous dependency accumulation ---------
    // delta per (source, id); start all-zero implicitly (left joins)
    var delta = paths.select(col("source"), col("id"), lit(0.0).as("delta"))
      .transform(Materialize.checkpoint)
    var level = reach.depth
    while (level >= 1) {
      val wNodes = paths.where(col("dist") === level)
        .join(delta, Seq("source", "id"))
        .select(col("source"), col("id").as("w"), col("sigma").as("sigw"),
          col("delta").as("deltaw"))
      val vNodes = paths.where(col("dist") === level - 1)
        .select(col("source"), col("id").as("v"), col("sigma").as("sigv"))
      // predecessor pairs: edge v→w with dist(v)=level-1, dist(w)=level
      val contrib = adj.select(col("src").as("v"), col("dst").as("w"))
        .join(wNodes, "w")
        .join(vNodes, Seq("source", "v"))
        .groupBy(col("source"), col("v").as("id"))
        .agg(sum(col("sigv") / col("sigw") * (col("deltaw") + 1.0)).as("add"))
      val next = delta.join(contrib, Seq("source", "id"), "left")
        .select(col("source"), col("id"),
          (col("delta") + coalesce(col("add"), lit(0.0))).as("delta"))
        .transform(Materialize.checkpoint)
      Materialize.free(delta)
      delta = next
      level -= 1
    }
    reach.free()

    val scale0 = if (directed) 1.0 else 2.0
    val sampleScale =
      if (scaleToFullGraph) n.toDouble / math.min(nSources, n).toDouble
      else 1.0
    val raw = delta.where(col("source") =!= col("id"))
      .groupBy("id").agg((sum("delta") / scale0 * sampleScale).as("score"))
    val full = nodes.join(raw, Seq("id"), "left")
      .select(col("id"), coalesce(col("score"), lit(0.0)).as("score"))
    if (!normalized) full
    else full.select(col("id"),
      (col("score") / ((n - 1.0) * (n - 2.0) / (if (directed) 1.0 else 2.0)))
        .as("score"))
  }

  /** Batched level-synchronous BFS with shortest-path counts on
    * [[FrontierLoop]]: reaches `(source, id, dist, sigma)` for every node
    * reached from each source (Brandes' forward phase; shared by
    * [[forSources]] and [[riondatoKornaropoulos]]).
    */
  private[algo] def sigmaBfs(adj: DataFrame, sources: DataFrame,
                             maxDepth: Int): Reach =
    FrontierLoop.run(sources.select(col("source"), col("source").as("id"),
        lit(0).as("dist"), lit(1.0).as("sigma")), Seq("source", "id"),
        maxDepth) { (frontier, depth) =>
      adj.join(frontier.select(col("source"), col("id").as("src"),
          col("sigma")), "src")
        .groupBy(col("source"), col("dst").as("id"))
        .agg(sum("sigma").as("sigma"))
        .select(col("source"), col("id"), lit(depth).as("dist"), col("sigma"))
    }

  /** ApproxBetweenness (`centrality/ApproxBetweenness.cpp` — the
    * Riondato–Kornaropoulos VC-dimension estimator): sample
    * r = ⌈(c/ε²)·(⌊log₂(VD−2)⌋ + 1 + ln(1/δ))⌉ node pairs (s,t) and one
    * uniform-random shortest s→t path each; score(v) = fraction of sampled
    * paths with v interior, an additive-ε estimate (prob ≥ 1−δ) of
    * normalized betweenness Σ_{s≠t} σ_st(v)/σ_st / (n(n−1)).
    *
    * VD (vertex diameter, #nodes on the longest shortest path) is bounded
    * from one deterministic pivot BFS as 2·ecc(pivot)+1 — an over-estimate,
    * hence conservative (more samples than strictly needed).
    *
    * Spark shape: all r pairs advance together. Forward = one batched
    * sigma-BFS from the distinct sampled sources. Path sampling walks every
    * pair backward one level per job; the predecessor of w is drawn
    * ∝ sigma(pred) (uniform over shortest paths) via Efraimidis–Spirakis
    * weighted sampling — argmin of −ln(u)/sigma with a counter-based
    * uniform u — expressed as one `min_by` aggregation, so a hub's
    * predecessor list never funnels into a single sorted group.
    */
  def riondatoKornaropoulos(spark: SparkSession, edges: DataFrame,
                            eps: Double = 0.1, delta: Double = 0.1,
                            c: Double = 0.5, seed: Long = 42,
                            directed: Boolean = false,
                            maxDepth: Int = 100): DataFrame = {
    val adj = brandesAdj(edges, directed)
    val nodes = nonLoopNodes(edges)
    val n = nodes.count()
    require(n >= 3, "RK approx betweenness needs at least 3 nodes")

    // ---- sample size from the vertex-diameter bound ---------------------
    // VD is bounded per COMPONENT, as the reference's
    // estimatedVertexDiameterPedantic does (`ApproxBetweenness.cpp`): one
    // hash-min pivot per connected component, ONE batched sigma-BFS from
    // all pivots, bound = max over pivots of 2·ecc+1. A single-pivot bound
    // underestimates VD whenever the pivot misses the component with the
    // longest shortest path — normal on disconnected crawls — silently
    // shrinking r below the RK ε/δ guarantee.
    val comps = ConnectedComponents.run(spark,
      edges.where(col("src") =!= col("dst")).select("src", "dst")
        .withColumn("weight", lit(1.0)))
    val pivots = comps.groupBy("component")
      .agg(min(struct(xxhash64(col("id"), lit(seed)).as("h"),
        col("id").as("id"))).as("p"))
      .select(col("p.id").as("source"))
    val pivotReach = sigmaBfs(adj, pivots, maxDepth)
    val ecc = pivotReach.depth
    pivotReach.free()
    val vd = math.max(2 * ecc + 1, 3)
    val r = math.ceil(c / (eps * eps) *
      (math.floor(math.log(math.max(vd - 2, 1)) / math.log(2)) + 1 +
        math.log(1 / delta))).toLong
    rkScores(spark, edges, rkInit(spark, edges, r, seed, directed, maxDepth))
  }

  /** Incremental-RK state: the sampled pairs, per-source sigma-BFS tables,
    * and the sampled-path interior nodes per pair ([[rkInit]] /
    * [[rkInsertEdges]] / [[rkScores]] — the `DynApproxBetweenness.cpp`
    * surface: keep the sample, repair only what an update touches).
    */
  final case class RkState(pairs: DataFrame, paths: DataFrame,
                           interior: DataFrame, r: Long, seed: Long,
                           directed: Boolean)

  /** The nodes of `edges` that have an edge other than a self-loop. */
  private def nonLoopNodes(edges: DataFrame): DataFrame =
    GraphOps.nodes(edges.where(col("src") =!= col("dst")))

  /** Brandes' traversal table: distinct non-loop arcs, both ways unless
    * `directed`, checkpointed.
    */
  private def brandesAdj(edges: DataFrame, directed: Boolean): DataFrame = {
    val base = edges.where(col("src") =!= col("dst"))
    (if (directed) base.select("src", "dst").distinct()
     else GraphOps.symmetrize(GraphOps.canonicalizeUnweighted(base))
       .select("src", "dst"))
      .transform(Materialize.checkpoint)
  }

  /** Build the RK sample state over `edges` with an explicit sample size
    * `r` (callers derive r from ε/δ — [[riondatoKornaropoulos]] — or keep
    * a previous state's r across dynamic updates).
    */
  def rkInit(spark: SparkSession, edges: DataFrame, r: Long, seed: Long,
             directed: Boolean = false, maxDepth: Int = 100): RkState = {
    val adj = brandesAdj(edges, directed)
    val nodes = nonLoopNodes(edges)
    val n = nodes.count()

    // ---- r deterministic (s,t) pairs: pick by dense node index ----------
    val indexed = graft.core.DenseId.assign(nodes.select("id"), "idx", Seq("id"))
      .transform(Materialize.checkpoint)
    val picks = spark.range(r).select(col("id").as("pair"),
      pmod(xxhash64(lit(seed), col("id") * 2), lit(n)).as("sIdx"),
      pmod(xxhash64(lit(seed), col("id") * 2 + 1), lit(n)).as("tIdx"))
      .where(col("sIdx") =!= col("tIdx"))
    val pairs = picks
      .join(indexed.select(col("idx").as("sIdx"), col("id").as("s")), "sIdx")
      .join(indexed.select(col("idx").as("tIdx"), col("id").as("t")), "tIdx")
      .select("pair", "s", "t")
      .transform(Materialize.checkpoint)
    // s==t collisions were dropped above; the estimator divides by the
    // pairs actually sampled (unreachable pairs still count — RK semantics)
    val actualR = pairs.count()

    val srcSet = pairs.select(col("s").as("source")).distinct()
    val paths = sigmaBfs(adj, srcSet, maxDepth).all
    val interior = samplePaths(adj, pairs, paths, seed)
    RkState(pairs, paths, interior, actualR, seed, directed)
  }

  /** Estimated normalized betweenness from an RK state; `edges` supplies
    * the node universe (nodes never reached by any sampled source score 0).
    */
  def rkScores(spark: SparkSession, edges: DataFrame,
               state: RkState): DataFrame = {
    val nodes = nonLoopNodes(edges)
    val counts = state.interior.groupBy("id").agg(count(lit(1)).as("cnt"))
    nodes.join(counts, Seq("id"), "left")
      .select(col("id"),
        (coalesce(col("cnt"), lit(0L)).cast("double") / state.r).as("score"))
  }

  /** DynApproxBetweenness (`centrality/DynApproxBetweenness.cpp`
    * semantics): repair the RK sample after a batch of edge INSERTIONS.
    * An inserted edge (u,v) can only affect sources s whose BFS gains a
    * new-or-shorter path through it — dist(s,u)+1 ≤ dist(s,v) (either
    * orientation; ≤ catches new equal-length paths, which change sigma and
    * hence the path-sampling distribution). Only those sources' sigma-BFS
    * tables are recomputed and only their pairs' paths resampled; every
    * other pair keeps its cached sampled path, which is still a uniform
    * draw because its distance AND sigma tables are untouched. Work is
    * proportional to the affected region — the point of the Dyn* family.
    * Deletions invalidate the cached structure (as in the reference):
    * rebuild with [[rkInit]] on deletion batches.
    *
    * `newEdges` = the post-insertion edge table; `inserted` = just the new
    * edges. Pairs are NOT resampled (same estimator sample as `state`),
    * matching the reference, so results equal an [[rkInit]] on `newEdges`
    * with the same r/seed whenever the node set is unchanged.
    */
  def rkInsertEdges(spark: SparkSession, newEdges: DataFrame,
                    inserted: DataFrame, state: RkState,
                    maxDepth: Int = 100): RkState = {
    val adj = brandesAdj(newEdges, state.directed)
    val ins = (if (state.directed)
        inserted.where(col("src") =!= col("dst")).select("src", "dst")
      else GraphOps.symmetrize(GraphOps.canonicalizeUnweighted(
        inserted.where(col("src") =!= col("dst")))).select("src", "dst"))

    // affected sources: some inserted edge u→v with dist(s,u)+1 ≤ dist(s,v)
    // or v not yet reached from s
    val du = state.paths.select(col("source"), col("id").as("src"),
      col("dist").as("du"))
    val dv = state.paths.select(col("source"), col("id").as("dst"),
      col("dist").as("dvv"))
    val affSrc = ins.join(du, "src").join(dv, Seq("source", "dst"), "left")
      .where(col("dvv").isNull || col("du") + 1 <= col("dvv"))
      .select("source").distinct()
      .transform(Materialize.checkpoint)

    if (affSrc.take(1).isEmpty) state
    else {
      val affPairs = state.pairs
        .join(affSrc.withColumnRenamed("source", "s"), Seq("s"), "left_semi")
        .select("pair", "s", "t")
        .transform(Materialize.checkpoint)
      val keepPaths = state.paths
        .join(affSrc, Seq("source"), "left_anti")
      val fresh = sigmaBfs(adj,
        affPairs.select(col("s").as("source")).distinct(), maxDepth)
      val newPaths = fresh.all
      val paths = keepPaths.unionByName(newPaths)
        .transform(Materialize.checkpoint)
      val keepInterior = state.interior
        .join(affPairs.select("pair"), Seq("pair"), "left_anti")
      val newInterior = samplePaths(adj, affPairs, newPaths, state.seed)
      val interior = keepInterior.unionByName(newInterior)
        .transform(Materialize.checkpoint)
      fresh.free()
      RkState(state.pairs, paths, interior, state.r, state.seed,
        state.directed)
    }
  }

  /** Backward path sampling over the sigma-BFS DAG: every pair walks one
    * level per job; the predecessor of w is drawn ∝ sigma(pred) (uniform
    * over shortest paths) via Efraimidis–Spirakis weighted sampling —
    * argmin of −ln(u)/sigma with a counter-based uniform u — expressed as
    * one `min_by` aggregation, so a hub's predecessor list never funnels
    * into a single sorted group. Returns `(pair, id)` interior rows.
    */
  private def samplePaths(adj: DataFrame, pairs: DataFrame,
                          paths: DataFrame, seed: Long): DataFrame = {
    var cur = pairs
      .join(paths.select(col("source").as("s"), col("id").as("t"),
        col("dist")), Seq("s", "t"))
      .select(col("pair"), col("s").as("source"), col("t").as("w"),
        col("dist").as("level"))
      .transform(Materialize.checkpoint)
    var interior = cur.select(col("pair"), col("w").as("id")).limit(0)
      .transform(Materialize.checkpoint)
    var maxLevel = cur.agg(coalesce(max("level"), lit(0))).head().getInt(0)
    while (maxLevel >= 2) {
      val active = cur.where(col("level") >= 2)
      val cand = adj.select(col("src").as("v"), col("dst").as("w"))
        .join(active, "w")
        .join(paths.select(col("source"), col("id").as("v"),
          col("dist").as("dv"), col("sigma").as("sigv")), Seq("source", "v"))
        .where(col("dv") === col("level") - 1)
      // Efraimidis–Spirakis: argmin of −ln(u)/sigma ⇒ P(v) = sigma_v/Σsigma
      val u = (pmod(xxhash64(lit(seed ^ 0x51ED2700L), col("pair"),
        col("level"), col("v")), lit(1000003L)).cast("double") + 0.5) / 1000003.0
      val stepped = cand
        .withColumn("key", -log(u) / col("sigv"))
        .groupBy("pair")
        .agg(min_by(struct(col("source"), col("v"), col("dv")), col("key"))
          .as("pick"))
        .select(col("pair"), col("pick.source").as("source"),
          col("pick.v").as("w"), col("pick.dv").as("level"))
        .transform(Materialize.checkpoint)
      interior = interior
        .unionByName(stepped.select(col("pair"), col("w").as("id")))
        .transform(Materialize.checkpoint)
      cur = stepped
      maxLevel = cur.agg(coalesce(max("level"), lit(0))).head().getInt(0)
    }
    interior
  }
}
