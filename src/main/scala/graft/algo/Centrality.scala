package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel
import graft.core.GraphOps
import graft.iterate.{IterConfig, IterationDriver}

/** Non-PageRank centralities (SURVEY.md §2.4), all sharing the SpMV
  * join-agg skeleton or plain aggregations.
  */
object Centrality {

  /** Degree centrality (`centrality/DegreeCentrality.cpp`): out-degree per
    * node, optionally normalized by (n-1). Pass the symmetrized view for
    * undirected semantics.
    */
  def degree(spark: SparkSession, edges: DataFrame,
             normalized: Boolean = false): DataFrame = {
    val nodes = GraphOps.nodes(edges)
    val deg = edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
    val joined = nodes.join(deg, Seq("id"), "left")
      .select(col("id"), coalesce(col("d"), lit(0L)).as("d"))
    if (!normalized) joined.withColumnRenamed("d", "score")
    else {
      val n = nodes.count()
      joined.select(col("id"), (col("d") / (n - 1.0)).as("score"))
    }
  }

  /** Eigenvector centrality (`centrality/EigenvectorCentrality.cpp`): power
    * iteration `x' = A·x`, 2-norm normalized each step, L2 stop (tol 1e-9
    * default like the reference).
    *
    * The per-step 2-norm is computed IN the dataflow — a 1-row ungrouped
    * aggregate equi-joined back on a constant key (a BroadcastHashJoin of a
    * 1-row side, not a cartesian) — and the previous score rides the state,
    * so the whole step is declarative with a next-only metric and the loop
    * unrolls in `IterationDriver.run` like PageRank. Values are
    * hop-for-hop identical to the driver-side-norm formulation (same sum
    * expression, same Math.sqrt, same zero-norm guard).
    */
  def eigenvector(spark: SparkSession, edges: DataFrame, nodes: DataFrame,
                  tol: Double = 1e-9, maxIter: Int = 500): DataFrame = {
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val adj = edges.select("src", "dst", "weight")
      .repartition(parts, col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count()
    val init = nodes.select(col("id"),
      lit(1.0 / math.sqrt(n.toDouble)).as("score"), lit(0.0).as("prev"))

    def step(state: DataFrame, iter: Int): DataFrame = {
      // x'[u] = Σ_{(v,u)} w(v,u)·x[v]  (gather over in-edges)
      val raw = adj.join(state.select(col("id").as("src"), col("score")), "src")
        .groupBy(col("dst").as("id"))
        .agg(sum(col("weight") * col("score")).as("s"))
      val full = state.select(col("id"), col("score").as("prev"))
        .join(raw, Seq("id"), "left")
        .select(col("id"), col("prev"), coalesce(col("s"), lit(0.0)).as("s"))
        .withColumn("k", lit(1))
      val nrm = full.groupBy("k").agg(sqrt(sum(col("s") * col("s"))).as("nrm"))
      full.join(broadcast(nrm), "k")
        .select(col("id"),
          (col("s") / when(col("nrm") === 0.0, 1.0).otherwise(col("nrm")))
            .as("score"),
          col("prev"))
    }

    def l2Agg(next: DataFrame): DataFrame =
      next.agg(sqrt(sum(pow(col("score") - col("prev"), 2))).as("m"))

    val res = IterationDriver.run(spark, init, step, l2Agg,
      IterConfig(tol, maxIter), IterationDriver.DefaultUnroll)
    adj.unpersist()
    res.state.select("id", "score")
  }

  /** Katz centrality (`centrality/KatzCentrality.cpp`): iterate
    * `x' = α·Aᵀx + β` to fixpoint, report L2-normalized scores. The
    * previous score rides the state (PageRank's `prev` trick) so the L2
    * stop is a next-only aggregate and the loop fuses.
    */
  def katz(spark: SparkSession, edges: DataFrame, nodes: DataFrame,
           alpha: Double = 0.1, beta: Double = 1.0,
           tol: Double = 1e-9, maxIter: Int = 500): DataFrame = {
    val init = nodes.select(col("id"), lit(0.0).as("score"),
      lit(0.0).as("prev"))
    def step(state: DataFrame, iter: Int): DataFrame = {
      val raw = edges.join(state.select(col("id").as("src"), col("score")), "src")
        .groupBy(col("dst").as("id"))
        .agg(sum(col("weight") * col("score")).as("s"))
      state.select(col("id"), col("score").as("prev"))
        .join(raw, Seq("id"), "left")
        .select(col("id"),
          (lit(alpha) * coalesce(col("s"), lit(0.0)) + lit(beta)).as("score"),
          col("prev"))
    }
    def l2Agg(next: DataFrame): DataFrame =
      next.agg(sqrt(sum(pow(col("score") - col("prev"), 2))).as("m"))
    val res = IterationDriver.run(spark, init, step, l2Agg,
      IterConfig(tol, maxIter), IterationDriver.DefaultUnroll)
    val norm = math.sqrt(res.state.agg(sum(col("score") * col("score")))
      .head().getDouble(0))
    res.state.select(col("id"), (col("score") / norm).as("score"))
  }

  /** Ranking surface (`centrality/Centrality.cpp:25-33`): sort desc by
    * score, ties by ascending id; `limit(k)` for top-k.
    */
  def ranking(scores: DataFrame, k: Int = 0): DataFrame = {
    val sorted = scores.orderBy(desc("score"), asc("id"))
    if (k > 0) sorted.limit(k) else sorted
  }

  /** Sfigality (`centrality/Sfigality.cpp`): the fraction of a node's
    * neighbors that have strictly higher degree — high sfigality means the
    * node hangs off better-connected nodes. One degree join + one
    * aggregation; isolated nodes score 0.
    */
  def sfigality(spark: SparkSession, edges: DataFrame): DataFrame = {
    val sym = GraphOps.symmetrize(GraphOps.canonicalizeUnweighted(
      edges.where(col("src") =!= col("dst"))))
    val deg = GraphOps.degrees(sym)
    sym.select("src", "dst")
      .join(deg.select(col("id").as("src"), col("degree").as("du")), "src")
      .join(deg.select(col("id").as("dst"), col("degree").as("dv")), "dst")
      .groupBy(col("src").as("id"))
      .agg((sum(when(col("dv") > col("du"), 1L).otherwise(0L)) /
        count(lit(1)).cast("double")).as("score"))
  }

  /** LocalPartitionCoverage (`centrality/LocalPartitionCoverage.cpp:17-23`):
    * score(u) = Σ_{v ∈ N(u), P(u)=P(v)} w(u,v) / weightedDegree(u) — the
    * weighted fraction of a node's incident edges staying inside its own
    * partition. One label join per endpoint + one aggregation; self-loops
    * count once (symmetrize emits the loop row once), matching the
    * reference's visit-once `forNeighborsOf` loop.
    */
  def localPartitionCoverage(spark: SparkSession, edges: DataFrame,
                             labels: DataFrame): DataFrame = {
    val wsym = GraphOps.symmetrize(GraphOps.canonicalize(edges))
    val lab = labels.select(col("id"), col("label"))
    wsym
      .join(lab.select(col("id").as("src"), col("label").as("lu")), "src")
      .join(lab.select(col("id").as("dst"), col("label").as("lv")), "dst")
      .groupBy(col("src").as("id"))
      .agg((sum(when(col("lu") === col("lv"), col("weight")).otherwise(0.0)) /
        sum(col("weight"))).as("score"))
  }

  /** PermanenceCentrality (`centrality/PermanenceCentrality.cpp` /
    * Chakraborty et al.): for node v in community c,
    *   perm(v) = I(v) / (E_max(v) · deg(v)) − (1 − c_in(v))
    * with I = #neighbors sharing v's community, E_max = the largest number
    * of neighbors in any single OTHER community (1 when none — the
    * reference's convention to avoid /0), and c_in = the clustering
    * coefficient among v's internal neighbors. All four terms are joins +
    * aggregations; the c_in triangle listing reuses the degree-ordered
    * wedge-join shape (each wedge checked once).
    */
  def permanence(spark: SparkSession, edges: DataFrame,
                 labels: DataFrame): DataFrame = {
    val sym = GraphOps.symmetrize(GraphOps.canonicalizeUnweighted(
        edges.where(col("src") =!= col("dst"))))
      .select("src", "dst")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lab = labels.select(col("id"), col("label"))
    val nbrLab = sym
      .join(lab.select(col("id").as("src"), col("label").as("lu")), "src")
      .join(lab.select(col("id").as("dst"), col("label").as("lv")), "dst")
    val perComm = nbrLab
      .groupBy(col("src").as("id"), col("lu"), col("lv"))
      .agg(count(lit(1)).as("c"))
    val stats = perComm.groupBy("id")
      .agg(sum(when(col("lu") === col("lv"), col("c")).otherwise(0L)).as("i"),
        max(when(col("lu") =!= col("lv"), col("c"))).as("emax"),
        sum("c").as("deg"))
    // c_in numerator: triangles through v whose other two corners are in
    // v's community — from the degree-ordered triangle listing (hub-safe:
    // a per-v wedge self-join would be quadratic in a hub's degree)
    val tri = Triangles.triangles(spark, sym.withColumn("weight", lit(1.0)))
    val lt = tri
      .join(lab.select(col("id").as("u"), col("label").as("lu")), "u")
      .join(lab.select(col("id").as("v"), col("label").as("lv")), "v")
      .join(lab.select(col("id").as("w"), col("label").as("lw")), "w")
    val closed = lt.select(explode(array(
        struct(col("u").as("id"),
          (col("lv") === col("lu") && col("lw") === col("lu")).as("ok")),
        struct(col("v").as("id"),
          (col("lu") === col("lv") && col("lw") === col("lv")).as("ok")),
        struct(col("w").as("id"),
          (col("lu") === col("lw") && col("lv") === col("lw")).as("ok"))))
        .as("e"))
      .where(col("e.ok"))
      .groupBy(col("e.id").as("id")).agg(count(lit(1)).as("tin"))
    stats.join(closed, Seq("id"), "left")
      .select(col("id"),
        (col("i") / (coalesce(col("emax"), lit(1L)) * col("deg")).cast("double")
          - (lit(1.0) - when(col("i") >= 2,
              coalesce(col("tin"), lit(0L)) * 2.0 /
                (col("i") * (col("i") - 1)))
            .otherwise(lit(1.0)))).as("score"))
  }

  /** Core decomposition / coreness (`centrality/CoreDecomposition.cpp`,
    * ParK level-synchronous peeling :25-31): iteratively remove nodes of
    * degree ≤ k, assigning them coreness k; k increases when no node is
    * below the threshold. The Spark shape is the classic peel loop —
    * each round is a degree filter + semi-join shrink of the live subgraph.
    */
  /** @param compactAt tail-compaction trigger: when the changed-node count
    *                   drops to ≤ this, the edge caches are re-persisted
    *                   filtered to a 2-hop ball around the changed set (see
    *                   the region-compaction block below). `-1` = auto
    *                   (n/100; `SPARK_GRAFT_KCORE_COMPACT=0` disables for
    *                   A/B), `0` = never, `Long.MaxValue` = from sweep 1
    *                   (test hook for the escape/rollback path).
    */
  def coreDecomposition(spark: SparkSession, edges: DataFrame,
                        compactAt: Long = -1L): DataFrame = {
    // H-index fixpoint (Lü/Chen/Ren/Zhang 2016, "The H-index of a network
    // node"): init c(v) = deg(v); sweep c(v) ← H({c(u) : u ∈ N(v)}). The
    // sequence is monotonically non-increasing and its fixpoint is EXACTLY
    // the coreness of the reference's peeling (`centrality/
    // CoreDecomposition.cpp` ParK) — but it converges in a few dozen sweeps
    // where level-synchronous peeling needs one distributed round per peel
    // wave (hundreds on deep-chain web graphs). Per sweep the H-index is
    // computed hub-safely from a per-node HISTOGRAM of neighbor values
    // (≤ #distinct c-values rows per node, never the raw incidence list):
    // with entries (value v_i desc, count ≥ v_i cumulative N_i),
    // h = max_i min(v_i, N_i). An active set keeps late sweeps cheap: only
    // nodes with a changed neighbor recompute.
    val simple = GraphOps.canonicalizeUnweighted(
      edges.where(col("src") =!= col("dst"))).select("src", "dst")
    val sym0 = GraphOps.symmetrize(simple.withColumn("weight", lit(1.0)))
      .select("src", "dst")
    val symBySrc = sym0.repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val symByDst = sym0.repartition(col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val verbose = sys.env.contains("SPARK_GRAFT_KCORE_VERBOSE")
    var state = symBySrc.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("c")).withColumn("changed", lit(true))
      .transform(graft.core.Materialize.checkpoint)
    // node-scale degree snapshot (init c = degree): the tail-compaction
    // pre-estimate below reads it instead of scanning the edge caches
    val degrees = state.select(col("id"), col("c").as("deg"))
      .transform(graft.core.Materialize.checkpoint)
    var changed = state.count()
    // node-sized sides hinted shuffle-hash when the per-partition build
    // slice is cache-friendly (GraphOps.hashBuildHint): a sort-merge join
    // would re-sort the (large) filtered edge side every sweep
    val kparts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val nNodes = changed
    def buildSide(df: DataFrame): DataFrame =
      graft.core.GraphOps.hashBuildHint(df, nNodes, kparts)
    // One H-index hop, split into reusable pieces so the tail-compacted
    // variant below can share the exact body: `applyH` folds a computed
    // H-index table back into the state; `hIndexOf` computes it for an
    // affected set against a given (possibly compacted) dst-keyed cache.
    def hIndexOf(affected: DataFrame, dstCache: DataFrame,
                 st: DataFrame): DataFrame = {
      val hist = dstCache
        .join(buildSide(affected), Seq("dst"), "left_semi")
        .join(buildSide(st.select(col("id").as("src"), col("c"))), "src")
        .groupBy(col("dst").as("id"), col("c")).agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("id").orderBy(col("c").desc)
      hist.withColumn("cum", sum("cnt").over(w))
        .groupBy("id").agg(max(least(col("c"), col("cum"))).as("h"))
    }
    def applyH(st: DataFrame, h: DataFrame): DataFrame =
      st.select("id", "c")
        .join(buildSide(h), Seq("id"), "left")
        .select(col("id"),
          least(col("c"), coalesce(col("h"), col("c"))).as("c"),
          (coalesce(col("h"), col("c")) < col("c")).as("changed"))
    // the exact sweep body, composable (input/output both carry
    // (id, c, changed); no action, no materialization).
    def sweepOnce(st: DataFrame): DataFrame = {
      // nodes with ≥1 changed neighbor — their H-index may have dropped
      val changedSrc = st.where(col("changed")).select(col("id").as("src"))
      val affected = symBySrc
        .join(buildSide(changedSrc), Seq("src"), "left_semi")
        .select("dst").distinct()
      applyH(st, hIndexOf(affected, symByDst, st))
    }
    // Sweep-unrolling: once the active set is small, the per-sweep cost is
    // dominated by fixed job overhead (localCheckpoint rewrite of the full
    // node state, the convergence count, stage scheduling), not data — the
    // 2M-node bench graph spends ~35 of ~100 s on ~29 tail sweeps that each
    // move ≤100 nodes. Composing k hops into ONE job amortizes that
    // overhead k-fold. Intermediate hop states are LAZILY local-checkpointed
    // so (a) the two references to `st` in the next hop (changed-frontier +
    // c-value join) share one cached computation instead of recomputing the
    // composed subtree, and (b) the logical plan stays flat per hop — a
    // plain persist() shares execution but doubles the plan tree per hop
    // (measured 6 MB plan strings by hop 4). Overshoot past the fixpoint is
    // harmless and cheap: a converged hop propagates an empty frontier.
    // ---- Tail region-compaction (round-5; A/B in BASELINE.md) ----
    // In the tail the sweeps move a few hundred nodes yet every hop still
    // scans the full 2×m-row symBySrc/symByDst caches (the semi-join probe
    // cost is the scan, not the match count). Once the changed set is small
    // (≤ compactAt), re-persist BOTH caches filtered to edges incident to a
    // 2-hop ball `region` around the changed set — a ONE-time pair of full
    // scans — and run subsequent sweeps on the compact caches.
    //
    // Soundness (the cascade is value-gated and can in principle travel
    // arbitrarily far, so a static filter alone would be silently wrong on
    // chain-shaped graphs): a sweep on the compact caches is EXACT as long
    // as (a) the changed set ⊆ region — then every out-edge of a changed
    // node is present, so the computed affected set is the true one — and
    // (b) affected ⊆ region — then every in-edge of every affected node is
    // present, so the H-index histograms are complete. (a) holds
    // inductively (new changed ⊆ affected); (b) is CHECKED per hop: each
    // hop also derives `escaped = affected \ region`, and all hop escape
    // counts ride the group's single metric action. An escaping hop's
    // output is discarded (its histograms may be incomplete), the loop
    // rolls back to the last valid hop and rebuilds the region there. A
    // rebuilt 2-hop ball guarantees the next TWO hops cannot escape
    // (affected after j sweeps ⊆ ball_j), so rollback always makes
    // progress. A ball that blows past nNodes/16 (hub adjacency) bails
    // back to full-cache mode with a 4× back-off on the trigger.
    val compactThreshold: Long =
      if (compactAt >= 0L) compactAt
      else if (sys.env.get("SPARK_GRAFT_KCORE_COMPACT").contains("0")) 0L
      else nNodes / 100
    var retryBelow = compactThreshold
    var region: Option[DataFrame] = None
    var cSrc: DataFrame = null
    var cDst: DataFrame = null
    // directed edge-cache rows, for the compactness cap; evaluated only if
    // an attempt survives the node-count caps (one cached scan, once)
    lazy val mEdges = symBySrc.count()
    def freeCompact(): Unit = region.foreach { r =>
      graft.core.Materialize.free(r)
      graft.core.Materialize.free(cSrc)
      graft.core.Materialize.free(cDst)
      region = None
    }
    // A radius-r ball guarantees r escape-free sweeps (affected after j
    // sweeps ⊆ ball_j); each expansion hop costs one full symBySrc scan, so
    // TRAVELING cascades (crawler-trap chains: the frontier moves one hop
    // per sweep) amortize rebuilds better with a larger radius — (r+2)
    // scans buy ≥ r sweeps. The radius doubles on consecutive
    // escape-rebuilds (cap 8) and resets after an escape-free group.
    // Every compaction product (ball levels, region, cSrc, cDst) is an
    // EAGER localCheckpoint, not a persist: these objects outlive the state
    // generation they were derived from, and a persisted DataFrame keeps
    // its full lineage — any later cache-miss recompute would read a
    // since-freed state's checkpoint blocks and die with
    // CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. Checkpointing snapshots the data
    // into self-contained blocks with flat lineage; nothing in compact
    // mode can recompute through a freed ancestor.
    def tryCompact(st: DataFrame, changedNow: Long, radius: Int): Unit = {
      freeCompact()
      // floor 64: on small graphs n/16 would reject even a trivial region
      val cap = math.max(nNodes / 16, 64L)
      // NODE-SCALE estimates gate every edge-cache scan: Σ deg(ball) is an
      // upper bound on the next expansion level (|ball_{r+1}| ≤ |ball_r| +
      // Σ deg(ball_r)) and EXACTLY the compact cache's directed edge count
      // (edges with src ∈ ball). On power-law web graphs even a 5-node
      // changed set sits next to mega-hubs (measured at bench scale: ball₂
      // of 5 nodes = 69k nodes / 3.3M edges = 17% of the graph), and
      // discovering that with real ball expansions costs full edge-cache
      // scans per attempt — the first A/B showed those wasted attempts
      // erasing the compaction win. With the estimates, a doomed attempt
      // costs only cheap degree-table aggregates and at most the
      // expansions that were genuinely within budget.
      var ball = graft.core.Materialize.checkpoint(
        st.where(col("changed")).select("id"))
      var r = 0
      var ballN = changedNow
      var bailed = false
      var degSum = 0L
      while (r < radius && !bailed) {
        degSum = ball.join(degrees, "id").agg(sum("deg")).head().getLong(0)
        if (ballN + degSum > cap) {
          bailed = true // next level can only exceed the cap
        } else {
          val next = graft.core.Materialize.checkpoint(
            ball.unionByName(
                symBySrc.join(ball.select(col("id").as("src")).hint("broadcast"),
                    Seq("src"), "left_semi")
                  .select(col("dst").as("id")))
              .distinct())
          ballN = next.count()
          graft.core.Materialize.free(ball)
          ball = next
          r += 1
        }
      }
      if (!bailed) {
        degSum = ball.join(degrees, "id").agg(sum("deg")).head().getLong(0)
        // exact compact-cache size; above m/16 it is not compact — sweeps
        // would still scan a sizeable graph fraction plus rebuild churn
        bailed = degSum > math.max(mEdges / 16, 256L)
      }
      if (bailed) {
        graft.core.Materialize.free(ball)
        retryBelow = changedNow / 4
        if (verbose) System.err.println(
          s"[kcore] compaction bailed at ball_$r=$ballN (next/edges est " +
            s"$degSum, cap $cap); retry at $retryBelow")
        return
      }
      cSrc = graft.core.Materialize.checkpoint(
        symBySrc
          .join(ball.select(col("id").as("src")).hint("broadcast"),
            Seq("src"), "left_semi")
          .repartition(col("src")))
      val ce = cSrc.count()
      cDst = graft.core.Materialize.checkpoint(
        symByDst
          .join(ball.select(col("id").as("dst")).hint("broadcast"),
            Seq("dst"), "left_semi")
          .repartition(col("dst")))
      cDst.count()
      region = Some(ball)
      if (verbose) System.err.println(
        s"[kcore] compacted: region=$ballN nodes (radius $radius), " +
          s"$ce directed edges (changed=$changedNow)")
    }
    // compact-mode hop: same body as sweepOnce over the compact caches,
    // plus the escape check. The affected expression is deliberately built
    // TWICE (histogram branch inside the chain job, escape branch inside
    // the metric action) instead of shared via a lazy checkpoint: a hop
    // past convergence has an empty changed set, AQE's empty-relation
    // propagation then prunes the affected subtree out of the chain job's
    // plan entirely, and a shared lazy checkpoint would leave the metric
    // action reading never-materialized checkpoint blocks. Recomputing is a
    // scan of the COMPACT cache — cheap by construction.
    def sweepOnceCompact(st: DataFrame): (DataFrame, DataFrame) = {
      def affected = {
        val changedSrc = st.where(col("changed")).select(col("id").as("src"))
        cSrc.join(buildSide(changedSrc), Seq("src"), "left_semi")
          .select("dst").distinct()
      }
      val escaped = affected.join(
        region.get.select(col("id").as("dst")).hint("broadcast"),
        Seq("dst"), "left_anti")
      (applyH(st, hIndexOf(affected, cDst, st)), escaped)
    }

    val hopCaches = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var sweep = 0
    // Radius doubles on each escape-rebuild (a traveling cascade needs the
    // bigger ball: r+2 scans buy ≥ r sweeps) and resets only after 4
    // consecutive escape-free groups — resetting on the FIRST quiet group
    // oscillates 2↔4 with an immediate hop-0 escape per cycle when the
    // cascade travels steadily (observed on path-graph drains).
    var rebuildRadius = 2
    var quietGroups = 0
    while (changed > 0) {
      val t0 = System.nanoTime()
      if (region.isEmpty && changed <= retryBelow)
        tryCompact(state, changed, rebuildRadius)
      val hops =
        if (changed <= math.max(nNodes / 500, 8L)) 4
        else if (changed <= math.max(nNodes / 50, 64L)) 2
        else 1
      if (region.isDefined) graft.core.Sessions.withoutAqe(spark) {
        // Unrolled group over the compact caches, with per-hop escape
        // accounting folded into the single group action. AQE is OFF for
        // the group (restored after): the metric action reads every
        // intermediate lazily-checkpointed hop state back, and under AQE
        // the chain job materializes its query stages as separate jobs, so
        // the final job's doCheckpoint recursion does not reliably reach
        // the marked intermediate RDDs — the metric then reads
        // never-materialized checkpoint blocks (the same reason
        // IterationDriver.run runs AQE-off). The full-cache branch
        // below never reads intermediates back and keeps AQE.
        val states = new scala.collection.mutable.ArrayBuffer[DataFrame](hops)
        val escapes = new scala.collection.mutable.ArrayBuffer[DataFrame](hops)
        var cur = state
        var i = 0
        while (i < hops) {
          val (nxt, esc) = sweepOnceCompact(cur)
          cur =
            if (i < hops - 1) graft.core.Materialize.checkpointLazy(nxt)
            else graft.core.Materialize.checkpoint(nxt)
          states += cur; escapes += esc
          i += 1
        }
        // one action: per-hop changed count (kind 0) + escape count (kind 1)
        val collected = (states.zipWithIndex.map { case (s, j) =>
          s.agg(sum(when(col("changed"), 1L).otherwise(0L)).as("v"))
            .select(lit(j).as("hop"), lit(0).as("kind"),
              coalesce(col("v"), lit(0L)).as("v"))
        } ++ escapes.zipWithIndex.map { case (e, j) =>
          e.agg(count(lit(1)).as("v"))
            .select(lit(j).as("hop"), lit(1).as("kind"), col("v").as("v"))
        }).reduce(_ unionByName _).collect()
        val mByHop = collected.filter(_.getInt(1) == 0)
          .map(r => r.getInt(0) -> r.getLong(2)).toMap
        val escByHop = collected.filter(_.getInt(1) == 1)
          .map(r => r.getInt(0) -> r.getLong(2)).toMap
        val firstEsc = (0 until hops).find(j => escByHop(j) > 0)
        val valid = firstEsc.getOrElse(hops)
        for (j <- valid until hops) graft.core.Materialize.free(states(j))
        if (valid > 0) {
          for (j <- 0 until valid - 1) graft.core.Materialize.free(states(j))
          graft.core.Materialize.free(state)
          state = states(valid - 1)
          changed = mByHop(valid - 1)
          sweep += valid
        }
        if (firstEsc.isDefined) {
          if (verbose) System.err.println(
            s"[kcore] escape at group hop ${firstEsc.get} " +
              s"(${escByHop(firstEsc.get)} nodes); rebuilding region")
          quietGroups = 0
          if (changed > 0) {
            rebuildRadius = math.min(rebuildRadius * 2, 8)
            tryCompact(state, changed, rebuildRadius)
          }
        } else {
          quietGroups += 1
          if (quietGroups >= 4) rebuildRadius = 2
        }
      } else {
        var cur = state
        var i = 0
        while (i < hops) {
          cur = sweepOnce(cur)
          if (i < hops - 1) {
            cur = graft.core.Materialize.checkpointLazy(cur)
            hopCaches += cur
          }
          i += 1
        }
        val next = graft.core.Materialize.checkpoint(cur)
        changed = next.where(col("changed")).count()
        hopCaches.foreach(graft.core.Materialize.free)
        hopCaches.clear()
        graft.core.Materialize.free(state)
        state = next
        sweep += hops
      }
      if (verbose) System.err.println(
        f"[kcore] sweep $sweep (x$hops) changed=$changed ${(System.nanoTime() - t0) / 1e9}%6.2f s")
    }
    freeCompact()
    graft.core.Materialize.free(degrees)
    symBySrc.unpersist(blocking = false)
    symByDst.unpersist(blocking = false)
    state.select(col("id"), col("c").as("coreness"))
  }

  /** KPathCentrality (`centrality/KPathCentrality.cpp:32-100`): sample `t`
    * random simple paths of length uniform in [1,k]; score(v) = k·n·
    * visits(v)/t. The reference's sequential RNG walk is determinized the
    * usual way (SEIR/Luby/ESMC precedent): start node, length, and every
    * neighbor choice are integer-hash draws, so the run is replayable.
    * All `t` walks advance TOGETHER — the state is a (walk, cur, visited)
    * table and each of the ≤k steps is one adjacency join — and the
    * reference's 1/ew-weighted neighbor choice among unexplored neighbors
    * becomes a Gumbel-max draw (argmin over ln(1/u)·ew), which is a plain
    * hub-safe min-aggregation instead of a per-walk cumulative-sum scan.
    *
    * @param samples overrides the reference's t = 2k²·n^(1−2α)·ln n walk
    *                count (that formula is a statistical budget, not a
    *                semantic contract; at web scale the caller sizes it).
    */
  def kPath(spark: SparkSession, edges: DataFrame, alpha: Double = 0.2,
            k: Int = 0, samples: Long = 0, seed: Long = 42): DataFrame = {
    import graft.core.Materialize
    require(alpha >= -0.5 && alpha <= 0.5,
      "alpha must lie in interval [-0.5, 0.5]")
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val sym = GraphOps.symmetrize(
        edges.where(col("src") =!= col("dst")))
      .repartition(parts, col("src")).sortWithinPartitions("src")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = graft.core.DenseId.assign(
      GraphOps.nodes(sym), "idx", Seq("id"))
    val n = nodes.count()
    val m = sym.count() / 2
    val kk = if (k > 0) k else math.max(1, math.log((n + m).toDouble).toInt)
    val t =
      if (samples > 0) samples
      else math.ceil(2 * kk * kk * math.pow(n.toDouble, 1 - 2 * alpha) *
        math.log(n.toDouble)).toLong
    // deterministic start node + walk length per walk id
    val M = 1L << 30
    def u01(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (pmod(c, lit(M)).cast("double") + 0.5) / M.toDouble
    var walks = spark.range(t).select(col("id").as("wid"))
      .withColumn("idx", pmod(xxhash64(lit(seed), lit("s"), col("wid")), lit(n)))
      .join(nodes, "idx")
      .select(col("wid"), col("id").as("cur"),
        (pmod(xxhash64(lit(seed), lit("l"), col("wid")), lit(kk.toLong)) + 1)
          .as("len"),
        lit(0L).as("step"), array(col("id")).as("visited"))
      .repartition(parts, col("cur"))
      .transform(Materialize.checkpoint)
    for (j <- 1 to kk) {
      val active = walks.where(col("step") < col("len"))
      val cand = sym.join(active.select(col("cur").as("src"), col("wid"),
          col("visited")), "src")
        .where(!array_contains(col("visited"), col("dst")))
        // Gumbel-max categorical draw with weights 1/ew: argmin ln(1/u)·ew
        .select(col("wid"), col("dst"),
          struct((log(lit(1.0) /
              u01(xxhash64(lit(seed), col("wid"), lit(j.toLong), col("dst"))))
            * col("weight")).as("key"), col("dst").as("pick")).as("g"))
      val chosen = cand.groupBy("wid").agg(min("g").as("g"))
        .select(col("wid"), col("g.pick").as("nxt"))
      val next = walks.join(chosen, Seq("wid"), "left")
        .select(col("wid"),
          coalesce(col("nxt"), col("cur")).as("cur"),
          // dead end (no unexplored neighbor): walk ends here
          when(col("nxt").isNull && col("step") < col("len"), col("step"))
            .otherwise(col("len")).as("len"),
          when(col("nxt").isNull, col("step"))
            .otherwise(col("step") + 1).as("step"),
          when(col("nxt").isNull, col("visited"))
            .otherwise(concat(col("visited"), array(col("nxt"))))
            .as("visited"))
        .transform(Materialize.checkpoint)
      Materialize.free(walks)
      walks = next
    }
    // visits exclude the start node (the reference counts pushes, and the
    // start is pushed without a counter increment)
    val counts = walks
      .select(explode(slice(col("visited"), 2, kk)).as("id"))
      .groupBy("id").agg(count(lit(1)).as("visits"))
    val out = nodes.join(counts, Seq("id"), "left")
      .select(col("id"),
        (lit(kk.toDouble) * n * coalesce(col("visits"), lit(0L)) / t.toDouble)
          .as("score"))
    sym.unpersist(blocking = false)
    out
  }
}
