package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel
import graft.core.{GraphOps, Materialize}
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

  /** Core decomposition / coreness (`centrality/CoreDecomposition.cpp`).
    *
    * H-index fixpoint (Lü/Chen/Ren/Zhang 2016, "The H-index of a network
    * node"): init c(v) = deg(v); sweep c(v) ← H({c(u) : u ∈ N(v)}). The
    * sequence is monotonically non-increasing and its fixpoint is EXACTLY
    * the coreness of the reference's peeling (ParK, :25-31) — but it
    * converges in a few dozen sweeps where level-synchronous peeling needs
    * one distributed round per peel wave (hundreds on deep-chain web
    * graphs). Per sweep the H-index is computed hub-safely from a per-node
    * HISTOGRAM of neighbor values (≤ #distinct c-values rows per node, never
    * the raw incidence list): with entries (value v_i desc, count ≥ v_i
    * cumulative N_i), h = max_i min(v_i, N_i). An active set keeps late
    * sweeps cheap: only nodes with a changed neighbor recompute. The sweeps
    * run on `IterationDriver.run` until no node changes; unrolling composes
    * the many small tail sweeps into one job per group.
    */
  def coreDecomposition(spark: SparkSession, edges: DataFrame): DataFrame = {
    val simple = GraphOps.canonicalizeUnweighted(
      edges.where(col("src") =!= col("dst"))).select("src", "dst")
    val sym0 = GraphOps.symmetrize(simple.withColumn("weight", lit(1.0)))
      .select("src", "dst")
    // partitioned on each join key once and checkpointed, not persisted:
    // planned with AQE off like the loop, they keep their partitioning, and
    // freeing them cannot drop a caller's cache of the same plan
    val symBySrc = Materialize.checkpointForLoop(spark, sym0.repartition(col("src")))
    val symByDst = Materialize.checkpointForLoop(spark, sym0.repartition(col("dst")))
    val init = Materialize.checkpointForLoop(spark,
      symBySrc.groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("c")).withColumn("changed", lit(true)))
    // node-sized sides hinted shuffle-hash when the per-partition build
    // slice is cache-friendly (GraphOps.hashBuildHint): a sort-merge join
    // would re-sort the (large) filtered edge side every sweep
    val nNodes = init.count()
    val kparts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    def buildSide(df: DataFrame): DataFrame =
      GraphOps.hashBuildHint(df, nNodes, kparts)

    def sweep(st: DataFrame, iter: Int): DataFrame = {
      // nodes with ≥1 changed neighbor — their H-index may have dropped
      val changedSrc = st.where(col("changed")).select(col("id").as("src"))
      val affected = symBySrc
        .join(buildSide(changedSrc), Seq("src"), "left_semi")
        .select("dst").distinct()
      val hist = symByDst
        .join(buildSide(affected), Seq("dst"), "left_semi")
        .join(buildSide(st.select(col("id").as("src"), col("c"))), "src")
        .groupBy(col("dst").as("id"), col("c")).agg(count(lit(1)).as("cnt"))
      val h = hist
        .withColumn("cum", sum("cnt").over(
          Window.partitionBy("id").orderBy(col("c").desc)))
        .groupBy("id").agg(max(least(col("c"), col("cum"))).as("h"))
      st.select("id", "c")
        .join(buildSide(h), Seq("id"), "left")
        .select(col("id"),
          least(col("c"), coalesce(col("h"), col("c"))).as("c"),
          (coalesce(col("h"), col("c")) < col("c")).as("changed"))
    }
    def changedAgg(next: DataFrame): DataFrame =
      next.agg(sum(when(col("changed"), 1L).otherwise(0L)).as("changed"))

    val res = IterationDriver.run(spark, init, sweep, changedAgg,
      IterConfig(tol = 0.0, maxIter = Int.MaxValue),
      IterationDriver.DefaultUnroll)
    Seq(init, symBySrc, symByDst).foreach(Materialize.free)
    res.state.select(col("id"), col("c").as("coreness"))
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
