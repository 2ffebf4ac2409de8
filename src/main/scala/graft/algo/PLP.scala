package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{GraphOps, Materialize}
import graft.iterate.{IterConfig, IterationDriver}

/** PLP — label propagation community detection, matching the reference's
  * update rule (`community/PLP.cpp:25-118`) under **synchronous** sweeps:
  *
  *  - init: singleton labels = node id unless a base clustering is given
  *    (`PLP.cpp:31-35`)
  *  - per sweep, for every active non-isolated node u:
  *    `labelWeights[l] = Σ weight(u,w) over neighbors w with label l`
  *    (:80-86); adopt the **heaviest** label, ties broken toward the
  *    **smallest** label (:89-92 — std::map iteration order + max_element
  *    keeping the first maximum)
  *  - nodes that changed re-activate their neighbors; unchanged active
  *    nodes deactivate (:94-102). Under the red-black schedule below this
  *    unrolls to a rule on the state's two change flags: a node of sweep
  *    t's parity updates iff it changed in its own last sweep (t-2) or a
  *    neighbor changed in sweep t-1 or t-2. The state is
  *    `(id, label, changed, prev_changed)`, the flags of sweeps t-1 and t-2;
  *    init sets both, so the first two sweeps update every node.
  *  - stop when `#updated ≤ updateThreshold` (default `n/1e5`, :41-43) or
  *    `maxIterations`
  *  - isolated nodes keep their singleton label (:50-61)
  *
  * The reference updates labels **asynchronously in parallel**, so its exact
  * output is schedule-dependent (documented in SURVEY.md §2.6); this engine
  * pins a deterministic **red-black semi-synchronous** schedule: sweep t
  * updates only nodes with `id % 2 == t % 2`. Fully synchronous (Jacobi)
  * label propagation 2-cycles on symmetric structures (two clique members
  * endlessly swapping labels — a well-known LPA pathology); alternating
  * parity classes is the standard deterministic remedy (red-black
  * Gauss-Seidel) and converges like the reference's async schedule while
  * staying schedule-independent. Convergence = a full red+black round with
  * ≤ threshold updates. Correctness is verified by (a) exact match against a
  * sequential oracle implementing the same pinned semantics and (b)
  * fixed-point/modularity-parity properties.
  *
  * The weighted-majority argmax with min-label tie-break is expressed as
  * `max_by(label, struct(weight, -label))` — a codegen-friendly built-in
  * (SURVEY.md §7.3), no UDAF.
  */
object PLP {

  final case class Config(
      updateThreshold: Long = -1, // -1 → max(1, n/1e5) like the reference
      maxIter: Int = 100,
      checkpointDir: Option[String] = None)

  final case class Result(labels: DataFrame, iterations: Int,
                          history: Vector[graft.iterate.IterRecord])

  /** @param edges undirected edge table (canonical or directed rows —
    *              symmetrized internally). `(id, label)` out.
    */
  def run(spark: SparkSession, edges: DataFrame,
          baseClustering: Option[DataFrame] = None,
          cfg: Config = Config()): Result = {
    // hash-partitioned by dst ONCE: the per-sweep neighbor-activation and
    // update-set semi-joins and the winner aggregation are all dst-keyed,
    // so the cached edge table is never reshuffled inside the loop (the
    // cache preserves outputPartitioning; only node-sized tables move per
    // sweep, plus the one src-keyed label join over the update set's edges)
    val sym = Materialize.cacheForLoop(spark,
      GraphOps.symmetrize(edges).repartition(col("dst")))
    // id-partitioned like every loop state, so the init state needs no
    // re-hash in the first sweep
    val nodes = Materialize.checkpointForLoop(spark, GraphOps.nodes(edges))
    val n = nodes.count()
    val threshold: Double =
      if (cfg.updateThreshold >= 0) cfg.updateThreshold.toDouble
      else math.max(1.0, n / 1e5)

    val init = (baseClustering match {
      case Some(base) => nodes.join(base, Seq("id"), "left")
        .select(col("id"), coalesce(col("label"), col("id")).as("label"))
      case None => nodes.select(col("id"), col("id").as("label"))
    }).withColumn("changed", lit(true)).withColumn("prev_changed", lit(true))

    // node-sized sides hinted shuffle-hash when the per-partition build
    // slice is cache-friendly (GraphOps.hashBuildHint): all loop joins are
    // co-partitioned, so sort-merge would only re-sort both sides per sweep
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    def buildSide(df: DataFrame): DataFrame =
      GraphOps.hashBuildHint(df, n, parts)

    // The step reads only its input state, which is materialized, and
    // references the vote once: its output is the next state and nothing
    // else, so each sweep's plan runs the vote once.
    def step(state: DataFrame, iter: Int): DataFrame = {
      // red-black schedule: this sweep updates nodes of its parity class;
      // the other class keeps its labels.
      val parity = iter % 2
      def ofParity(c: String) = pmod(col(c), lit(2)) === parity
      // nodes of this parity next to a node flagged in the last two sweeps.
      // sym is symmetric, so they are the srcs of edges whose dst is
      // flagged: the semi-join stays on the cached dst-partitioning.
      val flagged = state.where(col("changed") || col("prev_changed"))
        .select(col("id").as("dst"))
      val nearFlagged = sym.where(ofParity("src"))
        .join(buildSide(flagged), Seq("dst"), "left_semi")
        .select(col("src").as("id")).distinct()
        .withColumn("near_flagged", lit(true))
      val updateSet = state.where(ofParity("id"))
        .join(buildSide(nearFlagged), Seq("id"), "left")
        .where(col("prev_changed") || col("near_flagged").isNotNull)
        .select(col("id").as("dst"))
      // neighbor labels arriving at each updating node. The parity filter
      // (a static scan predicate) and the update-set semi-join are applied
      // to the edge table BEFORE the label join, so the big edges⋈labels
      // shuffle only carries rows whose dst actually updates this sweep.
      val nbr = sym.where(ofParity("dst"))
        .join(buildSide(updateSet), Seq("dst"), "left_semi")
        .join(buildSide(state.select(col("id").as("src"),
          col("label").as("nlabel"))), "src")
      val winners = nbr
        .groupBy(col("dst"), col("nlabel"))
        .agg(sum("weight").as("w"))
        .groupBy(col("dst").as("id"))
        .agg(max_by(col("nlabel"),
          struct(col("w"), (-col("nlabel")).as("nl"))).as("winner"))
      state.join(buildSide(winners), Seq("id"), "left")
        .select(col("id"),
          coalesce(col("winner"), col("label")).as("label"),
          coalesce(col("winner") =!= col("label"), lit(false)).as("changed"),
          col("changed").as("prev_changed"))
    }

    // a full round = red + black sweep; stop when the round's total updates
    // fall to the reference's threshold (PLP.cpp:41-43 stop rule shape)
    // next-only metric, so red+black sweep pairs compose into one chain job
    // with a single metric read (IterationDriver.run's unroll), amortizing
    // per-sweep submission overhead; the detected stop sweep and every
    // label are identical to unroll = 1.
    def updatedAgg(next: DataFrame): DataFrame =
      next.agg(sum(when(col("changed") || col("prev_changed"), 1L)
        .otherwise(0L)).as("m"))

    val res = IterationDriver.run(spark, init, step, updatedAgg,
      IterConfig(tol = threshold, maxIter = cfg.maxIter,
        checkpointDir = cfg.checkpointDir),
      IterationDriver.DefaultUnroll)

    sym.unpersist(); Materialize.free(nodes)
    Result(res.state.select("id", "label"), res.iterations, res.history)
  }
}
