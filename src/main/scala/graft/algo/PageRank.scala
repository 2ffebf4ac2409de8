package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.GraphOps
import graft.iterate.{IterConfig, IterationDriver}

/** PageRank — power iteration with damping, matching the reference's exact
  * semantics (`networkit/cpp/centrality/PageRank.cpp:20-71`):
  *
  *  - init: score[u] = 1/n for every node (`:23-27`)
  *  - per iteration: `pr[u] = d · Σ_{(v,u)∈E_in} score[v]·w(v,u)/wdegOut(v)
  *    + (1−d)/n` — **no dangling-mass redistribution**: mass flowing out of
  *    sink nodes leaks, exactly like the reference (`:37-47`)
  *  - stop when the **L2 norm** of the score delta ≤ tol (`:48-57`)
  *  - after convergence, **one** L1 normalization `score /= Σ score`
  *    (`:60-68`)
  *
  * Defaults damp=0.85; tol defaults to 1e-9 like the Python binding
  * (`_NetworKit.pyx:5877`; the C++ default is 1e-8, `PageRank.h:35`).
  * For an undirected graph pass the symmetrized edge view — in-edges are
  * then all neighbors, as in the reference.
  *
  * Scale shape: the per-iteration dataflow is one join + one aggregation.
  * The `shares` table (edges with weight pre-divided by the source's
  * weighted out-degree) is computed once, hash-partitioned by `src`, and
  * persisted — per iteration only the (small) rank vector shuffles to meet
  * it, and the `groupBy(dst)` runs with map-side partial aggregation, which
  * bounds reduce-side rows per hub to the partition count (hub skew is
  * absorbed before the exchange; residual skew is handled by AQE).
  */
object PageRank {

  final case class Config(
      damping: Double = 0.85,
      tol: Double = 1e-9,
      maxIter: Int = 500,
      checkpointDir: Option[String] = None,
      shufflePartitions: Int = 0,
      checkpointEvery: Int = 5,
      /** iterations composed into one Spark job (IterationDriver.run):
        * each hop is lazily local-checkpointed and all hop L2 scalars ride a
        * single action, amortizing the per-iteration job-submission +
        * convergence-read overhead (~half the per-iteration wall at bench
        * scale). Values are hop-for-hop identical to unroll=1, convergence
        * is detected at the exact same iteration, and disk-checkpoint /
        * resume layouts are unchanged (groups clamp at snapshot
        * boundaries).
        */
      unroll: Int = IterationDriver.DefaultUnroll)

  final case class Result(scores: DataFrame, iterations: Int,
                          history: Vector[graft.iterate.IterRecord],
                          resumedFrom: Int = 0)

  /** @param edges directed edge table `(src, dst, weight)`; symmetrize first
    *              for undirected semantics.
    * @param nodes node universe `(id)`; pass `GraphOps.nodes(edges)` if the
    *              graph has no isolated nodes.
    * @return scores `(id, score)`, L1-normalized.
    */
  /** @param warmStart optional previous score vector `(id, score)` to seed
    *                   the iteration (dynamic-graph incremental recompute:
    *                   after an event batch mutates the edge table, warm
    *                   starting cuts iterations-to-tol sharply — the
    *                   Spark-native analog of the reference's Dyn*
    *                   algorithms, SURVEY.md §2.10). New nodes fall back to
    *                   1/n; the vector is re-normalized to sum 1 before
    *                   iterating.
    */
  def run(spark: SparkSession, edges: DataFrame, nodes: DataFrame,
          cfg: Config = Config(), warmStart: Option[DataFrame] = None): Result = {
    val parts =
      if (cfg.shufflePartitions > 0) cfg.shufflePartitions
      else spark.conf.get("spark.sql.shuffle.partitions").toInt

    val n = nodes.count()
    val teleport = (1.0 - cfg.damping) / n

    // out-strength; nodes absent here are dangling — their mass leaks.
    val outW = edges.groupBy("src").agg(sum("weight").as("wout"))
    // normalized transition shares, partitioned by src once so each
    // iteration's join shuffles only the rank vector.
    val shares = edges.join(outW, "src")
      .select(col("src"), col("dst"), (col("weight") / col("wout")).as("share"))
      .repartition(parts, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    shares.count() // materialize before the loop

    val nodesP = nodes.repartition(parts, col("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // state carries (id, score, prev) so the per-iteration convergence
    // scalar is a scan over the freshly materialized state — NO extra
    // old⋈new join job per iteration (halves per-iteration latency; at
    // web scale that join was a second full shuffle of the rank vector).
    val init = warmStart match {
      case None => nodesP.select(col("id"), lit(1.0 / n).as("score"),
        lit(1.0 / n).as("prev"))
      case Some(prev) =>
        val joined = nodesP.join(prev, Seq("id"), "left")
          .select(col("id"), coalesce(col("score"), lit(1.0 / n)).as("score"))
        val total = joined.agg(sum("score")).head().getDouble(0)
        joined.select(col("id"), (col("score") / total).as("score"),
          (col("score") / total).as("prev"))
    }

    // Node-sized join sides are hinted shuffle-hash when their per-
    // partition slice is cache-friendly (GraphOps.hashBuildHint): the
    // sides are already co-partitioned on the join key (shares by src once
    // before the loop; state/contribs by id from the previous exchange),
    // so sort-merge's only contribution is a full re-sort of BOTH sides
    // EVERY iteration — including the m-row cached shares table.
    def buildSide(df: DataFrame): DataFrame =
      GraphOps.hashBuildHint(df, n, parts)

    def step(state: DataFrame, iter: Int): DataFrame = {
      val contribs = shares
        .join(buildSide(state.select(col("id").as("src"), col("score"))), "src")
        .groupBy(col("dst").as("id"))
        .agg(sum(col("share") * col("score")).as("mass"))
      // state is itself the node universe (preserved by the left join),
      // so no extra nodes join is needed
      state.select(col("id"), col("score").as("prevScore"))
        .join(buildSide(contribs), Seq("id"), "left")
        .select(col("id"),
          (lit(cfg.damping) * coalesce(col("mass"), lit(0.0)) + lit(teleport))
            .as("score"),
          col("prevScore").as("prev"))
    }

    val res = IterationDriver.run(spark, init, step,
      next => next.agg(sqrt(sum(pow(col("score") - col("prev"), 2))).as("m")),
      IterConfig(cfg.tol, cfg.maxIter, cfg.checkpointDir, cfg.checkpointEvery),
      cfg.unroll)

    val l1 = res.state.agg(sum(abs(col("score")))).head().getDouble(0)
    val scores = res.state.select(col("id"), (col("score") / l1).as("score"))
      .transform(graft.core.Materialize.checkpoint)
    // release the per-run cached transition table and node set — repeated
    // runs in one session must not accumulate block-manager residue
    shares.unpersist(blocking = false)
    nodesP.unpersist(blocking = false)
    graft.core.Materialize.free(res.state)
    Result(scores, res.iterations, res.history, res.resumedFrom)
  }
}
