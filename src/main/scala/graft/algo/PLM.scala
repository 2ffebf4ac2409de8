package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.GraphOps

/** PLM — parallel Louvain method (`community/PLM.cpp:29-345`), multilevel:
  * move phase to a local optimum, contract by partition
  * (`ParallelPartitionCoarsening`), recurse, prolong.
  *
  * Move rule (`PLM.cpp:140-146`): moving u from C to D changes modularity by
  * `Δ = (aff(u,D) − aff(u,C∖u))/tw + γ·((vol(C∖u) − vol(D∖u))·vol(u)) /
  * (2·tw²)`; u moves to the Δ-maximizing neighbor community if Δ > 0.
  * Volumes count self-loops twice (`PLM.cpp:47-51`). The reference moves
  * asynchronously (schedule-dependent); this engine uses the same
  * deterministic red-black schedule as PLP, so results are reproducible;
  * quality parity is asserted via modularity in tests.
  *
  * Scale shape per sweep: one join edges×labels (neighbor-community
  * affinities, map-side combinable groupBy), one broadcast-sized community
  * volume table joined back, one argmax window-free `max_by`. Coarsening
  * shrinks the graph geometrically, so total work ≈ 2× the first level.
  */
object PLM {

  /** @param stopEarly false → run exactly `maxMovePasses` passes per level
    *                   (extra passes at a fixed point are no-ops); a fixed,
    *                   data-independent schedule is what makes the move
    *                   phase replayable by the unrolled DuckDB oracle.
    */
  final case class Config(gamma: Double = 1.0, maxMovePasses: Int = 8,
                          maxLevels: Int = 8, stopEarly: Boolean = true,
                          /** stop recursing when a level's move phase
                            * shrinks the community count by less than this
                            * fraction — the red-black schedule can 2-cycle
                            * at a fixed point (pairs endlessly swapping,
                            * zero net shrink), the parity analogue of the
                            * reference's `moved == 0` recursion stop
                            * (`PLM.cpp:208-214`) */
                          minShrink: Double = 0.01)

  final case class Result(labels: DataFrame, levels: Int)

  /** One level's move phase: returns (labels, movedAny). */
  private def movePhase(spark: SparkSession, canon: DataFrame, cfg: Config): DataFrame = {
    val nodes = GraphOps.nodes(canon)
    val tw = canon.agg(sum("weight")).head().getDouble(0)

    // neighbor edges without self-loops (affinity excludes u itself),
    // src-partitioned ONCE: the per-pass label join is src-keyed, so each
    // pass reshuffles only the node-sized label table, never the edges.
    // The symmetrized view is NOT separately checkpointed — nbrs is its
    // only edge-scale consumer (one edge-scale materialization per level
    // saved), and vol derives from the cached nbrs below.
    // sortWithinPartitions: InMemoryRelation preserves outputOrdering, so
    // the per-pass sort-merge label join reads the cached edge side
    // pre-sorted instead of re-sorting m rows every pass (PLM joins run
    // under AQE, where SMJ is the usual pick at node-scale build sides).
    val nbrs = GraphOps.symmetrize(canon).where(col("src") =!= col("dst"))
      .repartition(col("src")).sortWithinPartitions("src")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // vol(u): weighted degree + self-loop weight again (loops twice,
    // `PLM.cpp:47-51`). nbrs is loop-free, so the loop weight enters ×2:
    // wdeg_sym(u) + loopw(u) == wdeg_noloops(u) + 2·loopw(u).
    val wdeg = GraphOps.weightedDegrees(nbrs)
    val loops = canon.where(col("src") === col("dst"))
      .groupBy(col("src").as("id")).agg(sum("weight").as("loopw"))
    val vol = nodes.join(wdeg, Seq("id"), "left")
      .join(loops, Seq("id"), "left")
      .select(col("id"),
        (coalesce(col("wdegree"), lit(0.0)) +
          lit(2.0) * coalesce(col("loopw"), lit(0.0))).as("vol"))
      .transform(graft.core.Materialize.checkpoint)

    var labels = nodes.select(col("id"), col("id").as("label"))
      .transform(graft.core.Materialize.checkpoint)
    var pass = 0
    var moved = 1L
    // moved count two passes ago (same parity as the current pass) — the
    // red-black analogue of the reference's `moved == 0` stop (`PLM.cpp:
    // 208-214`): when a parity class's moved count stops improving, the
    // remaining moves are 2-cycling pairs (measured at bench scale: levels
    // 3-4 freeze at exactly 75927/118351 movers for 6 straight passes) and
    // further passes are pure churn. Only active under stopEarly — the
    // fixed data-independent schedule (stopEarly=false) stays replayable
    // by the unrolled DuckDB oracle.
    val prevSameParity = Array(Long.MaxValue, Long.MaxValue)
    var plateau = false
    val verbose = sys.env.contains("SPARK_GRAFT_PLM_VERBOSE")

    // One pass's full candidate/argmax pipeline: `(id, label)` in,
    // `(id, label, changed)` out.
    def passPlan(state: DataFrame, passNo: Int): DataFrame = {
      val labelsP = state.select("id", "label")
      val parity = passNo % 2
      // NOT checkpointed although referenced twice below (cvolD and cvolC
      // sides): it is a node-scale aggregate with shallow lineage (both
      // parents are checkpointed), so evaluating it twice inside the one
      // newLabels job is cheaper than a separate materialization action
      // per pass (measured: the extra action dominates coarse levels,
      // where the per-pass floor is fixed job overhead, not data).
      val comVol = labelsP.join(vol, "id")
        .groupBy("label").agg(sum("vol").as("cvol"))
      // affinities of updating nodes to neighbor communities. The
      // candidate-community volume (cvolD) is attached to the LABEL table
      // before the aggregation — a node-scale join on label — and carried
      // through the agg as a per-group constant, instead of re-joining the
      // m-scale aggregated affinities on nlabel afterwards (one whole
      // edge-scale shuffle per pass removed).
      // Pass 1 of every level starts from singleton labels (label(v) = v,
      // comVol = vol), so the affinity table IS the edge list: sym pairs
      // are unique (canonical input), so aff(u→{v}) = w(u,v) with no
      // aggregation, and cvolD = vol(v) with no label/community joins.
      // Values are bit-identical to the general path (sum over a 1-row
      // group), so the fixed-schedule oracle is unaffected; the saved
      // edge-scale exchange + agg is the single largest pass-1 cost.
      val aff =
        if (passNo == 1)
          nbrs.where(pmod(col("dst"), lit(2)) === parity)
            .join(vol.select(col("id").as("src"), col("vol").as("cvolD")), "src")
            .select(col("dst").as("id"), col("src").as("nlabel"),
              col("weight").as("aff"), col("cvolD"))
        else nbrs
          .join(labelsP.select(col("id").as("src"), col("label").as("nlabel"))
            .join(comVol.select(col("label").as("nlabel"),
              col("cvol").as("cvolD")), "nlabel"), "src")
          .where(pmod(col("dst"), lit(2)) === parity)
          // one exchange instead of two: HashPartitioning(dst) satisfies
          // the (dst, nlabel) groupBy's clustering AND the downstream
          // id-keyed cur join + argmax, so the aggregated pairs don't
          // reshuffle again by id
          .repartition(col("dst"))
          .groupBy(col("dst").as("id"), col("nlabel"))
          .agg(sum("weight").as("aff"), max("cvolD").as("cvolD"))
      val cur =
        if (passNo == 1)
          vol.select(col("id"), col("id").as("clabel"), col("vol"),
            col("vol").as("cvolC"))
        else labelsP.withColumnRenamed("label", "clabel")
          .join(vol, "id")
          .join(comVol.select(col("label").as("clabel"), col("cvol").as("cvolC")), "clabel")
      // Per-row SCORE instead of the reference's per-row Δ: Δ(u, D) =
      // score(u, D) − affC(u)/tw where affC (affinity to u's own community)
      // is constant per u — so the argmax over candidate communities is
      // invariant to it, and the Δ > 0 test can be applied AFTER the argmax
      // on node-sized rows. This removes the previous shape's aff-scale
      // checkpoint + affC self-join (the dominant per-pass materialization:
      // ~7M rows/pass at bench scale): one combined groupBy produces the
      // score-argmax AND affC together, co-partitioned on the id-keyed join
      // just above. The DuckDB oracle replays score-space ordering with the
      // identical expression tree, so FP ties agree bit-for-bit.
      val scored = aff
        .join(cur, "id")
        .select(col("id"), col("nlabel"), col("aff"), col("clabel"),
          (col("aff") / tw +
            lit(cfg.gamma) *
              (((col("cvolC") - col("vol")) - col("cvolD")) * col("vol")) /
              (2 * tw * tw)).as("score"))
      // own-community rows sink to -inf in the argmax key (each id has at
      // most one such row — aff is grouped by (id, nlabel)) and feed affC
      val best = scored.groupBy("id")
        .agg(
          max_by(struct(col("nlabel"), col("score")),
            struct(when(col("nlabel") =!= col("clabel"), col("score"))
              .otherwise(lit(Double.NegativeInfinity)),
              (-col("nlabel")).as("nl"))).as("b"),
          sum(when(col("nlabel") === col("clabel"), col("aff"))).as("affC"),
          max(col("clabel")).as("clabel"))
        .where(col("b.nlabel") =!= col("clabel") &&
          (col("b.score") - coalesce(col("affC"), lit(0.0)) / tw) > 1e-15)
        .select(col("id"), col("b.nlabel").as("winner"))
      // changed-flag carried in the state: the move count is a cheap scan
      // of materialized rows, not a second evaluation of the whole
      // candidate/argmax pipeline
      labelsP.join(best, Seq("id"), "left")
        .select(col("id"), coalesce(col("winner"), col("label")).as("label"),
          col("winner").isNotNull.as("changed"))
    }

    while ((moved > 0 || !cfg.stopEarly) && !plateau && pass < cfg.maxMovePasses) {
      val t0 = System.nanoTime()
      pass += 1
      val newLabels = passPlan(labels, pass)
        .transform(graft.core.Materialize.checkpoint)
      moved = newLabels.where(col("changed")).count()
      val parity = pass % 2
      if (cfg.stopEarly && moved.toDouble >= prevSameParity(parity) * 0.995)
        plateau = true
      prevSameParity(parity) = moved
      graft.core.Materialize.free(labels)
      labels = newLabels
      if (verbose) System.err.println(
        f"[plm] pass $pass moved=$moved ${(System.nanoTime() - t0) / 1e9}%6.2f s")
    }
    nbrs.unpersist(blocking = false)
    labels.select("id", "label")
  }

  def run(spark: SparkSession, edges: DataFrame,
          cfg: Config = Config()): Result = {
    val canon0 = GraphOps.canonicalize(edges).transform(graft.core.Materialize.checkpoint)

    def level(canon: DataFrame, depth: Int): DataFrame = {
      val labels = movePhase(spark, canon, cfg)
      val nComms = labels.select("label").distinct().count()
      val nNodes = labels.count()
      if (nNodes - nComms < cfg.minShrink * nNodes ||
          depth + 1 >= cfg.maxLevels) labels
      else {
        // contract (ParallelPartitionCoarsening.cpp:20-70) and recurse
        val coarse = Coarsening.byPartition(canon, labels).transform(graft.core.Materialize.checkpoint)
        val coarseLabels = level(coarse, depth + 1)
        // prolong: fine node -> its community's coarse label
        labels.join(coarseLabels.select(col("id").as("label"),
            col("label").as("clabel")).withColumnRenamed("clabel", "flabel"),
            Seq("label"), "left")
          .select(col("id"), coalesce(col("flabel"), col("label")).as("label"))
      }
    }
    Result(level(canon0, 0), 1)
  }
}
