package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.{GraphOps, Materialize}

/** Exact diameter via the iFub bound-shrinking scheme
  * (`distance/Diameter.cpp` estimatedDiameterRange semantics, re-expressed
  * for a distributed, possibly disconnected graph): instead of one BFS per
  * node (n·m), BFS once from a per-component max-degree pivot, then walk
  * the pivot's BFS levels top-down, computing eccentricities of each fringe
  * batch with ONE multi-source BFS per level, shrinking the upper bound
  * 2·(i−1) until it meets the best lower bound. On power-law graphs this
  * terminates after a handful of fringe levels; worst case degrades to the
  * exact all-sources scan, never returning a wrong answer.
  *
  * Disconnected graphs (a web crawl is never connected): diameter is
  * defined as the max FINITE eccentricity — each component carries its own
  * pivot and upper bound, and any component whose bound falls below the
  * global lower bound is pruned wholesale (tiny components vanish after the
  * pivot pass; only the giant component's fringe levels do real work).
  */
object Diameter {

  /** Exact diameter (max finite eccentricity). `maxLevels` caps fringe
    * passes as a safety valve; the bound-meeting exit is the normal one.
    */
  def exact(spark: SparkSession, edges: DataFrame,
            maxLevels: Int = 1000): Long = {
    // ONE traversal table for every BFS this run makes (pivot pass, double
    // sweep, every fringe batch): symmetric orientation, src-partitioned,
    // sorted, checkpointed — passed to SSSP.bfs as `prebuiltAdj` so no call
    // re-symmetrizes (which would double the rows in every per-level join)
    // or rebuilds the shuffle+sort. A checkpoint, not a cache: a caller
    // holding a cache of the same plan would share it, and unpersisting it
    // here would drop the caller's.
    val sym = Materialize.checkpointForLoop(spark,
      GraphOps.symmetrize(edges).select("src", "dst")
        .repartition(col("src")).sortWithinPartitions("src"))
    val comps = ConnectedComponents.run(spark, edges)
      .persist(StorageLevel.MEMORY_AND_DISK)

    // per-component pivot: max degree, ties to min id (deterministic)
    val deg = GraphOps.degrees(GraphOps.symmetrize(
      edges.select("src", "dst").withColumn("weight", lit(1.0))))
    val pivots = comps.join(deg, "id")
      .groupBy("component")
      .agg(max(struct(col("degree").as("d"), (-col("id")).as("negid"))).as("p"))
      .select((-col("p.negid")).as("id"), col("component"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // one batched BFS from all pivots; source identifies the component
    val pivotDist = SSSP.bfs(spark, sym, pivots.select("id"),
        prebuiltAdj = true)
      .join(pivots.select(col("id").as("source"), col("component")), "source")
      .persist(StorageLevel.MEMORY_AND_DISK)
    pivotDist.count()

    // Per-component state stays DISTRIBUTED (a crawl has tens of millions
    // of tiny components — a driver-side Map or an `isin` literal list
    // would be GBs / a megabyte-wide plan). The invariant that makes this
    // cheap: every bound update applies the SAME global cap 2·(iLow−1) to
    // every then-active component, caps only shrink, and lb only grows —
    // so ub(c) ≡ min(2·pivotEcc(c), cap) for one global scalar `cap`, and
    // a component once inactive (ub ≤ lb) can never reactivate. Activity
    // is therefore the predicate `min(2·ecc, cap) > lb` evaluated inside
    // the plan; only single-row scalar aggregates ever reach the driver.
    val eccDf = pivotDist.groupBy("component").agg(max("dist").as("ecc"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var lb = Option(eccDf.agg(max("ecc")).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    var cap = Long.MaxValue
    def ubCol = least(col("ecc") * 2, lit(cap))
    def activeComps = eccDf.where(ubCol > lb).select("component")
    def maxUb: Long = Option(eccDf.agg(max(ubCol)).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    def maxActiveEcc: Long = Option(
        eccDf.where(ubCol > lb).agg(max("ecc")).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)

    // Double sweep (the classic iFub warm start): BFS once more from each
    // still-active component's FARTHEST-from-pivot node (ties to min id).
    // Its eccentricity is usually the true diameter on power-law graphs, so
    // the level walk below starts with a tight lower bound and prunes after
    // a couple of fringe batches instead of a dozen.
    if (maxUb > lb) {
      val far = pivotDist.join(activeComps, "component")
        .groupBy("component")
        .agg(max(struct(col("dist"), (-col("id")).as("negid"))).as("f"))
        .select((-col("f.negid")).as("id"))
      val sweepEcc = SSSP.bfs(spark, sym, far, prebuiltAdj = true)
        .agg(max("dist")).head().getLong(0)
      lb = math.max(lb, sweepEcc)
    }

    // walk pivot-BFS levels top-down; batch consecutive small fringe levels
    // into ONE multi-source BFS (each run costs O(diameter) sweeps of fixed
    // overhead regardless of source count — batching amortizes it; the cap
    // keeps the (source,node) state of a batch bounded)
    val batchCap = 2048L
    var i = math.min(lb, maxActiveEcc)
    var levels = 0
    while (maxUb > lb && i >= 1 && levels < maxLevels) {
      val active = activeComps
        .transform(graft.core.Materialize.checkpoint) // pin for the batch
      val batch = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      var batchN = 0L
      var iLow = i
      var open = true
      while (open && iLow >= 1) {
        levels += 1
        val f = pivotDist
          .where(col("dist") === iLow).join(active, "component")
          .select("id")
        val n = f.count()
        if (batch.nonEmpty && batchN + n > batchCap) {
          open = false; iLow += 1 // this level goes to the next batch
        } else {
          if (n > 0) { batch += f; batchN += n }
          if (open) { if (batchN >= batchCap) open = false else iLow -= 1 }
        }
      }
      if (iLow < 1) iLow = 1
      if (batch.nonEmpty) {
        val fringeEcc = SSSP.bfs(spark, sym,
            batch.reduce(_ unionByName _), prebuiltAdj = true)
          .agg(max("dist")).head().getLong(0)
        lb = math.max(lb, fringeEcc)
      }
      // every unexplored node of an active component sits at level < iLow,
      // so its eccentricity is < 2*(iLow-1)+1 ⇒ new global cap
      cap = math.min(cap, 2 * (iLow - 1))
      i = iLow - 1
    }
    Materialize.free(sym); comps.unpersist(); pivots.unpersist()
    pivotDist.unpersist(); eccDf.unpersist()
    lb
  }
}

/** AlgebraicDistance (`distance/AlgebraicDistance.cpp`): per-node
  * coordinates from `systems` independent Jacobi-smoothing sweeps over
  * deterministic initial loads; the distance of an edge (u,v) is the
  * max-norm gap between the endpoint coordinate vectors. Each sweep is one
  * weighted-neighbor-average aggregation — the textbook Spark shape.
  * Initial loads are md5-derived in [0,1) (engine-reproducible, so an
  * unrolled SQL oracle can replay the run exactly).
  */
object AlgebraicDistance {

  /** Deterministic initial load for (id, system) in [0,1): a pure-integer
    * scramble (mod kept small at every step so BIGINT math never overflows
    * — DuckDB errors on overflow where Spark wraps), reproducible in any
    * SQL engine.
    */
  private def load0(idCol: org.apache.spark.sql.Column, sys: Int,
                    seed: Long): org.apache.spark.sql.Column =
    (((pmod(idCol, lit(1000003L)) * 7368787L + lit(sys) * 104729L +
      lit(seed)) % 1000003L * 2246822519L) % 1000003L)
      .cast("double") / 1000003.0

  /** Per-node coordinates after `iters` sweeps of
    * x ← (1−ω)·x + ω·(Σ_nbr w·x_nbr / Σ_nbr w), one column per system.
    */
  def coordinates(spark: SparkSession, edges: DataFrame, systems: Int = 2,
                  iters: Int = 5, omega: Double = 0.5,
                  seed: Long = 42): DataFrame = {
    val canon = GraphOps.canonicalize(edges.where(col("src") =!= col("dst")))
    val sym = Materialize.checkpointForLoop(spark, GraphOps.symmetrize(canon))
    val cols = (0 until systems).map(s => s"x$s")
    var state = GraphOps.nodes(canon).select(
      col("id") +: (0 until systems).map(s =>
        load0(col("id"), s, seed).as(s"x$s")): _*)
      .transform(graft.core.Materialize.checkpoint)
    for (_ <- 1 to iters) {
      val nbrAvg = sym
        .join(state.select(
          (col("id").as("src") +: cols.map(c => col(c).as(s"n_$c"))): _*),
          "src")
        .groupBy(col("dst").as("id"))
        .agg(cols.map(c =>
            (sum(col(s"n_$c") * col("weight")) / sum(col("weight")))
              .as(s"a_$c")).head,
          cols.map(c =>
            (sum(col(s"n_$c") * col("weight")) / sum(col("weight")))
              .as(s"a_$c")).tail: _*)
      state = state.join(nbrAvg, Seq("id"), "left")
        .select(col("id") +: cols.map(c =>
          (col(c) * (1 - omega) +
            coalesce(col(s"a_$c"), col(c)) * omega).as(c)): _*)
        .transform(graft.core.Materialize.checkpoint)
    }
    Materialize.free(sym)
    state
  }

  /** Per-edge algebraic distance (max-norm over systems), the
    * sparsification-facing surface.
    */
  def edgeScores(spark: SparkSession, edges: DataFrame, systems: Int = 2,
                 iters: Int = 5, omega: Double = 0.5,
                 seed: Long = 42): DataFrame = {
    val coords = coordinates(spark, edges, systems, iters, omega, seed)
    val canon = GraphOps.canonicalizeUnweighted(
      edges.where(col("src") =!= col("dst"))).select("src", "dst")
    val cols = (0 until systems).map(s => s"x$s")
    canon
      .join(coords.select(
        (col("id").as("src") +: cols.map(c => col(c).as(s"u_$c"))): _*), "src")
      .join(coords.select(
        (col("id").as("dst") +: cols.map(c => col(c).as(s"v_$c"))): _*), "dst")
      .select(col("src"), col("dst"),
        greatest(cols.map(c => abs(col(s"u_$c") - col(s"v_$c"))): _*)
          .as("score"))
  }
}

/** Random spanning forest (`graph/RandomSpanningForest.cpp` surface): the
  * reference draws a uniform spanning tree by random-walk (Wilson's
  * algorithm) — inherently sequential. The distributed counterpart draws
  * deterministic pseudo-random edge weights (xxhash64 of the edge key and
  * seed) and takes the minimum spanning forest under them: every spanning
  * forest has positive probability over seeds, each seed yields ONE exact,
  * reproducible forest, and the work is the Borůvka MSF job. NOT uniform
  * over spanning trees (documented divergence — uniformity needs the walk).
  */
object RandomSpanningForest {
  def run(spark: SparkSession, edges: DataFrame, seed: Long = 42): DataFrame = {
    val keyed = GraphOps.canonicalizeUnweighted(
      edges.where(col("src") =!= col("dst")))
      .select(col("src"), col("dst"),
        // bijective scramble of the edge key ⇒ distinct weights ⇒ unique MSF
        pmod(xxhash64(col("src"), col("dst"), lit(seed)), lit(1L << 62))
          .cast("double").as("weight"))
    SpanningForest.minimumSpanningForest(spark, keyed)
  }
}
