package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{GraphOps, Materialize}
import graft.iterate.{IterConfig, IterationDriver}

/** Selective community detection (SURVEY.md §2.6 SCD row):
  * personalized PageRank + sweep cut — the semantics of the reference's
  * `scd/PageRankNibble` (`scd/PageRankNibble.h:20-31`, ACL push) expressed
  * as the distributed PPR power iteration (teleport concentrated on the
  * seed set) followed by a conductance sweep over the ppr/deg ordering.
  * The reference's sequential push touches only the community
  * neighborhood; the Spark shape pays full-graph iterations but batches
  * any number of seed queries into one run at web scale the support of
  * the sweep stays tiny, so the window in the sweep is over a small
  * localized node set.
  */
object SCD {

  /** Personalized PageRank: teleport mass returns to the seed set instead
    * of uniformly (`scd/ApproximatePageRank.cpp` semantics via power
    * iteration). Undirected: pass edges once, symmetrized internally.
    */
  /** @param exactIters when set, run exactly this many iterations with no
    *                    early stop (a deterministic, unrollable trajectory —
    *                    what the DuckDB oracle replays).
    */
  def personalizedPageRank(spark: SparkSession, edges: DataFrame,
                           seeds: DataFrame, damping: Double = 0.85,
                           tol: Double = 1e-8, maxIter: Int = 200,
                           exactIters: Option[Int] = None): DataFrame = {
    val sym = GraphOps.symmetrize(edges)
    val nodes = GraphOps.nodes(edges)
    val nSeeds = seeds.count()
    val outW = sym.groupBy("src").agg(sum("weight").as("wout"))
    val shares = sym.join(outW, "src")
      .select(col("src"), col("dst"), (col("weight") / col("wout")).as("share"))
      .transform(graft.core.Materialize.checkpoint)
    val teleport = nodes
      .join(seeds.select(col("id"), lit(1.0 / nSeeds).as("t")), Seq("id"), "left")
      .select(col("id"), coalesce(col("t"), lit(0.0)).as("t"))
      .transform(graft.core.Materialize.checkpoint)

    val init = teleport.select(col("id"), col("t").as("score"),
      col("t").as("prev"))

    def step(state: DataFrame, iter: Int): DataFrame = {
      val contribs = shares
        .join(state.select(col("id").as("src"), col("score")), "src")
        .groupBy(col("dst").as("id"))
        .agg(sum(col("share") * col("score")).as("mass"))
      teleport
        .join(state.select(col("id"), col("score").as("prevScore")), "id")
        .join(contribs, Seq("id"), "left")
        .select(col("id"),
          (lit(damping) * coalesce(col("mass"), lit(0.0)) +
            lit(1.0 - damping) * col("t")).as("score"),
          col("prevScore").as("prev"))
    }

    def l2Agg(next: DataFrame): DataFrame =
      next.agg(sqrt(sum(pow(col("score") - col("prev"), 2))).as("m"))

    val cfg = exactIters match {
      case Some(k) => IterConfig(tol = -1.0, maxIter = k) // metric ≥ 0 > -1: never stops early
      case None    => IterConfig(tol, maxIter)
    }
    // unroll = 1: the eager one-job-per-iteration schedule it always ran;
    // no A/B has measured unrolling this loop
    IterationDriver.run(spark, init, step, l2Agg, cfg, unroll = 1)
      .state.select("id", "score")
  }

  /** PageRankNibble: run PPR from the seed set, order the support by
    * score/degree, take the prefix with minimum conductance
    * (`scd/PageRankNibble.cpp` bestSweepSet). Returns the community as
    * `(id)` rows.
    */
  def pageRankNibble(spark: SparkSession, edges: DataFrame, seeds: DataFrame,
                     damping: Double = 0.85, tol: Double = 1e-8,
                     maxSupport: Int = 10000,
                     exactIters: Option[Int] = None): DataFrame = {
    val canon = GraphOps.canonicalizeUnweighted(
      edges.where(col("src") =!= col("dst")))
    val deg = GraphOps.degrees(GraphOps.symmetrize(canon))
    val m2 = canon.count() * 2.0

    val ppr = personalizedPageRank(spark, canon, seeds, damping, tol,
        exactIters = exactIters)
      .where(col("score") > 0)
    // ordering key rounded to 12 decimals: the PPR doubles differ from any
    // re-computation (e.g. the DuckDB oracle) in the last bits because the
    // neighbor sums associate differently — rounding collapses sub-1e-12
    // noise so the sweep ordering is engine-independent; genuinely distinct
    // keys are far wider apart.
    val support = ppr.join(deg, "id")
      .select(col("id"), round(col("score") / col("degree"), 12).as("key"),
        col("degree"))
      .orderBy(desc("key"), asc("id")).limit(maxSupport)
    // rank within the (small, localized) support — the partition-less
    // window is bounded by maxSupport rows by construction (guarded above),
    // so the single-task sort is capped, not a scale risk.
    val w = Window.orderBy(desc("key"), asc("id"))
    val ranked = support.withColumn("rank", row_number().over(w)).persist()

    // cut(k) = #edges with min_rank <= k < max_rank, via difference counts.
    // Edges with exactly one endpoint in the ranked support never become
    // internal: they enter the cut at the inside endpoint's rank and stay
    // there (hi = +inf) — an inner join here would undercount conductance
    // whenever PPR support is truncated by maxSupport.
    val er = canon
      .join(ranked.select(col("id").as("src"), col("rank").as("rs")), Seq("src"), "left")
      .join(ranked.select(col("id").as("dst"), col("rank").as("rd")), Seq("dst"), "left")
      .where(col("rs").isNotNull || col("rd").isNotNull)
      .select(least(coalesce(col("rs"), col("rd")), coalesce(col("rd"), col("rs"))).as("lo"),
        when(col("rs").isNotNull && col("rd").isNotNull,
          greatest(col("rs"), col("rd"))).as("hi"))
    val deltas = er.select(col("lo").as("rank"), lit(1L).as("d"))
      .unionByName(er.where(col("hi").isNotNull)
        .select(col("hi").as("rank"), lit(-1L).as("d")))
      .groupBy("rank").agg(sum("d").as("d"))
    val sweep = ranked.join(deltas, Seq("rank"), "left")
      .withColumn("cut", sum(coalesce(col("d"), lit(0L)))
        .over(Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("vol", sum("degree")
        .over(Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("conductance",
        col("cut") / least(col("vol"), lit(m2) - col("vol")))
      .where(col("vol") < m2) // proper cut only
    val bestK = sweep.orderBy(asc("conductance"), asc("rank"))
      .select("rank").limit(1).head().getInt(0)
    val out = ranked.where(col("rank") <= bestK).select("id")
    out
  }

  /** GCE — greedy community expansion, objective M (`scd/GCE.cpp:27-195`):
    * from a seed, repeatedly add the shell node maximizing
    * ΔM = (intEdges + degInt(v)) / (extEdges − degInt(v) + degExt(v)) − Q
    * while any candidate has ΔM ≥ 0; ties resolve to the larger id (the
    * reference iterates an ascending std::set with `>=`, so the last —
    * largest — maximum wins).
    *
    * Greedy one-node-at-a-time expansion is inherently sequential; the
    * distributed shape fetches ONLY the added node's adjacency per round
    * (one narrow filtered job) and keeps the community/shell bookkeeping —
    * bounded by the community size, like the reference — incremental on
    * the driver. Communities are control-plane-sized by definition of the
    * operator; the graph itself never leaves the cluster.
    */
  def gce(spark: SparkSession, edges: DataFrame, seed: Long,
          maxSize: Int = 10000, maxFetch: Int = 200000): DataFrame = {
    val sym = Materialize.checkpointForLoop(spark,
      GraphOps.symmetrize(GraphOps.canonicalizeUnweighted(
        edges.where(col("src") =!= col("dst")))).select("src", "dst"))

    // fetch one node's neighbor list (narrow filter; a hub's list is the
    // natural upper bound — same locality the reference's forNeighborsOf
    // has). `maxFetch` guards the driver: touching a hub whose adjacency
    // would not fit control-plane memory fails loudly instead of OOMing —
    // the limit(maxFetch+1) means the job itself never moves more rows.
    def nbrs(v: Long): Set[Long] = {
      val rows = sym.where(col("src") === v).select("dst")
        .limit(maxFetch + 1).collect()
      require(rows.length <= maxFetch,
        s"GCE: node $v has degree > maxFetch=$maxFetch; GCE is a " +
          "control-plane operator — raise maxFetch only with driver memory " +
          "to match, or choose a non-hub seed")
      rows.map(_.getLong(0)).toSet
    }

    val community = scala.collection.mutable.Set(seed)
    val adj = scala.collection.mutable.Map(seed -> nbrs(seed))
    val shell = scala.collection.mutable.Set.empty[Long] ++ adj(seed)
    // degInt/degExt of shell nodes wrt community, maintained incrementally
    val degInt = scala.collection.mutable.Map.empty[Long, Long]
    val degExt = scala.collection.mutable.Map.empty[Long, Long]
    for (v <- shell) { val nv = nbrs(v); adj(v) = nv
      degInt(v) = 1; degExt(v) = nv.size.toLong - 1 }
    var intEdges = 0L
    var extEdges = adj(seed).size.toLong
    var q = 0.0
    var done = false
    while (!done && shell.nonEmpty && community.size < maxSize) {
      // argmax ΔM, ties to larger id (reference iteration order + >=)
      var best: Option[(Double, Long)] = None
      for (v <- shell) {
        val denom = (extEdges - degInt(v) + degExt(v)).toDouble
        val dq = (if (denom == 0) Double.PositiveInfinity
                  else (intEdges + degInt(v)) / denom) - q
        if (dq >= 0 &&
            best.forall(b => dq > b._1 || (dq == b._1 && v > b._2)))
          best = Some((dq, v))
      }
      best match {
        case None => done = true
        case Some((dq, vMax)) =>
          community += vMax; shell -= vMax
          intEdges += degInt(vMax)
          extEdges += degExt(vMax) - degInt(vMax)
          q += dq
          for (w <- adj(vMax)) {
            if (community.contains(w)) ()
            else if (shell.contains(w)) {
              degInt(w) += 1; degExt(w) -= 1
            } else {
              shell += w
              val nw = nbrs(w); adj(w) = nw
              degInt(w) = nw.count(community.contains).toLong
              degExt(w) = nw.size.toLong - degInt(w)
            }
          }
      }
    }
    Materialize.free(sym)
    import spark.implicits._
    community.toSeq.sorted.toDF("id")
  }
}
