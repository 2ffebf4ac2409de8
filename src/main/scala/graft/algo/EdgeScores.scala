package graft.algo

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{GraphOps, Materialize}

/** Per-edge attribute transforms and sparsification scores (SURVEY.md §2.7:
  * `edgescores/` combinators + `sparsification/` backbones). An edge-score
  * table is `(src, dst, score)` keyed by the canonical undirected edge;
  * every combinator is a `withColumn`/window over it — pure DataFrame ops.
  */
object EdgeScores {

  /** EdgeScoreNormalizer (`edgescores/EdgeScoreNormalizer.cpp`): min-max
    * scale scores into [lower, upper] (invert optionally).
    */
  def normalize(scores: DataFrame, scoreCol: String = "score",
                lower: Double = 0.0, upper: Double = 1.0,
                invert: Boolean = false): DataFrame = {
    val row = scores.agg(min(scoreCol).cast("double"),
      max(scoreCol).cast("double")).head()
    val (lo, hi) = (row.getDouble(0), row.getDouble(1))
    val range = if (hi == lo) 1.0 else hi - lo
    val base = (col(scoreCol) - lo) / range
    val v = if (invert) lit(1.0) - base else base
    scores.withColumn(scoreCol, lit(lower) + v * (upper - lower))
  }

  /** EdgeScoreLinearizer (`edgescores/EdgeScoreLinearizer.cpp`): replace
    * each score by its rank-based quantile in (0,1]. Rank is computed with
    * the scalable two-phase scheme (range-partition + per-partition
    * row_number + broadcast offsets — `DenseId.assign`), NOT a single
    * partition-less global window. Ties share the min row_number of their
    * score group via a groupBy + equi-join — NOT a window partitioned by
    * score: a constant-score input (exactly what a threshold-filter
    * pipeline can produce) would put all m edges in that window's one
    * task, while the groupBy combines map-side and the single-row
    * min-rank table broadcasts.
    */
  def linearize(scores: DataFrame, scoreCol: String = "score"): DataFrame = {
    val n = scores.count().toDouble
    val rn = graft.core.DenseId.assign(scores, "_rn",
      Seq(scoreCol, "src", "dst"))
    val minRank = rn.groupBy(scoreCol).agg(min("_rn").as("_minrn"))
      .withColumnRenamed(scoreCol, "_mrScore")
    // null-safe equality: NULL scores form one tie group (a plain equi-join
    // would silently drop those rows)
    rn.join(minRank, rn(scoreCol) <=> minRank("_mrScore"))
      .withColumn(scoreCol, (col("_minrn") + 1).cast("double") / n)
      .select(scores.columns.map(col).toIndexedSeq: _*)
  }

  /** EdgeScoreBlender (`edgescores/EdgeScoreBlender.cpp`):
    * factor·a + (1−factor)·b joined on the edge key.
    */
  def blend(a: DataFrame, b: DataFrame, factor: Double): DataFrame =
    a.withColumnRenamed("score", "sa")
      .join(b.withColumnRenamed("score", "sb"), Seq("src", "dst"))
      .select(col("src"), col("dst"),
        (lit(factor) * col("sa") + lit(1.0 - factor) * col("sb")).as("score"))

  /** ModularityScoring (`scoring/ModularityScoring.h:84-93`): per-edge
    * modularity increase from merging the endpoints' clusters, evaluated
    * on the singleton partition the reference's scorer assumes:
    * `Δmod(u,v) = w(u,v)/tw − (wdeg(u)/(2·tw))·(wdeg(v)/(2·tw))`.
    * One canonical pass: two node-sized degree joins, no shuffle beyond
    * them — the same shape as the other per-edge scores.
    */
  def modularityScoring(spark: SparkSession, edges: DataFrame): DataFrame = {
    val canon = GraphOps.canonicalize(edges.where(col("src") =!= col("dst")))
    val tw = canon.agg(sum("weight")).head().getDouble(0)
    val wdeg = GraphOps.weightedDegrees(GraphOps.symmetrize(canon))
    canon
      .join(wdeg.select(col("id").as("src"), col("wdegree").as("du")), "src")
      .join(wdeg.select(col("id").as("dst"), col("wdegree").as("dv")), "dst")
      .select(col("src"), col("dst"),
        (col("weight") / tw -
          (col("du") / (2 * tw)) * (col("dv") / (2 * tw))).as("score"))
  }

  /** GeometricMeanScore (`edgescores/GeometricMeanScore.cpp`): per edge
    * score / sqrt(deg(u)·deg(v)) — the local-geometric normalization.
    */
  def geometricMean(spark: SparkSession, edges: DataFrame,
                    scores: DataFrame): DataFrame = {
    val deg = GraphOps.degrees(GraphOps.symmetrize(
      GraphOps.canonicalizeUnweighted(edges.where(col("src") =!= col("dst")))))
    scores
      .join(deg.select(col("id").as("src"), col("degree").as("du")), "src")
      .join(deg.select(col("id").as("dst"), col("degree").as("dv")), "dst")
      .select(col("src"), col("dst"),
        (col("score") / sqrt(col("du") * col("dv"))).as("score"))
  }

  /** EdgeScoreAsWeight (`edgescores/EdgeScoreAsWeight.cpp`): produce a new
    * weighted edge table from a score table.
    */
  def asWeight(edges: DataFrame, scores: DataFrame,
               squared: Boolean = false, offset: Double = 1.0,
               factor: Double = 1.0): DataFrame = {
    val s = if (squared) col("score") * col("score") else col("score")
    GraphOps.canonicalizeUnweighted(edges.where(col("src") =!= col("dst")))
      .select("src", "dst")
      .join(scores, Seq("src", "dst"), "left")
      .select(col("src"), col("dst"),
        (lit(offset) + lit(factor) * coalesce(s, lit(0.0))).as("weight"))
  }

  // ---------------------------------------------------------- backbones
  /** JaccardSimilarityAttributizer
    * (`sparsification/JaccardSimilarityAttributizer.cpp`): per-edge
    * neighborhood Jaccard |Γ(u)∩Γ(v)| / |Γ(u)∪Γ(v)| — derived from the
    * triangle count per edge: tri(u,v) = |Γ(u)∩Γ(v)| on simple graphs.
    */
  def jaccardSimilarity(spark: SparkSession, edges: DataFrame): DataFrame = {
    val tri = Triangles.perEdge(spark, edges)
    val deg = GraphOps.degrees(GraphOps.symmetrize(
      GraphOps.canonicalizeUnweighted(edges.where(col("src") =!= col("dst")))))
    tri
      .join(deg.select(col("id").as("src"), col("degree").as("du")), "src")
      .join(deg.select(col("id").as("dst"), col("degree").as("dv")), "dst")
      .select(col("src"), col("dst"),
        (col("triangles").cast("double") /
          (col("du") + col("dv") - col("triangles"))).as("score"))
  }

  /** SimmelianOverlapScore (`sparsification/SimmelianOverlapScore.cpp:24-29`
    * with `SimmelianScore.cpp:16-73` rank semantics): each node ranks its
    * neighbors by Simmelian strength (= the edge's triangle count) with
    * COMPETITION ranking — ties share a rank, rank 0 is best, and every tie
    * at rank ≤ maxRank is kept (the truncated set may exceed maxRank
    * members). score(u,v) = |N≤(u) ∩ N≤(v)| over the truncated
    * neighborhoods, the edge partner itself excluded (`SimmelianScore.cpp:
    * 95-97`). The rank is computed hub-safely from a per-node strength
    * HISTOGRAM (rank of strength s = # incident edges strictly stronger —
    * ≤ #distinct strengths rows per node, same shape as kcore's H-index
    * histogram), not a per-node window over the raw incidence list.
    */
  def simmelianOverlap(spark: SparkSession, edges: DataFrame,
                       maxRank: Int = 10): DataFrame = {
    val tri = Triangles.perEdge(spark, edges)
    val incident = tri.select(col("src").as("node"), col("dst").as("other"),
        col("triangles"))
      .unionByName(tri.select(col("dst").as("node"), col("src").as("other"),
        col("triangles")))
    val hist = incident.groupBy("node", "triangles")
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("node").orderBy(col("triangles").desc)
    val keepVals = hist
      .withColumn("rank0", sum("cnt").over(w) - col("cnt"))
      .where(col("rank0") <= maxRank).select("node", "triangles")
    val topk = incident.join(keepVals, Seq("node", "triangles"), "left_semi")
      .select(col("node"), col("other"))
    // overlap per EDGE: expand each edge by topk(src)'s members (O(m·k)
    // rows) and semi-join against topk(dst) — matches the reference's
    // per-edge set intersection cost. A self-join of the topk table on the
    // member column instead would fan out quadratically on a member that
    // is everyone's strongest tie (a hub), so it is avoided. The edge
    // partner never counts: (dst, w1=dst) can't exist (no self-loops).
    val canon = GraphOps.canonicalizeUnweighted(
      edges.where(col("src") =!= col("dst"))).select("src", "dst")
    val cand = canon
      .join(topk.select(col("node").as("src"), col("other").as("w1")), "src")
    val hits = cand
      .join(topk.select(col("node").as("dst"), col("other").as("w1")),
        Seq("dst", "w1"), "left_semi")
      .groupBy("src", "dst").agg(count(lit(1)).cast("double").as("score"))
    canon.join(hits, Seq("src", "dst"), "left")
      .select(col("src"), col("dst"),
        coalesce(col("score"), lit(0.0)).as("score"))
  }

  /** LocalDegreeScore (`sparsification/LocalDegreeScore.cpp`): for edge
    * (u,v), score = 1 − log(rank of v in u's neighbor-by-degree order) /
    * log(deg(u)), maximized over both directions — keeps hub-to-hub
    * backbone edges.
    */
  def localDegree(spark: SparkSession, edges: DataFrame): DataFrame = {
    val canon = GraphOps.canonicalizeUnweighted(
      edges.where(col("src") =!= col("dst"))).select("src", "dst")
    val deg = GraphOps.degrees(GraphOps.symmetrize(canon.withColumn("weight", lit(1.0))))
    val sym = GraphOps.symmetrize(canon.withColumn("weight", lit(1.0)))
      .select(col("src").as("node"), col("dst").as("nbr"))
      .join(deg.select(col("id").as("nbr"), col("degree").as("dnbr")), "nbr")
      .join(deg.select(col("id").as("node"), col("degree").as("dnode")), "node")
    val w = Window.partitionBy("node").orderBy(desc("dnbr"), asc("nbr"))
    val scored = sym.withColumn("rk", row_number().over(w))
      .select(col("node"), col("nbr"),
        when(col("dnode") <= 1, 1.0).otherwise(
          lit(1.0) - log(col("rk")) / log(col("dnode"))).as("s"))
    scored.select(least(col("node"), col("nbr")).as("src"),
        greatest(col("node"), col("nbr")).as("dst"), col("s"))
      .groupBy("src", "dst").agg(max("s").as("score"))
  }

  /** GlobalThresholdFilter (`sparsification/GlobalThresholdFilter.cpp`):
    * keep edges with score above (or below) a threshold.
    */
  def globalThreshold(edges: DataFrame, scores: DataFrame, threshold: Double,
                      above: Boolean = true): DataFrame = {
    val keep = if (above) scores.where(col("score") >= threshold)
               else scores.where(col("score") <= threshold)
    GraphOps.canonicalizeUnweighted(edges.where(col("src") =!= col("dst")))
      .join(keep.select("src", "dst"), Seq("src", "dst"), "left_semi")
  }

  /** SCANStructuralSimilarityScore
    * (`sparsification/SCANStructuralSimilarityScore.cpp:5-16`): per edge,
    * (tri(u,v) + 1) / sqrt((deg(u)+1)·(deg(v)+1)) — closed-neighborhood
    * cosine. Derived from the triangle job + degree join, no new shuffle
    * shape.
    */
  def scanStructuralSimilarity(spark: SparkSession, edges: DataFrame): DataFrame = {
    val tri = Triangles.perEdge(spark, edges)
    val deg = GraphOps.degrees(GraphOps.symmetrize(
      GraphOps.canonicalizeUnweighted(edges.where(col("src") =!= col("dst")))))
    tri
      .join(deg.select(col("id").as("src"), col("degree").as("du")), "src")
      .join(deg.select(col("id").as("dst"), col("degree").as("dv")), "dst")
      .select(col("src"), col("dst"),
        ((col("triangles") + 1).cast("double") /
          sqrt((col("du") + 1) * (col("dv") + 1))).as("score"))
  }

  /** LocalSimilarityScore (`sparsification/LocalSimilarityScore.cpp:18-67`):
    * rank each incident edge by per-edge Jaccard similarity (descending;
    * deterministic tie-break on neighbor id — the reference's std::sort
    * order on ties is unspecified), sparsification exponent
    * e = 1 − log(rank)/log(deg) (1 if deg ≤ 1), score = max over both
    * endpoints. Windows are partitioned per node (bounded by degree).
    */
  def localSimilarity(spark: SparkSession, edges: DataFrame): DataFrame = {
    val sim = jaccardSimilarity(spark, edges)
    val deg = GraphOps.degrees(GraphOps.symmetrize(
      GraphOps.canonicalizeUnweighted(edges.where(col("src") =!= col("dst")))))
    val incident = sim.select(col("src").as("node"), col("dst").as("other"), col("score"))
      .unionByName(sim.select(col("dst").as("node"), col("src").as("other"), col("score")))
      .join(deg.select(col("id").as("node"), col("degree").as("d")), "node")
    val w = Window.partitionBy("node").orderBy(desc("score"), asc("other"))
    val exps = incident.withColumn("rank", row_number().over(w))
      .select(col("node"), col("other"),
        when(col("d") <= 1, 1.0)
          .otherwise(lit(1.0) - log(col("rank")) / log(col("d"))).as("e"))
    exps.select(least(col("node"), col("other")).as("src"),
        greatest(col("node"), col("other")).as("dst"), col("e"))
      .groupBy("src", "dst").agg(max("e").as("score"))
  }

  /** MultiscaleScore (`sparsification/MultiscaleScore.cpp:14-66`): per node,
    * normalize incident scores p = s/Σs; per edge the null-model
    * probability 1 − (1−p)^(deg−1); final score = max over both endpoints.
    * `scores` defaults to the edge weights.
    */
  def multiscale(spark: SparkSession, edges: DataFrame,
                 scores: Option[DataFrame] = None): DataFrame = {
    val canon = GraphOps.canonicalize(edges.where(col("src") =!= col("dst")))
    val attr = scores.getOrElse(canon.select(col("src"), col("dst"),
      col("weight").as("score")))
    val incident = attr.select(col("src").as("node"), col("dst").as("other"), col("score"))
      .unionByName(attr.select(col("dst").as("node"), col("src").as("other"), col("score")))
    val perNode = incident.groupBy("node")
      .agg(sum("score").as("ssum"), count(lit(1)).as("d"))
    val probs = incident.join(perNode, "node")
      .select(col("node"), col("other"),
        (lit(1.0) - pow(lit(1.0) - col("score") / col("ssum"),
          col("d") - 1)).as("p"))
    probs.select(least(col("node"), col("other")).as("src"),
        greatest(col("node"), col("other")).as("dst"), col("p"))
      .groupBy("src", "dst").agg(max("p").as("score"))
  }

  /** RandomEdgeScore (`sparsification/RandomEdgeScore.cpp`) — deterministic
    * counter-based "random" per edge (pure function of the edge key).
    */
  def randomEdge(edges: DataFrame, seed: Long = 42): DataFrame =
    GraphOps.canonicalizeUnweighted(edges.where(col("src") =!= col("dst")))
      .select(col("src"), col("dst"),
        (pmod(xxhash64(col("src"), col("dst"), lit(seed)), lit(1000000L))
          .cast("double") / 1000000.0).as("score"))

  /** RandomNodeEdgeScore (`sparsification/RandomNodeEdgeScore.cpp`):
    * the reference scores edges by their position in a removal order that
    * mixes node-biased picks (ratio rne) with uniform picks — a sequential
    * process. Deterministic distributed analog: each edge's "pick priority"
    * blends a uniform edge hash with a node-biased term (an edge incident
    * to a low-degree node is picked earlier by the node-first draw, weight
    * 1/deg); the score is the linearized rank of that priority, matching
    * the reference's removal-fraction output range [0,1).
    */
  def randomNodeEdge(spark: SparkSession, edges: DataFrame,
                     rneRatio: Double = 0.5, seed: Long = 42): DataFrame = {
    val canon = GraphOps.canonicalizeUnweighted(
      edges.where(col("src") =!= col("dst"))).select("src", "dst")
    val deg = GraphOps.degrees(GraphOps.symmetrize(
      canon.withColumn("weight", lit(1.0))))
    val uni = pmod(xxhash64(col("src"), col("dst"), lit(seed)),
      lit(1000000L)).cast("double") / 1000000.0
    val nodeBias = (pmod(xxhash64(col("src"), lit(seed + 1)), lit(1000000L))
      .cast("double") / 1000000.0 / col("du")
      + pmod(xxhash64(col("dst"), lit(seed + 1)), lit(1000000L))
        .cast("double") / 1000000.0 / col("dv")) / 2.0
    val prio = canon
      .join(deg.select(col("id").as("src"), col("degree").as("du")), "src")
      .join(deg.select(col("id").as("dst"), col("degree").as("dv")), "dst")
      .select(col("src"), col("dst"),
        (lit(1.0 - rneRatio) * uni + lit(rneRatio) * nodeBias).as("score"))
    linearize(prio)
  }

  /** ChanceCorrectedTriangleScore
    * (`sparsification/ChanceCorrectedTriangleScore.cpp:22-28`): per edge,
    * tri·(n−2) / ((deg(u)−1)·(deg(v)−1)) when tri > 0; 1 when an endpoint
    * is degree-1; else 0 — triangle count corrected by its expectation
    * under random wiring.
    */
  def chanceCorrectedTriangle(spark: SparkSession, edges: DataFrame): DataFrame = {
    val canon = GraphOps.canonicalizeUnweighted(
      edges.where(col("src") =!= col("dst")))
    val n = GraphOps.nodes(canon).count()
    val tri = Triangles.perEdge(spark, edges)
    val deg = GraphOps.degrees(GraphOps.symmetrize(canon))
    tri
      .join(deg.select(col("id").as("src"), col("degree").as("du")), "src")
      .join(deg.select(col("id").as("dst"), col("degree").as("dv")), "dst")
      .select(col("src"), col("dst"),
        when(col("triangles") > 0,
          col("triangles").cast("double") * (n - 2) /
            ((col("du") - 1) * (col("dv") - 1)))
          .when(col("du") === 1 || col("dv") === 1, 1.0)
          .otherwise(0.0).as("score"))
  }

  /** LocalFilterScore (`sparsification/LocalFilterScore.h`, logarithmic
    * variant — the shape LocalDegree and LocalSimilarity share): rank each
    * node's incident edges by `scores` descending (ties → neighbor id
    * ascending), exponent e = 1 − log(rank)/log(deg) (1 when deg ≤ 1),
    * final score = max over both endpoints. Windows partition per node —
    * bounded by degree, never global.
    */
  def localFilter(spark: SparkSession, edges: DataFrame,
                  scores: DataFrame): DataFrame = {
    val deg = GraphOps.degrees(GraphOps.symmetrize(
      GraphOps.canonicalizeUnweighted(edges.where(col("src") =!= col("dst")))))
    val incident = scores.select(col("src").as("node"), col("dst").as("other"), col("score"))
      .unionByName(scores.select(col("dst").as("node"), col("src").as("other"), col("score")))
      .join(deg.select(col("id").as("node"), col("degree").as("d")), "node")
    val w = Window.partitionBy("node").orderBy(desc("score"), asc("other"))
    val exps = incident.withColumn("rank", row_number().over(w))
      .select(col("node"), col("other"),
        when(col("d") <= 1, 1.0)
          .otherwise(lit(1.0) - log(col("rank")) / log(col("d"))).as("e"))
    exps.select(least(col("node"), col("other")).as("src"),
        greatest(col("node"), col("other")).as("dst"), col("e"))
      .groupBy("src", "dst").agg(max("e").as("score"))
  }

  /** PrefixJaccardScore (`edgescores/PrefixJaccardScore.cpp:19-140`): rank
    * each node's incident edges by attribute descending with competition
    * ranks (ties share the count of strictly-greater attributes); for edge
    * (u,v) and every rank prefix r, Jaccard of the prefix neighbor sets
    * (excluding the edge's own endpoints); score = max over prefixes.
    * Relational cost is Σ_e (deg_u+deg_v)² — per-edge windows stay bounded
    * by degree, but hubs make the event×member join quadratic in degree;
    * run it on sparse graphs or behind a degree cap at web scale.
    */
  def prefixJaccard(spark: SparkSession, edges: DataFrame,
                    attr: DataFrame): DataFrame = {
    val canon = GraphOps.canonicalizeUnweighted(
      edges.where(col("src") =!= col("dst"))).select("src", "dst")
    // ranked incident lists: competition rank (0-based) per node
    val incident = attr.select(col("src").as("node"), col("dst").as("other"), col("score"))
      .unionByName(attr.select(col("dst").as("node"), col("src").as("other"), col("score")))
    val w = Window.partitionBy("node").orderBy(desc("score"))
    val ranked = incident.withColumn("r", rank().over(w) - 1)
      .select("node", "other", "r")
    // per edge (u,v): each neighbor w of u (≠v) or of v (≠u) with its rank
    // on both sides (null when absent)
    val uSide = canon
      .join(ranked.withColumnRenamed("node", "src")
        .withColumnRenamed("other", "w").withColumnRenamed("r", "ru"), "src")
      .where(col("w") =!= col("dst"))
    val vSide = canon
      .join(ranked.withColumnRenamed("node", "dst")
        .withColumnRenamed("other", "w").withColumnRenamed("r", "rv"), "dst")
      .where(col("w") =!= col("src"))
    val members = uSide.join(vSide, Seq("src", "dst", "w"), "full")
    // evaluation ranks: every rank at which either prefix grows
    val events = members.select(col("src"), col("dst"),
        coalesce(col("ru"), col("rv")).as("r"))
      .unionByName(members.select(col("src"), col("dst"),
        coalesce(col("rv"), col("ru")).as("r")))
      .distinct()
    val joined = members.join(events, Seq("src", "dst"))
      .where(least(coalesce(col("ru"), lit(Int.MaxValue)),
        coalesce(col("rv"), lit(Int.MaxValue))) <= col("r"))
    val perPrefix = joined.groupBy("src", "dst", "r")
      .agg(
        sum(when(col("ru") <= col("r") && col("rv") <= col("r"), 1)
          .otherwise(0)).as("common"),
        sum(when(col("ru") <= col("r") &&
          (col("rv").isNull || col("rv") > col("r")), 1).otherwise(0)).as("un"),
        sum(when(col("rv") <= col("r") &&
          (col("ru").isNull || col("ru") > col("r")), 1).otherwise(0)).as("vn"))
      .select(col("src"), col("dst"),
        (col("common").cast("double") /
          (col("common") + col("un") + col("vn"))).as("j"))
    canon.join(
        perPrefix.groupBy("src", "dst").agg(max("j").as("score")),
        Seq("src", "dst"), "left")
      .select(col("src"), col("dst"),
        coalesce(col("score"), lit(0.0)).as("score"))
  }

  /** ForestFireScore (`sparsification/ForestFireScore.cpp:17-92`): burn
    * frequency per edge over repeated stochastic fires. Distributed,
    * deterministic analog: `fires` independent fires run in parallel, each
    * a frontier process where an active node burns its unvisited neighbors
    * independently with probability pf^(position in a hash-shuffled order)
    * — the expected burn count per step matches the reference's geometric
    * draw (burn until a uniform draw exceeds pf). All randomness is
    * md5/xxhash-derived from (seed, fire, round, edge), so reruns are
    * byte-identical. Scores normalized by the max burn count, as the
    * reference does.
    */
  def forestFire(spark: SparkSession, edges: DataFrame, pf: Double = 0.7,
                 fires: Int = 64, maxRounds: Int = 16,
                 seed: Long = 42): DataFrame = {
    val canon = GraphOps.canonicalizeUnweighted(
      edges.where(col("src") =!= col("dst"))).select("src", "dst")
    // checkpoints, not caches: a caller holding a cache of the same plan
    // would share it, and unpersisting it here would drop the caller's
    val sym = Materialize.checkpointForLoop(spark,
      GraphOps.symmetrize(canon.withColumn("weight", lit(1.0))).select("src", "dst"))
    val nodes = Materialize.checkpointForLoop(spark,
      GraphOps.nodes(canon.withColumn("weight", lit(1.0))))
    // fire f starts at the node with min hash(seed, f, id) — a uniform,
    // reproducible pick per fire
    val starts = nodes
      .select(col("id"), explode(sequence(lit(0), lit(fires - 1))).as("fire"))
      .groupBy("fire")
      .agg(min(struct(xxhash64(lit(seed), col("fire"), col("id")).as("h"),
        col("id").as("id"))).as("s"))
      .select(col("fire"), col("s.id").as("id"))
    var visited = starts.select("fire", "id")
      .transform(graft.core.Materialize.checkpoint)
    var frontier = visited
    var burnt = canon.limit(0)
      .select(col("src"), col("dst"), lit(0L).as("fire"))
    var round = 0
    var alive = frontier.count()
    while (alive > 0 && round < maxRounds) {
      round += 1
      // candidate burns: unvisited neighbors of the frontier, ordered per
      // (fire, node) by an edge hash; neighbor at position p burns iff
      // hashUniform(fire, round, edge) < pf^p — E[#burnt] matches the
      // reference's "draw until failure" loop
      val cand = sym.join(frontier.withColumnRenamed("id", "src"), "src")
        .join(visited.withColumnRenamed("id", "dst"),
          Seq("fire", "dst"), "left_anti")
      val wp = Window.partitionBy("fire", "src").orderBy(
        xxhash64(lit(seed), col("fire"), lit(round), col("dst")), col("dst"))
      val burns = cand.withColumn("p", row_number().over(wp) - 1)
        .where(pmod(xxhash64(lit(seed + 7), col("fire"), lit(round),
          col("src"), col("dst")), lit(1000000L)).cast("double") / 1000000.0
          < pow(lit(pf), col("p") + 1))
        .transform(graft.core.Materialize.checkpoint)
      burnt = burnt.unionByName(burns
        .select(least(col("src"), col("dst")).as("src"),
          greatest(col("src"), col("dst")).as("dst"), col("fire")))
        .transform(graft.core.Materialize.checkpoint)
      frontier = burns.select(col("fire"), col("dst").as("id")).distinct()
        .join(visited, Seq("fire", "id"), "left_anti")
        .transform(graft.core.Materialize.checkpoint)
      visited = visited.unionByName(frontier)
        .transform(graft.core.Materialize.checkpoint)
      alive = frontier.count()
    }
    val counts = burnt.groupBy("src", "dst").agg(count(lit(1)).as("b"))
    val mx = counts.agg(max("b")).head()
    val maxB = if (mx.isNullAt(0)) 0L else mx.getLong(0)
    val res = canon.join(counts, Seq("src", "dst"), "left")
      .select(col("src"), col("dst"),
        (coalesce(col("b"), lit(0L)).cast("double") /
          (if (maxB > 0) maxB.toDouble else 1.0)).as("score"))
    Materialize.free(sym); Materialize.free(nodes)
    res
  }
}
