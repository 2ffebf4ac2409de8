package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{GraphOps, Materialize}

/** Link-prediction indices on common-neighborhood statistics
  * (`networkit/cpp/linkprediction/` — CommonNeighborsIndex,
  * JaccardIndex, AdamicAdarIndex): one 2-hop self-join over the symmetrized
  * edge table produces all three; per-pair output for candidate node pairs.
  * At scale the candidate set must be bounded (here: optional node-id
  * predicate) — full all-pairs is quadratic by definition.
  */
object LinkPrediction {

  /** Common-neighbor pairs `(a, b, cn)` with a < b, over nodes satisfying
    * `nodeFilter` (both endpoints). Self-pairs excluded; pairs may or may
    * not be existing edges (the reference scores any pair).
    */
  def commonNeighbors(spark: SparkSession, edges: DataFrame,
                      maxNodeId: Long = Long.MaxValue): DataFrame = {
    val sym = GraphOps.symmetrize(
      GraphOps.canonicalizeUnweighted(edges.where(col("src") =!= col("dst"))))
      .select(col("src").as("node"), col("dst").as("nbr"))
    val bounded = sym.where(col("node") < maxNodeId)
    bounded.select(col("node").as("a"), col("nbr"))
      .join(bounded.select(col("node").as("b"), col("nbr")), "nbr")
      .where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cn"))
  }

  /** Jaccard index cn / |Γ(a) ∪ Γ(b)| (`linkprediction/JaccardIndex.cpp`). */
  def jaccard(spark: SparkSession, edges: DataFrame,
              maxNodeId: Long = Long.MaxValue): DataFrame = {
    val cn = commonNeighbors(spark, edges, maxNodeId)
    val deg = GraphOps.degrees(GraphOps.symmetrize(
      GraphOps.canonicalizeUnweighted(edges.where(col("src") =!= col("dst")))))
    cn.join(deg.select(col("id").as("a"), col("degree").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("degree").as("db")), "b")
      .select(col("a"), col("b"),
        (col("cn").cast("double") / (col("da") + col("db") - col("cn")))
          .as("jaccard"))
  }

  /** Adamic-Adar: Σ over common neighbors z of 1/ln(deg(z))
    * (`linkprediction/AdamicAdarIndex.cpp`).
    */
  def adamicAdar(spark: SparkSession, edges: DataFrame,
                 maxNodeId: Long = Long.MaxValue): DataFrame = {
    val canon = GraphOps.canonicalizeUnweighted(
      edges.where(col("src") =!= col("dst")))
    val sym = GraphOps.symmetrize(canon)
      .select(col("src").as("node"), col("dst").as("nbr"))
    val deg = GraphOps.degrees(GraphOps.symmetrize(canon))
      .select(col("id").as("nbr"), col("degree"))
    val bounded = sym.where(col("node") < maxNodeId)
      .join(deg, "nbr")
    bounded.select(col("node").as("a"), col("nbr"), col("degree"))
      .join(bounded.select(col("node").as("b"), col("nbr")), Seq("nbr"))
      .where(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(sum(lit(1.0) / log(col("degree"))).as("aa"))
  }

  /** Preferential attachment deg(a)·deg(b) for candidate pairs. */
  def preferentialAttachment(spark: SparkSession, edges: DataFrame,
                             maxNodeId: Long): DataFrame = {
    val deg = GraphOps.degrees(GraphOps.symmetrize(
      GraphOps.canonicalizeUnweighted(edges.where(col("src") =!= col("dst")))))
      .where(col("id") < maxNodeId)
    deg.select(col("id").as("a"), col("degree").as("da"))
      .join(deg.select(col("id").as("b"), col("degree").as("db")),
        col("a") < col("b"))
      .select(col("a"), col("b"), (col("da") * col("db")).as("pa"))
  }

  /** ResourceAllocation: Σ over common neighbors z of 1/deg(z)
    * (`linkprediction/ResourceAllocationIndex.cpp`).
    */
  def resourceAllocation(spark: SparkSession, edges: DataFrame,
                         maxNodeId: Long = Long.MaxValue): DataFrame = {
    val canon = GraphOps.canonicalizeUnweighted(
      edges.where(col("src") =!= col("dst")))
    val sym = GraphOps.symmetrize(canon)
      .select(col("src").as("node"), col("dst").as("nbr"))
    val deg = GraphOps.degrees(GraphOps.symmetrize(canon))
      .select(col("id").as("nbr"), col("degree"))
    val bounded = sym.where(col("node") < maxNodeId).join(deg, "nbr")
    bounded.select(col("node").as("a"), col("nbr"), col("degree"))
      .join(bounded.select(col("node").as("b"), col("nbr")), Seq("nbr"))
      .where(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(sum(lit(1.0) / col("degree")).as("ra"))
  }

  /** TotalNeighbors |Γ(a) ∪ Γ(b)| (`linkprediction/TotalNeighborsIndex.cpp`). */
  def totalNeighbors(spark: SparkSession, edges: DataFrame,
                     maxNodeId: Long = Long.MaxValue): DataFrame = {
    val cn = commonNeighbors(spark, edges, maxNodeId)
    val deg = GraphOps.degrees(GraphOps.symmetrize(
      GraphOps.canonicalizeUnweighted(edges.where(col("src") =!= col("dst")))))
    cn.join(deg.select(col("id").as("a"), col("degree").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("degree").as("db")), "b")
      .select(col("a"), col("b"), (col("da") + col("db") - col("cn")).as("tn"))
  }

  /** NeighborhoodDistance cn / sqrt(deg(a)·deg(b))
    * (`linkprediction/NeighborhoodDistanceIndex.cpp`).
    */
  def neighborhoodDistance(spark: SparkSession, edges: DataFrame,
                           maxNodeId: Long = Long.MaxValue): DataFrame = {
    val cn = commonNeighbors(spark, edges, maxNodeId)
    val deg = GraphOps.degrees(GraphOps.symmetrize(
      GraphOps.canonicalizeUnweighted(edges.where(col("src") =!= col("dst")))))
    cn.join(deg.select(col("id").as("a"), col("degree").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("degree").as("db")), "b")
      .select(col("a"), col("b"),
        (col("cn").cast("double") / sqrt(col("da") * col("db"))).as("nd"))
  }

  /** SameCommunityIndex (`linkprediction/SameCommunityIndex.cpp`): 1 when
    * both endpoints share a community label (labels from any community
    * detection run), else 0, for candidate pairs a < b < maxNodeId.
    */
  def sameCommunity(spark: SparkSession, labels: DataFrame,
                    maxNodeId: Long = Long.MaxValue): DataFrame = {
    val l = labels.where(col("id") < maxNodeId)
    l.select(col("id").as("a"), col("label").as("la"))
      .join(l.select(col("id").as("b"), col("label").as("lb")),
        col("a") < col("b"))
      .select(col("a"), col("b"),
        when(col("la") === col("lb"), 1.0).otherwise(0.0).as("sc"))
  }

  /** UDegreeIndex / VDegreeIndex (`linkprediction/UDegreeIndex.cpp`,
    * `VDegreeIndex.cpp`): deg(a) resp. deg(b) for candidate pairs — the
    * trivial baselines every evaluation run includes.
    */
  def endpointDegrees(spark: SparkSession, edges: DataFrame,
                      maxNodeId: Long): DataFrame = {
    val deg = GraphOps.degrees(GraphOps.symmetrize(
      GraphOps.canonicalizeUnweighted(edges.where(col("src") =!= col("dst")))))
      .where(col("id") < maxNodeId)
    deg.select(col("id").as("a"), col("degree").as("ud"))
      .join(deg.select(col("id").as("b"), col("degree").as("vd")),
        col("a") < col("b"))
      .select(col("a"), col("b"), col("ud").cast("double").as("ud"),
        col("vd").cast("double").as("vd"))
  }

  /** KatzIndex (`linkprediction/KatzIndex.cpp:44-60`): Σ_{l=1..L} β^l ·
    * (#walks of length l between a and b) — the reference expands
    * neighborhoods level by level counting HITS, i.e. walks with revisits,
    * which is exactly A^l. One join per level; walks may pass through any
    * node, only the endpoints are restricted to the candidate set.
    */
  def katz(spark: SparkSession, edges: DataFrame, maxNodeId: Long,
           maxPathLength: Int = 3, beta: Double = 0.005): DataFrame = {
    val sym = Materialize.checkpointForLoop(spark,
      GraphOps.symmetrize(GraphOps.canonicalizeUnweighted(
        edges.where(col("src") =!= col("dst")))).select("src", "dst"))
    // walks_l(a, x): #walks of length l from candidate a to any node x
    var walks = sym.where(col("src") < maxNodeId)
      .select(col("src").as("a"), col("dst").as("x"), lit(1L).as("cnt"))
      .transform(graft.core.Materialize.checkpoint)
    var acc = walks.where(col("x") < maxNodeId && col("a") < col("x"))
      .select(col("a"), col("x").as("b"),
        (col("cnt") * math.pow(beta, 1)).as("s"))
    for (l <- 2 to maxPathLength) {
      walks = walks
        .join(sym.select(col("src").as("x"), col("dst").as("y")), "x")
        .groupBy(col("a"), col("y").as("x"))
        .agg(sum("cnt").as("cnt"))
        .transform(graft.core.Materialize.checkpoint)
      acc = acc.unionByName(
        walks.where(col("x") < maxNodeId && col("a") < col("x"))
          .select(col("a"), col("x").as("b"),
            (col("cnt") * math.pow(beta, l)).as("s")))
    }
    // `acc` reads only the checkpointed walks, never `sym`
    val res = acc.groupBy("a", "b").agg(sum("s").as("katz"))
    Materialize.free(sym)
    res
  }

  /** NeighborsMeasureIndex (`linkprediction/NeighborsMeasureIndex.cpp`):
    * #ordered pairs (x, y) ∈ Γ(a)×Γ(b) with x = y or (x, y) an edge —
    * common neighbors plus neighborhood-to-neighborhood edge count
    * (directionally, per the reference's nested loop).
    */
  def neighborsMeasure(spark: SparkSession, edges: DataFrame,
                       maxNodeId: Long): DataFrame = {
    val sym = GraphOps.symmetrize(GraphOps.canonicalizeUnweighted(
      edges.where(col("src") =!= col("dst")))).select("src", "dst")
    val cn = commonNeighbors(spark, edges, maxNodeId)
    val gu = sym.where(col("src") < maxNodeId)
      .select(col("src").as("a"), col("dst").as("x"))
    val gv = sym.where(col("src") < maxNodeId)
      .select(col("src").as("b"), col("dst").as("y"))
    val cross = gu
      .join(sym.select(col("src").as("x"), col("dst").as("y")), "x")
      .join(gv, "y")
      .where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("xe"))
    cn.join(cross, Seq("a", "b"), "full")
      .select(col("a"), col("b"),
        (coalesce(col("cn"), lit(0L)) + coalesce(col("xe"), lit(0L)))
          .cast("double").as("nm"))
  }

  /** AdjustedRandIndex (`linkprediction/AdjustedRandIndex.cpp:13-40`):
    * with a = |Γ(a)∩Γ(b)|, d = n − |Γ(a)∪Γ(b)|, and — per the reference's
    * own code, whose "differences" are computed with set_union so that
    * b = c = |Γ(a)∪Γ(b)| (we mirror the computation as written) —
    * score = 2(ad − bc) / (ab + ac + 2ad + b² + bd + c² + cd), 0 when the
    * denominator vanishes.
    */
  def adjustedRand(spark: SparkSession, edges: DataFrame,
                   maxNodeId: Long): DataFrame = {
    val n = GraphOps.nodes(edges.select("src", "dst")
      .withColumn("weight", lit(1.0))).count()
    val cn = commonNeighbors(spark, edges, maxNodeId)
    val tn = totalNeighbors(spark, edges, maxNodeId)
    cn.join(tn, Seq("a", "b"))
      .select(col("a"), col("b"), col("cn").cast("double").as("ca"),
        col("tn").cast("double").as("u"))
      .select(col("a"), col("b"), col("ca"), col("u"),
        (lit(n.toDouble) - col("u")).as("dd"))
      .select(col("a"), col("b"),
        when(col("ca") * col("u") * 2 + col("ca") * col("dd") * 2 +
          col("u") * col("u") * 2 + col("u") * col("dd") * 2 === 0, 0.0)
          .otherwise((lit(2.0) * (col("ca") * col("dd") - col("u") * col("u"))) /
            (col("ca") * col("u") * 2 + col("ca") * col("dd") * 2 +
              col("u") * col("u") * 2 + col("u") * col("dd") * 2)).as("ar"))
  }

  /** Deterministic train/test split of the canonical edge set — the
    * hash-ordered counterpart of `linkprediction/RandomLinkSampler.cpp`
    * (byPercentage): an edge lands in TEST iff the first two hex chars of
    * md5("src|dst") fall below the cutoff encoding testFraction
    * (reproducible in any engine; no RNG state).
    * Returns (train, test) canonical edge tables.
    */
  def trainTestSplit(edges: DataFrame, testFraction: Double = 0.1)
      : (DataFrame, DataFrame) = {
    val canon = GraphOps.canonicalizeUnweighted(
      edges.where(col("src") =!= col("dst")))
    val cutoff = (testFraction * 256).toInt // two hex chars ∈ [0, 256)
    val bucket = conv(substring(md5(
      concat_ws("|", col("src"), col("dst"))), 1, 2), 16, 10).cast("int")
    val test = canon.where(bucket < cutoff)
    val train = canon.where(bucket >= cutoff)
    (train, test)
  }

  /** AUC of a predictor against held-out positives — the area under
    * `linkprediction/ROCMetric.cpp`'s curve in closed Mann-Whitney form
    * with tie correction: AUC = Σ_s nPos(s)·(negBelow(s) + nNeg(s)/2)
    * / (P·N). `predictions (a, b, score)` must cover the candidate
    * universe; `positives (a, b)` marks the held-out edges.
    * The per-score histogram window is bounded by |distinct scores| of the
    * (sampled) evaluation set.
    */
  def aucRoc(spark: SparkSession, predictions: DataFrame,
             positives: DataFrame): Double = {
    val labeled = predictions
      .join(positives.select(col("a"), col("b"), lit(1).as("pos")),
        Seq("a", "b"), "left")
      .select(col("score"), coalesce(col("pos"), lit(0)).as("pos"))
    val hist = labeled.groupBy("score")
      .agg(sum(col("pos")).as("np"), sum(lit(1) - col("pos")).as("nn"))
    // running negatives-below via the range-partitioned two-phase prefix
    // sum — the per-score histogram can approach one row per prediction
    // when scores are continuous, so a global window is not scale-safe
    val row = graft.core.DenseId.prefixSum(hist, "nn", "negBelow", Seq("score"))
      .agg(sum(col("np") * (col("negBelow") + col("nn").cast("double") / 2)).as("num"),
        sum("np").as("p"), sum("nn").as("n"))
      .head()
    val (num, p, n) = (row.getDouble(0), row.getLong(1), row.getLong(2))
    require(p > 0 && n > 0, "ROC undefined without both positives and negatives")
    num / (p.toDouble * n.toDouble)
  }

  /** Precision@k over the ranked predictions (`PrecisionRecallMetric.cpp`
    * surface): fraction of the top-k scored pairs that are held-out
    * positives. Ties broken by (a, b) ascending for determinism.
    */
  def precisionAtK(spark: SparkSession, predictions: DataFrame,
                   positives: DataFrame, k: Int): Double = {
    val top = predictions.orderBy(desc("score"), asc("a"), asc("b")).limit(k)
    val hits = top.join(positives, Seq("a", "b"), "left_semi").count()
    hits.toDouble / k
  }

  /** PrecisionRecallMetric (`linkprediction/PrecisionRecallMetric.cpp:12-33`):
    * one (recall, precision) point per prefix of the score-descending
    * sorted prediction list; consecutive points that share a recall keep
    * only the LAST (largest-prefix) precision — the reference pops the
    * previous precision when recall repeats. Since recall is monotone in
    * the prefix length, "consecutive same recall" ≡ "same true-positive
    * count", so the dedup is a groupBy on the integer `tp` (taking the max
    * prefix length) — no floating-point group keys. Prefix TP counts use
    * the same range-partitioned two-phase prefix sum as the ROC metric
    * (`DenseId.prefixSum`), never a single-task global window.
    */
  def precisionRecallCurve(spark: SparkSession, predictions: DataFrame,
                           positives: DataFrame): DataFrame = {
    val labeled = predictions
      .join(positives.select(col("a"), col("b"), lit(1).as("pos")),
        Seq("a", "b"), "left")
      .select(col("a"), col("b"), col("score"),
        coalesce(col("pos"), lit(0)).as("pos"))
      .withColumn("_ns", -col("score")) // prefix sums order ascending
    val p = labeled.agg(sum("pos")).head().getLong(0)
    require(p > 0, "PR curve undefined without positives")
    // exclusive prefix sums over (score desc, a, b): TP and row index
    val withTp = graft.core.DenseId.prefixSum(
      labeled.withColumn("_one", lit(1)), "pos", "_tpx", Seq("_ns", "a", "b"))
    val withK = graft.core.DenseId.prefixSum(
      withTp, "_one", "_kx", Seq("_ns", "a", "b"))
    withK
      .select((col("_tpx") + col("pos")).cast("long").as("tp"),
        (col("_kx") + 1).cast("long").as("k"))
      .groupBy("tp").agg(max("k").as("kmax"))
      .select(
        (col("tp").cast("double") / p).as("recall"),
        (col("tp").cast("double") / col("kmax")).as("precision"))
  }

  /** NeighborhoodUtility (`linkprediction/NeighborhoodUtility.cpp:22-44`
    * getNeighborsUnion / getCommonNeighbors): per candidate pair, the
    * SIZES of the neighbor-set union and intersection (the reference
    * returns the materialized sorted lists — a per-pair array that a hub
    * pair would blow up; the distributed surface keeps the counts, from
    * which |union| = d(a)+d(b)−|∩| is exact set arithmetic).
    */
  def neighborhoodUtility(spark: SparkSession, edges: DataFrame,
                          maxNodeId: Long): DataFrame = {
    val sym = GraphOps.symmetrize(GraphOps.canonicalizeUnweighted(
      edges.where(col("src") =!= col("dst")))).select("src", "dst")
    val deg = sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    val cand = deg.where(col("id") < maxNodeId)
    val pairs = cand.select(col("id").as("a"), col("deg").as("da"))
      .join(cand.select(col("id").as("b"), col("deg").as("db")),
        col("a") < col("b"))
    val common = sym.where(col("src") < maxNodeId)
      .select(col("src").as("a"), col("dst").as("w"))
      .join(sym.where(col("src") < maxNodeId)
        .select(col("src").as("b"), col("dst").as("w")), "w")
      .where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("common_cnt"))
    pairs.join(common, Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("common_cnt"), lit(0L)).as("common_cnt"),
        (col("da") + col("db") -
          coalesce(col("common_cnt"), lit(0L))).as("union_cnt"))
  }

  /** MissingLinksFinder (`linkprediction/MissingLinksFinder.cpp`): the k
    * highest-scored candidate pairs that are NOT existing edges — top-k via
    * sort-limit (TakeOrdered: per-partition top-k + driver merge of k rows,
    * no global sort).
    */
  def missingLinks(predictions: DataFrame, edges: DataFrame,
                   k: Int): DataFrame =
    predictions
      .join(GraphOps.canonicalizeUnweighted(
          edges.where(col("src") =!= col("dst")))
        .select(col("src").as("a"), col("dst").as("b")),
        Seq("a", "b"), "left_anti")
      .orderBy(desc("score"), asc("a"), asc("b")).limit(k)

  /** LinkThresholder (`linkprediction/LinkThresholder.cpp`):
    * byScore / byCount / byPercentage selection over a prediction table.
    */
  def thresholdByScore(predictions: DataFrame, minScore: Double): DataFrame =
    predictions.where(col("score") >= minScore)

  def thresholdByCount(predictions: DataFrame, k: Int): DataFrame =
    predictions.orderBy(desc("score"), asc("a"), asc("b")).limit(k)

  def thresholdByPercentage(predictions: DataFrame, pct: Double): DataFrame = {
    val k = math.max(1, (predictions.count() * pct).toInt)
    thresholdByCount(predictions, k)
  }

  /** PredictionsSorter (`linkprediction/PredictionsSorter.cpp`): descending
    * score, ties ascending (a, b) — the reference's concrete comparator.
    */
  def sortPredictions(predictions: DataFrame): DataFrame =
    predictions.orderBy(desc("score"), asc("a"), asc("b"))

  /** AlgebraicDistanceIndex (`linkprediction/AlgebraicDistanceIndex.cpp`):
    * score = algebraic distance between the endpoints (max-norm gap of the
    * Jacobi-smoothed coordinate vectors, [[AlgebraicDistance]]); SMALLER
    * means more likely — the reference returns the raw distance too.
    * Candidate universe = all pairs a < b < maxNodeId, matching the other
    * indices' evaluation surface.
    */
  def algebraicDistanceIndex(spark: SparkSession, edges: DataFrame,
                             maxNodeId: Long, systems: Int = 2,
                             iters: Int = 5, omega: Double = 0.5,
                             seed: Long = 42): DataFrame = {
    val coords = AlgebraicDistance
      .coordinates(spark, edges, systems, iters, omega, seed)
      .where(col("id") < maxNodeId)
    val cols = (0 until systems).map(s => s"x$s")
    coords.select(col("id").as("a") +: cols.map(c => col(c).as(s"u_$c")): _*)
      .join(coords.select(
        col("id").as("b") +: cols.map(c => col(c).as(s"v_$c")): _*),
        col("a") < col("b"))
      .select(col("a"), col("b"),
        greatest(cols.map(c => abs(col(s"u_$c") - col(s"v_$c"))): _*)
          .as("score"))
  }
}
