package graft

import org.apache.spark.sql.functions._
import graft.algo._
import graft.core.GraphOps

/** Round-3 operator tests: iFub diameter, algebraic distance, random
  * spanning forest, link-prediction breadth (Katz / degrees / neighbors
  * measure / adjusted Rand / same community), sparsification additions
  * (chance-corrected, prefix-jaccard, local filter, forest fire, random
  * node-edge), GCE, dynamic SSSP repair, edge-id surface.
  */
class Round3Spec extends SparkTestBase {

  // ------------------------------------------------------------- diameter
  test("iFub diameter: path + triangle + pair (disconnected)") {
    val edges = edgeDF(undirected(
      (0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L),          // path, ecc 4
      (10L, 11L), (11L, 12L), (10L, 12L),              // triangle, diam 1
      (20L, 21L)))                                      // pair, diam 1
    assert(Diameter.exact(spark, edges) == 4L)
  }

  test("iFub diameter: 10^5 components, per-component state never collected") {
    val s = spark
    import s.implicits._
    // 100k disjoint single-edge components (diameter 1 each) + one path of
    // 10 nodes (diameter 9). The per-component bound state is 100k+1 rows —
    // a driver-side Map or isin-literal formulation would blow up here; the
    // DataFrame formulation only ever moves scalar aggregates to the driver.
    val pairs = spark.range(100000L)
      .select((col("id") * 2).as("src"), (col("id") * 2 + 1).as("dst"),
        lit(1.0).as("weight"))
    val path = edgeDF(undirected(
      (0 until 9).map(i => (1000000L + i, 1000000L + i + 1)): _*))
    assert(Diameter.exact(spark, pairs.unionByName(path)) == 9L)
  }

  test("iFub diameter agrees with the all-sources eccentricity scan") {
    val s = spark
    import s.implicits._
    // deterministic sparse graph with a few components
    val edges = edgeDF((0 until 60).map { i =>
      (i.toLong % 23, (i.toLong * 7 + 3) % 23, 1.0)
    }.filter(e => e._1 != e._2))
    val viaScan = SSSP.eccentricity(spark, edges, GraphOps.nodes(edges))
      .agg(max("eccentricity")).head().getLong(0)
    assert(Diameter.exact(spark, edges) == viaScan)
  }

  // ------------------------------------------------------------ gce guard
  test("GCE: hub seed beyond maxFetch fails loudly instead of OOMing") {
    val s = spark
    import s.implicits._
    val star = spark.range(1, 201)
      .select(lit(0L).as("src"), col("id").as("dst"), lit(1.0).as("weight"))
    val e = intercept[IllegalArgumentException] {
      SCD.gce(spark, star, seed = 0L, maxFetch = 50)
    }
    assert(e.getMessage.contains("maxFetch"))
  }

  // ------------------------------------------------------- linearize
  test("linearize: constant-score input has no per-score-group window") {
    val s = spark
    import s.implicits._
    // all-equal scores — the degenerate input a threshold-filter pipeline
    // produces; a score-partitioned window would put all rows in one task
    val scores = spark.range(500).select(col("id").as("src"),
      (col("id") + 1000).as("dst"), lit(0.5).as("score"))
    val out = EdgeScores.linearize(scores)
    def walk(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a +: walk(a.inputPlan)
      case _ => p +: p.children.flatMap(walk)
    }
    val wins = walk(out.queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty &&
          !w.child.output.exists(a => a.name == "_pid" || a.name == "_cnt") => w
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.nonEmpty => w // any per-score-group window
    }
    assert(wins.isEmpty, s"linearize window found:\n${wins.headOption}")
    val vals = out.select("score").distinct().collect().map(_.getDouble(0))
    assert(vals.toSeq == Seq(1.0 / 500)) // all tied at min rank 0 → 1/n
  }

  test("linearize: tie groups share the min rank, order preserved") {
    val scores = edgeDF(Seq((1L, 2L, 5.0), (2L, 3L, 5.0), (3L, 4L, 1.0),
      (4L, 5L, 9.0))).withColumnRenamed("weight", "score")
    val out = EdgeScores.linearize(scores).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // ranks by (score,src,dst): (3,4)=0 → .25; (1,2)=1,(2,3)=1 (tie min) →
    // .5; (4,5)=3 → 1.0
    assert(out((3L, 4L)) == 0.25)
    assert(out((1L, 2L)) == 0.5 && out((2L, 3L)) == 0.5)
    assert(out((4L, 5L)) == 1.0)
  }

  // --------------------------------------------------- top-k closeness
  test("TopCloseness: pruned search expands far fewer sources than n") {
    val s = spark
    import s.implicits._
    // two-level tree: root(0) — 10 mids — 200 leaves each (n = 2011).
    // Mids carry the best degree bound, the root has the best closeness,
    // and every leaf's bound falls below it after the first batch.
    val mids = (1L to 10L).map(m => (0L, m, 1.0))
    val leaves = for { m <- 1L to 10L; l <- 0L until 200L }
      yield (m, 100 + m * 200 + l, 1.0)
    val edges = edgeDF(mids ++ leaves)
    val r = TopCloseness.run(spark, edges, k = 1, batchSize = 16)
    assert(r.candidates == 2011L)
    assert(r.sourcesExpanded <= 32L,
      s"expanded ${r.sourcesExpanded} of ${r.candidates}")
    assert(r.top.select("id").head().getLong(0) == 0L)
  }

  test("TopCloseness: agrees with the all-sources scan (ties included)") {
    val edges = edgeDF((0 until 60).map { i =>
      (i.toLong % 19, (i.toLong * 11 + 5) % 19, 1.0)
    }.filter(e => e._1 != e._2))
    val naive = Closeness.forSources(spark, edges, GraphOps.nodes(edges))
      .orderBy(desc("closeness"), asc("id")).limit(5)
      .select("id", "closeness").collect().map(r => (r.getLong(0), r.getDouble(1)))
    val pruned = TopCloseness.run(spark, edges, k = 5, batchSize = 4).top
      .select("id", "closeness").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(pruned.toSeq == naive.toSeq)
  }

  // -------------------------------------------------- algebraic distance
  test("algebraic distance: deterministic, finite, one score per edge") {
    val edges = edgeDF(undirected(
      (0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 3L)))
    val a = AlgebraicDistance.edgeScores(spark, edges).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val b = AlgebraicDistance.edgeScores(spark, edges).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(a == b)
    assert(a.size == 7)
    assert(a.values.forall(v => v >= 0.0 && v <= 1.0))
  }

  // ----------------------------------------------- random spanning forest
  test("random spanning forest: spans every component, acyclic size") {
    val edges = edgeDF(undirected(
      (0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L),  // 4-cycle: tree needs 3
      (5L, 6L), (6L, 7L)))                      // path: 2
    val f = RandomSpanningForest.run(spark, edges)
    assert(f.count() == 5)
    // forest edges are a subset of the input's canonical edges
    val inE = GraphOps.canonicalizeUnweighted(edges)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(f.select("src", "dst").collect()
      .forall(r => inE.contains((r.getLong(0), r.getLong(1)))))
    // same seed → same forest; connectivity is preserved
    val f2 = RandomSpanningForest.run(spark, edges)
    assert(f.select("src", "dst").collect().toSet ==
      f2.select("src", "dst").collect().toSet)
    val ccIn = ConnectedComponents.run(spark, edges)
    val ccF = ConnectedComponents.run(spark,
      f.withColumn("weight", lit(1.0)))
    assert(ccF.select("component").distinct().count() ==
      ccIn.select("component").distinct().count())
  }

  // ------------------------------------------------------ link prediction
  test("Katz index on a triangle: walks with revisits, β^l damping") {
    val edges = edgeDF(undirected((0L, 1L), (1L, 2L), (2L, 0L)))
    val got = LinkPrediction.katz(spark, edges, maxNodeId = 100,
        maxPathLength = 3, beta = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // A[0][1]=1, A²[0][1]=1, A³[0][1]=3 → 0.1 + 0.01 + 3·0.001 = 0.113
    assert(math.abs(got((0L, 1L)) - 0.113) < 1e-9)
    assert(math.abs(got((0L, 2L)) - 0.113) < 1e-9)
    assert(math.abs(got((1L, 2L)) - 0.113) < 1e-9)
  }

  test("endpoint degrees (UDegree/VDegree) on a star") {
    val edges = edgeDF(undirected((0L, 1L), (0L, 2L), (0L, 3L)))
    val got = LinkPrediction.endpointDegrees(spark, edges, maxNodeId = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    assert(got((0L, 1L)) == (3.0, 1.0))
    assert(got((1L, 2L)) == (1.0, 1.0))
    assert(got.size == 6)
  }

  test("neighbors measure on a path: common + cross-neighborhood edges") {
    val edges = edgeDF(undirected((0L, 1L), (1L, 2L), (2L, 3L)))
    val got = LinkPrediction.neighborsMeasure(spark, edges, maxNodeId = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // (0,3): Γ(0)={1}, Γ(3)={2}, edge 1-2 → 1;  (0,2): common {1} → 1+
    // cross pairs (1,1)? no edge; (1,3): Γ(2)={1,3} — pairs (1,1) common=1,
    // (1,3): no edge → nm(0,2) = 1
    assert(got((0L, 3L)) == 1.0)
    assert(got((0L, 2L)) == 1.0)
    // (1,3): Γ(1)={0,2}, Γ(3)={2}: pair (2,2) common; (0,2) no edge... 0-2
    // not an edge → nm = 1
    assert(got((1L, 3L)) == 1.0)
  }

  test("adjusted Rand index mirrors the reference's formula (b=c=union)") {
    val edges = edgeDF(undirected((0L, 1L), (1L, 2L)))
    val got = LinkPrediction.adjustedRand(spark, edges, maxNodeId = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // pair (0,2): a=1, b=c=1, d=3-1=2 → 2(2-1)/(1+1+4+1+2+1+2) = 2/12
    assert(math.abs(got((0L, 2L)) - 2.0 / 12.0) < 1e-9)
  }

  test("same-community index from labels") {
    val s = spark
    import s.implicits._
    val labels = Seq((0L, 0L), (1L, 0L), (2L, 1L), (3L, 1L)).toDF("id", "label")
    val got = LinkPrediction.sameCommunity(spark, labels, maxNodeId = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got((0L, 1L)) == 1.0 && got((2L, 3L)) == 1.0)
    assert(got((0L, 2L)) == 0.0 && got((1L, 3L)) == 0.0)
    assert(got.size == 6)
  }

  // -------------------------------------------------------- edge scores
  test("chance-corrected triangle score: triangle + pendant") {
    val edges = edgeDF(undirected((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L)))
    val got = EdgeScores.chanceCorrectedTriangle(spark, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got((0L, 1L)) == 2.0)          // 1·(4-2)/(1·1)
    assert(got((0L, 2L)) == 1.0)          // 1·2/(1·2)
    assert(got((2L, 3L)) == 1.0)          // tri=0, deg(3)=1
  }

  test("prefix-jaccard matches a sequential mirror of the reference loop") {
    // deterministic mid-density graph with non-trivial attribute ranks
    val raw = (0 until 40).map(i =>
        ((i.toLong * 3) % 11, (i.toLong * 7 + 1) % 11))
      .filter(e => e._1 != e._2)
      .map { case (u, v) => (math.min(u, v), math.max(u, v)) }.distinct
    val edges = edgeDF(raw.map { case (u, v) => (u, v, 1.0) })
    val s = spark
    import s.implicits._
    val attr = raw.map { case (u, v) =>
      (u, v, ((u * 13 + v * 17) % 5).toDouble) }.toDF("src", "dst", "score")
    val got = EdgeScores.prefixJaccard(spark, edges, attr)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // sequential mirror (competition ranks, prefix sweep, max jaccard)
    val att = raw.map { case (u, v) =>
      (u, v) -> ((u * 13 + v * 17) % 5).toDouble }.toMap
    val inc = raw.flatMap { case (u, v) =>
      Seq(u -> (v, att((u, v))), v -> (u, att((u, v)))) }
      .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2) }
    val rank = inc.map { case (n, xs) =>
      n -> xs.map { case (o, a) => o -> xs.count(_._2 > a) }.toMap }
    def pj(u: Long, v: Long): Double = {
      val ru = rank(u).filter(_._1 != v)
      val rv = rank(v).filter(_._1 != u)
      val rs = (ru.values ++ rv.values).toSeq.distinct.sorted
      val best = rs.map { r =>
        val a = ru.filter(_._2 <= r).keySet
        val b = rv.filter(_._2 <= r).keySet
        if ((a ++ b).isEmpty) 0.0
        else (a & b).size.toDouble / (a ++ b).size
      }
      if (best.isEmpty) 0.0 else best.max
    }
    raw.foreach { case (u, v) =>
      assert(math.abs(got((u, v)) - pj(u, v)) < 1e-9,
        s"edge ($u,$v): got ${got((u, v))}, want ${pj(u, v)}")
    }
  }

  test("local filter over jaccard scores equals local similarity") {
    val edges = edgeDF(undirected(
      (0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 4L), (4L, 2L), (0L, 4L)))
    val viaFilter = EdgeScores.localFilter(spark, edges,
        EdgeScores.jaccardSimilarity(spark, edges))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val direct = EdgeScores.localSimilarity(spark, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(viaFilter.keySet == direct.keySet)
    viaFilter.foreach { case (k, v) => assert(math.abs(v - direct(k)) < 1e-9) }
  }

  test("forest fire: deterministic, normalized, covers the edge set") {
    val edges = edgeDF(undirected(
      (0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 3L)))
    val a = EdgeScores.forestFire(spark, edges, fires = 16, maxRounds = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val b = EdgeScores.forestFire(spark, edges, fires = 16, maxRounds = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(a == b)
    assert(a.size == 7)
    assert(a.values.forall(v => v >= 0.0 && v <= 1.0))
    assert(a.values.max == 1.0) // normalized by max burn count
  }

  test("random node-edge score: deterministic quantile in (0,1]") {
    val edges = edgeDF(undirected((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L)))
    val got = EdgeScores.randomNodeEdge(spark, edges).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.size == 4)
    assert(got.values.forall(v => v > 0.0 && v <= 1.0))
    assert(got.values.toSeq.distinct.size == 4) // a strict removal order
  }

  // ------------------------------------------------------------------ GCE
  test("GCE objective M: expands a triangle, rejects the bridge") {
    val edges = edgeDF(undirected(
      (0L, 1L), (1L, 2L), (2L, 0L),  // community A
      (2L, 3L),                      // bridge
      (3L, 4L), (4L, 5L), (5L, 3L))) // community B
    val got = SCD.gce(spark, edges, seed = 0L).collect().map(_.getLong(0)).toSet
    assert(got == Set(0L, 1L, 2L))
  }

  // ------------------------------------------------------------ dyn SSSP
  test("dynamic BFS repair equals fresh BFS after edge insertions") {
    val s = spark
    import s.implicits._
    val base = undirected((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val dist0 = SSSP.bfs(spark, edgeDF(base), Seq(0L).toDF("id"))
      .select("id", "dist")
    val newE = undirected((0L, 5L), (5L, 6L)) // shortcut + newly reachable
    val all = edgeDF(base ++ newE)
    val repaired = DynSSSP.insertEdges(spark, all, dist0, edgeDF(newE))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val fresh = SSSP.bfs(spark, all, Seq(0L).toDF("id"))
      .collect().map(r => r.getLong(1) -> r.getLong(2).toDouble).toMap
    assert(repaired == fresh)
  }

  test("dynamic weighted SSSP repair equals fresh relaxation") {
    val s = spark
    import s.implicits._
    val base = Seq((0L, 1L, 2.0), (1L, 2L, 2.0), (2L, 3L, 2.0))
    val dist0 = SSSP.weighted(spark, edgeDF(base), source = 0L)
    val newE = Seq((0L, 3L, 1.5))
    val all = edgeDF(base ++ newE)
    val repaired = DynSSSP.insertEdges(spark, all, dist0, edgeDF(newE),
        weighted = true)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val fresh = SSSP.weighted(spark, all, source = 0L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(repaired == fresh)
    assert(repaired(3L) == 1.5)
  }

  test("dynamic SSSP repair across several unroll groups equals fresh SSSP") {
    // a 30-node weighted path and a shortcut from the source to node 20:
    // the improvement walks 9 hops each way (to 29 and back to 11), more
    // relax rounds than IterationDriver.DefaultUnroll composes into a group
    val base = (0L until 29L).map(i => (i, i + 1, 1.0 + (i % 3)))
    val dist0 = SSSP.weighted(spark, edgeDF(base), source = 0L)
    val old = dist0.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val newE = Seq((0L, 20L, 2.5))
    val all = edgeDF(base ++ newE)
    val repaired = DynSSSP.insertEdges(spark, all, dist0, edgeDF(newE),
        weighted = true)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val fresh = SSSP.weighted(spark, all, source = 0L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(repaired == fresh)
    assert(repaired(20L) == 2.5)
    assert((11L to 29L).forall(v => repaired(v) < old(v)) &&
      repaired(10L) == old(10L))
  }

  // ----------------------------------------------------------- generators
  test("hyperbolic generator: band join equals brute-force n² threshold") {
    val s = spark
    import s.implicits._
    val n = 400L
    val got = Generators.hyperbolic(spark, n, avgDegree = 6.0)
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over the same deterministic positions
    val seed = 42L
    val alpha = 1.0
    val rDisk = 2.0 * math.log(8.0 * n / (math.Pi * 6.0))
    val pos = spark.range(n).select(col("id"),
        (lit(2.0 * math.Pi) *
          (shiftrightunsigned(xxhash64(col("id"), lit(seed)), 11)
            .cast("double") / (1L << 53).toDouble)).as("theta"),
        (acosh(lit(1.0) + (cosh(lit(alpha * rDisk)) - 1.0) *
          (shiftrightunsigned(xxhash64(col("id"), lit(seed + 1)), 11)
            .cast("double") / (1L << 53).toDouble)) / alpha).as("r"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val brute = (for {
      (u, tu, ru) <- pos
      (v, tv, rv) <- pos if u < v
      if math.cosh(ru) * math.cosh(rv) -
        math.sinh(ru) * math.sinh(rv) * math.cos(math.abs(tu - tv)) <=
        math.cosh(rDisk)
    } yield (u, v)).toSet
    assert(got == brute)
    assert(brute.nonEmpty)
    // determinism
    val again = Generators.hyperbolic(spark, n, avgDegree = 6.0)
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == got)
  }

  // -------------------------------------------- link-prediction utilities
  test("missing links finder, thresholder, sorter") {
    val s = spark
    import s.implicits._
    val preds = Seq((0L, 1L, 0.9), (0L, 2L, 0.8), (1L, 2L, 0.7),
      (1L, 3L, 0.4)).toDF("a", "b", "score")
    val edges = edgeDF(undirected((0L, 1L)))
    val miss = LinkPrediction.missingLinks(preds, edges, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(miss.toSeq == Seq((0L, 2L), (1L, 2L))) // (0,1) excluded, sorted
    assert(LinkPrediction.thresholdByScore(preds, 0.7).count() == 3)
    assert(LinkPrediction.thresholdByCount(preds, 2).count() == 2)
    assert(LinkPrediction.thresholdByPercentage(preds, 0.5).count() == 2)
    val sorted = LinkPrediction.sortPredictions(preds)
      .collect().map(_.getDouble(2))
    assert(sorted.toSeq == sorted.sorted(Ordering[Double].reverse).toSeq)
  }

  // ------------------------------------------------------------- hop plot
  test("hop plot: monotone fractions reaching 1") {
    val edges = edgeDF(undirected((0L, 1L), (1L, 2L), (2L, 3L)))
    val hp = Anf.hopPlot(spark, edges).orderBy("hop")
      .collect().map(_.getDouble(1))
    assert(hp.last == 1.0)
    assert(hp.zip(hp.tail).forall { case (x, y) => x <= y + 1e-12 })
  }

  // -------------------------------------------- clustered random generator
  test("clustered random generator: planted partition is denser inside") {
    val n = 600L
    val k = 3
    val g = Generators.clusteredRandom(spark, n, k, pin = 0.05, pout = 0.002)
      .persist()
    val labels = Generators.clusteredRandomLabels(spark, n, k)
    val withL = g
      .join(labels.withColumnRenamed("id", "src").withColumnRenamed("label", "ls"), "src")
      .join(labels.withColumnRenamed("id", "dst").withColumnRenamed("label", "ld"), "dst")
    val intra = withL.where(col("ls") === col("ld")).count()
    val inter = withL.where(col("ls") =!= col("ld")).count()
    // expected: intra ≈ 3·(200·199/2)·0.05 ≈ 2985, inter ≈ 0.002·3·200·400/2·... — just
    // require the density gap and determinism
    val intraPairs = 3.0 * 200 * 199 / 2
    val interPairs = n.toDouble * (n - 1) / 2 - intraPairs
    assert(intra / intraPairs > 5 * (inter / interPairs))
    val g2 = Generators.clusteredRandom(spark, n, k, pin = 0.05, pout = 0.002)
    assert(g2.count() == g.count())
    g.unpersist()
  }

  // ------------------------------------------------------- dynamic NMI
  test("dynamic NMI distance restricts to the common node set") {
    val s = spark
    import s.implicits._
    val before = Seq((0L, 0L), (1L, 0L), (2L, 1L), (3L, 1L)).toDF("id", "label")
    // after: same communities on shared nodes, plus a brand-new node
    val after = Seq((0L, 5L), (1L, 5L), (2L, 7L), (3L, 7L), (9L, 9L))
      .toDF("id", "label")
    val d = graft.quality.Metrics.dynamicNmiDistance(spark, before, after)
    assert(math.abs(d) < 1e-9)
  }

  // ------------------------------------------------- DorogovtsevMendes
  test("DorogovtsevMendes: exact match with a sequential replay, m = 2n-3") {
    val n = 60L
    val got = Generators.dorogovtsevMendes(spark, n, seed = 42)
      .select(least(col("src"), col("dst")), greatest(col("src"), col("dst")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // replay the SAME deterministic parent draws sequentially (the hash is
    // read back from Spark so both sides share one schedule)
    val ps = spark.range(3L, n)
      .select(col("id"), pmod(xxhash64(col("id"), lit(42L)), col("id") * 2 - 3))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val es = scala.collection.mutable.ArrayBuffer((0L, 1L), (1L, 2L), (2L, 0L))
    for (t <- 3L until n) {
      val (u, v) = es(ps(t).toInt)
      es += ((t, u)); es += ((t, v))
    }
    val want = es.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    assert(got.size == 2 * n - 3)
    assert(got == want)
  }

  test("DorogovtsevMendes: every new node closes a triangle") {
    val n = 80L
    val e = Generators.dorogovtsevMendes(spark, n, seed = 7)
    val canon = e.select(least(col("src"), col("dst")).as("u"),
      greatest(col("src"), col("dst")).as("v"))
    val set = canon.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // node t's two creation edges are (t, x), (t, y) with (x, y) an edge
    for (t <- 3L until n) {
      val partners = set.toSeq.collect {
        case (u, v) if v == t => u
        case (u, v) if u == t && v < t => v
      }.filter(_ < t)
      // at least one pair of sub-t partners is adjacent (the parent edge)
      assert(partners.combinations(2).exists { case Seq(a, b) =>
        set.contains((math.min(a, b), math.max(a, b)))
      }, s"node $t closes no triangle")
    }
  }

  // ---------------------------------------------- EdgeSwitchingMarkovChain
  test("ESMC: degree sequence preserved exactly, graph stays simple, chain moves") {
    val s = spark
    import s.implicits._
    // ring of 100 + deterministic chords (simple, connected, mixed degrees)
    val ring = (0L until 100L).map(i => (i, (i + 1) % 100))
    val chords = (0L until 50L).map(i => (i, (i * i + 7) % 100)).filter(p => p._1 != p._2)
    val base = edgeDF(undirected((ring ++ chords).distinct: _*))
    val canon = GraphOps.canonicalizeUnweighted(base)
    def degSeq(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      GraphOps.degrees(GraphOps.symmetrize(
          GraphOps.canonicalizeUnweighted(df)))
        .orderBy("id").collect().map(r => r.getLong(1)).toSeq
    val before = degSeq(canon)
    val out = Generators.edgeSwitchingMarkovChain(spark, canon, rounds = 5, seed = 42)
    val after = degSeq(out)
    assert(after == before) // EXACT per-node degree preservation
    val pairs = out.select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.forall { case (u, v) => u < v })   // canonical, no loops
    assert(pairs.distinct.length == pairs.length)    // simple
    assert(pairs.length.toLong == canon.count())     // |E| preserved
    val origSet = canon.select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.exists(p => !origSet.contains(p)), "chain never moved")
    // determinism
    val again = Generators.edgeSwitchingMarkovChain(spark, canon, rounds = 5, seed = 42)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == pairs.toSet)
  }

  // ---------------------------------------------------- PR curve + utility
  test("precisionRecallCurve matches a hand computation") {
    val s = spark
    import s.implicits._
    // 4 predictions sorted by score desc: labels 1, 0, 1, 1 → P = 3
    val preds = Seq((0L, 1L, 4.0), (0L, 2L, 3.0), (0L, 3L, 2.0), (0L, 4L, 1.0))
      .toDF("a", "b", "score")
    val pos = Seq((0L, 1L), (0L, 3L), (0L, 4L)).toDF("a", "b")
    val got = graft.algo.LinkPrediction.precisionRecallCurve(spark, preds, pos)
      .orderBy("recall").collect()
      .map(r => (r.getDouble(0), r.getDouble(1))).toSeq
    // prefixes: (tp=1,k=1) (tp=1,k=2) (tp=2,k=3) (tp=3,k=4); recall dedup
    // keeps max-k per tp: (1/3, 1/2), (2/3, 2/3), (1, 3/4)
    assert(got.length == 3)
    assert(math.abs(got(0)._1 - 1.0 / 3) < 1e-9 && math.abs(got(0)._2 - 0.5) < 1e-9)
    assert(math.abs(got(1)._1 - 2.0 / 3) < 1e-9 && math.abs(got(1)._2 - 2.0 / 3) < 1e-9)
    assert(math.abs(got(2)._1 - 1.0) < 1e-9 && math.abs(got(2)._2 - 0.75) < 1e-9)
  }

  test("neighborhoodUtility: union/intersection sizes are set-exact") {
    // triangle 0-1-2 plus 1-3: N(0)={1,2} N(1)={0,2,3}
    val e = edgeDF(undirected((0L, 1L), (1L, 2L), (0L, 2L), (1L, 3L)))
    val r = graft.algo.LinkPrediction.neighborhoodUtility(spark, e, maxNodeId = 4)
      .collect().map(x => (x.getLong(0), x.getLong(1)) ->
        (x.getLong(2), x.getLong(3))).toMap
    assert(r((0L, 1L)) == ((1L, 4L))) // common {2}, union {0,1,2,3}
    assert(r((0L, 2L)) == ((1L, 3L))) // common {1}, union {0,1,2}
    assert(r((2L, 3L)) == ((1L, 2L))) // common {1}, union {0,1}
  }

  // ------------------------------------------- production checkpoint preset
  test("IterConfig.production: every iteration durable, kill-anywhere resume") {
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("prodck").toString
    val edges = edgeDF(Seq((1L, 0L, 1.0), (2L, 0L, 2.0), (3L, 0L, 1.0),
      (0L, 1L, 1.0), (3L, 2L, 1.0)))
    val nodes = (0L to 3L).toDF("id")
    // "killed" after 5 iterations
    val partial = PageRank.run(spark, edges, nodes,
      PageRank.Config(tol = 1e-12, maxIter = 5,
        checkpointDir = Some(tmp), checkpointEvery = 1, shufflePartitions = 4))
    assert(partial.iterations == 5)
    val hist = graft.iterate.IterationDriver.readManifest(tmp)
    // checkpointEvery=1 ⇒ EVERY completed iteration has a durable snapshot
    assert(hist.length == 5 && hist.forall(_.snapshot.nonEmpty))
    // resume starts from exactly iteration 5, no lost work
    val resumed = PageRank.run(spark, edges, nodes,
      PageRank.Config(tol = 1e-12, checkpointDir = Some(tmp),
        checkpointEvery = 1, shufflePartitions = 4))
    assert(resumed.resumedFrom == 5)
    val clean = PageRank.run(spark, edges, nodes, PageRank.Config(tol = 1e-12))
    val a = resumed.scores.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = clean.scores.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    a.foreach { case (id, v) => assert(math.abs(v - b(id)) < 1e-9) }
  }

  // ------------------------------------------------------------ edge ids
  test("indexEdges: dense 0-based ids in canonical (src, dst) order") {
    val edges = edgeDF(undirected((3L, 1L), (0L, 2L), (1L, 0L), (2L, 3L)))
    val got = GraphOps.indexEdges(edges)
      .orderBy("edge_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._3).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(got.map(t => (t._1, t._2)).toSeq ==
      got.map(t => (t._1, t._2)).sortBy(identity).toSeq)
  }
}
