package graft.algo

import graft.{Oracles, SparkTestBase}
import graft.core.GraphOps
import graft.ingest.PageGen
import org.apache.spark.sql.functions._

class PageRankSpec extends SparkTestBase {

  private def check(nodes: Seq[Long], edges: Seq[(Long, Long, Double)],
                    tolTest: Double = 1e-9): Unit = {
    val df = edgeDF(edges)
    val s = spark
    import s.implicits._
    val nodesDF = nodes.toDF("id")
    val got = PageRank.run(spark, df, nodesDF,
      PageRank.Config(tol = 1e-10)).scores
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = Oracles.pageRank(nodes, edges, tol = 1e-10)
    assert(got.keySet == want.keySet)
    got.foreach { case (id, v) =>
      assert(math.abs(v - want(id)) < 1e-6, s"node $id: $v vs ${want(id)}")
    }
    assert(math.abs(got.values.sum - 1.0) < 1e-9, "L1-normalized")
  }

  test("star+path weighted digraph matches sequential oracle at 1e-6") {
    // hub 0 pointed to by 1..4; weighted chain 4→5→6; dangling node 6
    val edges = Seq((1L, 0L, 1.0), (2L, 0L, 2.0), (3L, 0L, 1.0),
      (4L, 0L, 0.5), (0L, 1L, 1.0), (4L, 5L, 2.0), (5L, 6L, 1.0))
    check(0L to 6L, edges)
  }

  test("undirected graph (symmetrized view) matches oracle") {
    val und = undirected((0, 1), (1, 2), (2, 0), (2, 3), (3, 4))
    val sym = und ++ und.map { case (u, v, w) => (v, u, w) }
    check(0L to 4L, sym)
  }

  test("self-loop handled like the reference (loop mass returns to node)") {
    val edges = Seq((0L, 0L, 1.0), (0L, 1L, 1.0), (1L, 0L, 1.0))
    check(Seq(0L, 1L), edges)
  }

  test("synthetic power-law digraph n=200 matches oracle at 1e-6") {
    val df = PageGen.edges(spark, 200, seed = 42, maxOutDeg = 32)
    val edges = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    check(0L until 200L, edges)
  }

  test("isolated nodes get teleport-only mass") {
    val edges = Seq((0L, 1L, 1.0), (1L, 0L, 1.0))
    check(Seq(0L, 1L, 2L, 3L), edges)
  }

  test("checkpointed run resumes to identical scores") {
    val tmp = java.nio.file.Files.createTempDirectory("prck").toString
    val edges = Seq((1L, 0L, 1.0), (2L, 0L, 2.0), (3L, 0L, 1.0),
      (4L, 0L, 0.5), (0L, 1L, 1.0), (4L, 5L, 2.0), (5L, 6L, 1.0))
    val s = spark
    import s.implicits._
    val nodesDF = (0L to 6L).toDF("id")
    val df = edgeDF(edges)
    // interrupted run: only 7 iterations, checkpoint every 3
    val partial = PageRank.run(spark, df, nodesDF,
      PageRank.Config(tol = 1e-10, maxIter = 7,
        checkpointDir = Some(tmp), shufflePartitions = 4))
    assert(partial.iterations == 7)
    // resumed run continues from the last snapshot instead of restarting
    val resumed = PageRank.run(spark, df, nodesDF,
      PageRank.Config(tol = 1e-10, checkpointDir = Some(tmp),
        shufflePartitions = 4))
    val uninterrupted = PageRank.run(spark, df, nodesDF,
      PageRank.Config(tol = 1e-10))
    val a = resumed.scores.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = uninterrupted.scores.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    a.foreach { case (id, v) => assert(math.abs(v - b(id)) < 1e-9) }
    // manifest recorded per-iteration metrics; the resumed run continued
    // from the last snapshot, not from scratch
    val hist = graft.iterate.IterationDriver.readManifest(tmp)
    assert(hist.nonEmpty)
    // resumed run did strictly less work than the uninterrupted run
    assert(resumed.iterations < uninterrupted.iterations,
      s"${resumed.iterations} vs ${uninterrupted.iterations}")
    assert(hist.last.metric <= 1e-10)
  }
}

class ConnectedComponentsSpec extends SparkTestBase {

  test("tiny20 fixture: 5 components, reference numbering") {
    // reference components/test/ConnectedComponentsGTest.cpp:24-58
    val und = undirected((0, 1), (1, 2), (2, 4), (4, 8), (8, 16), (16, 19),
      (3, 5), (5, 6), (6, 7), (7, 9), (10, 11), (10, 18), (10, 12), (18, 17),
      (13, 14))
    // node 15 is isolated in the reference fixture (Graph has 20 nodes);
    // carry it into the edge-derived node universe via a self-loop.
    val withIsolated = und ++ Seq((15L, 15L, 1.0))
    val nodes = (0L until 20L).toSeq
    val got = ConnectedComponents.run(spark, edgeDF(withIsolated))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Oracles.components(nodes, und.map(e => (e._1, e._2)))
    assert(got == want)
    assert(got.values.toSet.size == 5)
    assert(got(0L) == got(19L) && got(3L) == got(7L))
    // numbering = ascending min-id discovery order
    assert(got(0L) == 0L && got(3L) == 1L && got(10L) == 2L &&
      got(13L) == 3L && got(15L) == 4L)
  }

  test("synthetic power-law graph n=500 matches union-find oracle exactly") {
    val df = PageGen.edges(spark, 500, seed = 7, maxOutDeg = 4)
    val edges = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val nodes = (0L until 500L).toSeq
    val s = spark
    import s.implicits._
    val withAll = edgeDF(edges.map { case (u, v) => (u, v, 1.0) } ++
      nodes.map(u => (u, u, 1.0))) // self-loops keep isolated nodes present
    val got = ConnectedComponents.run(spark, withAll)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Oracles.components(nodes, edges)
    assert(got == want)
  }

  test("long path exercises contraction (diameter > coarsenAfter)") {
    val path = (0L until 60L).sliding(2).map(p => (p(0), p(1), 1.0)).toSeq
    val got = ConnectedComponents.run(spark, edgeDF(path),
      ConnectedComponents.Config(coarsenAfter = 4))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.toSet == Set(0L))
  }

  test("two cliques + bridge form one component; separate without bridge") {
    val k5a = for (i <- 0L until 5L; j <- (i + 1) until 5L) yield (i, j, 1.0)
    val k5b = for (i <- 5L until 10L; j <- (i + 1) until 10L) yield (i, j, 1.0)
    val sep = ConnectedComponents.run(spark, edgeDF(k5a ++ k5b))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sep.values.toSet.size == 2)
    val joined = ConnectedComponents.run(spark,
      edgeDF(k5a ++ k5b ++ Seq((4L, 5L, 1.0))))
      .collect().map(r => r.getLong(1)).toSet
    assert(joined == Set(0L))
  }
}

class PLPSpec extends SparkTestBase {

  test("two K5 cliques + bridge converge to 2 communities (min labels)") {
    val k5a = for (i <- 0L until 5L; j <- (i + 1) until 5L) yield (i, j, 1.0)
    val k5b = for (i <- 5L until 10L; j <- (i + 1) until 10L) yield (i, j, 1.0)
    val edges = k5a ++ k5b ++ Seq((4L, 5L, 1.0))
    val res = PLP.run(spark, edgeDF(edges))
    val labels = res.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sym = edges ++ edges.map { case (u, v, w) => (v, u, w) }
    val (want, _) = Oracles.plp((0L until 10L).toSeq, sym, threshold = 1L)
    assert(labels == want)
    assert(labels.values.toSet.size == 2)
  }

  test("converged labels are a neighborhood-majority fixed point") {
    val df = PageGen.edges(spark, 300, seed = 3, maxOutDeg = 8)
    val edges = df.collect().map(r => (r.getLong(0), r.getLong(1), 1.0)).toSeq
    val res = PLP.run(spark, edgeDF(edges), cfg = PLP.Config(updateThreshold = 0))
    val labels = res.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sym = (edges ++ edges.map { case (u, v, w) => (v, u, w) })
      .filter { case (u, v, _) => u != v }
    val adj = sym.groupBy(_._1)
    // fixed point: every node's label is one of its heaviest neighbor labels
    labels.foreach { case (u, l) =>
      adj.get(u).foreach { nbrs =>
        val weights = nbrs.groupBy(e => labels(e._2))
          .map { case (lab, es) => lab -> es.map(_._3).sum }
        val maxW = weights.values.max
        assert(weights.getOrElse(l, 0.0) == maxW,
          s"node $u label $l weight ${weights.getOrElse(l, 0.0)} < $maxW")
      }
    }
  }

  test("matches synchronous sequential oracle on deterministic fixture") {
    val und = undirected((0, 1), (0, 2), (1, 2), (3, 4), (3, 5), (4, 5),
      (2, 3))
    val sym = und ++ und.map { case (u, v, w) => (v, u, w) }
    val res = PLP.run(spark, edgeDF(und), cfg = PLP.Config(updateThreshold = 0))
    val got = res.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (want, _) = Oracles.plp((0L to 5L).toSeq, sym, threshold = 0L)
    assert(got == want)
  }

  /** A ~2,000-node PageGen graph run to convergence against the oracle. */
  private def convergedMatchesOracle(base: Long => Option[Long]): Unit = {
    val df = PageGen.edges(spark, 2000, seed = 5, maxOutDeg = 16)
    val edges = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val baseMap = nodes.flatMap(u => base(u).map(u -> _)).toMap
    val s = spark
    import s.implicits._
    val baseDF = if (baseMap.isEmpty) None
                 else Some(baseMap.toSeq.toDF("id", "label"))
    val res = PLP.run(spark, edgeDF(edges), baseDF)
    val got = res.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sym = edges ++ edges.collect { case (u, v, w) if u != v => (v, u, w) }
    val (want, sweeps) = Oracles.plp(nodes, sym, threshold = 1L, base = baseMap)
    assert(res.iterations == sweeps)
    assert(got == want)
    assert(sweeps > 2 && sweeps < 100, s"$sweeps sweeps")
  }

  test("full convergence on a 2,000-node PageGen graph matches the oracle: labels and sweeps") {
    convergedMatchesOracle(_ => None)
  }

  test("full convergence from a base clustering matches the oracle: labels and sweeps") {
    // every third node starts in one of 40 seed communities; the rest keep
    // their id (the base table has no row for them)
    convergedMatchesOracle(u => if (u % 3 == 0) Some(u % 40) else None)
  }

  test("isolated nodes keep singleton labels") {
    val edges = Seq((0L, 1L, 1.0), (2L, 2L, 1.0)) // node 2 only self-loop
    val res = PLP.run(spark, edgeDF(edges))
    val labels = res.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(2L) == 2L)
  }
}

class TrianglesSpec extends SparkTestBase {

  test("tri3: triangle 0-1-2, each edge count 1") {
    // edgescores/test/ChibaNishizekiTriangleEdgeScoreGTest.cpp:16-50
    val und = undirected((0, 1), (0, 2), (1, 2))
    val got = Triangles.perEdge(spark, edgeDF(und))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((0L, 1L) -> 1L, (0L, 2L) -> 1L, (1L, 2L) -> 1L))
    assert(Triangles.globalCount(spark, edgeDF(und)) == 1L)
  }

  test("tri6: 6-node two-fan fixture per-edge counts") {
    // same file :55-95
    val und = undirected((0, 1), (0, 2), (1, 2), (0, 4), (0, 3), (3, 4),
      (0, 5), (4, 5))
    val got = Triangles.perEdge(spark, edgeDF(und))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = Map((0L, 1L) -> 1L, (0L, 2L) -> 1L, (1L, 2L) -> 1L,
      (0L, 3L) -> 1L, (3L, 4L) -> 1L, (0L, 4L) -> 2L, (0L, 5L) -> 1L,
      (4L, 5L) -> 1L)
    assert(got == want)
    assert(Triangles.globalCount(spark, edgeDF(und)) == 3L)
  }

  test("synthetic graph n=300 matches brute-force oracle") {
    val df = PageGen.edges(spark, 300, seed = 11, maxOutDeg = 16)
    val edges = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val got = Triangles.perEdge(spark, edgeDF(edges.map(e => (e._1, e._2, 1.0))))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = Oracles.perEdgeTriangles(edges)
    assert(got == want)
  }

  test("LCC matches 2t/(d(d-1)) and triangle=K3 gives 1.0") {
    val und = undirected((0, 1), (0, 2), (1, 2), (2, 3))
    val lcc = Triangles.localClusteringCoefficient(spark, edgeDF(und))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(lcc(0L) - 1.0) < 1e-12)
    assert(math.abs(lcc(1L) - 1.0) < 1e-12)
    assert(math.abs(lcc(2L) - 1.0 / 3.0) < 1e-12)
    assert(lcc(3L) == 0.0)
  }

  test("global clustering coefficient: K4 = 1.0") {
    val k4 = for (i <- 0L until 4L; j <- (i + 1) until 4L) yield (i, j, 1.0)
    val gcc = Triangles.globalClusteringCoefficient(spark, edgeDF(k4))
      .head().getDouble(0)
    assert(math.abs(gcc - 1.0) < 1e-12)
  }
}
