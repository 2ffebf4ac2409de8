package graft

import org.apache.spark.sql.functions._
import graft.algo._
import graft.core.{GraphOps, Skew}
import graft.quality.PartitionEval
import graft.sources.{Readers, Writers}
import graft.streaming.{GraphEvent, GraphEventType, GraphUpdater}

/** Round-2 operator tests: SCC, new readers, partition evaluation, link
  * prediction breadth + evaluation, sparsification depth, generators, skew
  * primitives, dynamics cross-batch regression.
  */
class Round2Spec extends SparkTestBase {

  // ------------------------------------------------------------------ SCC
  test("SCC: cycles, chains, singletons — exact membership and numbering") {
    val s = spark
    import s.implicits._
    // SCCs: {0,1,2} (3-cycle), {3,4} (2-cycle), {5}, {6} (DAG tail)
    val edges = Seq(
      (0L, 1L), (1L, 2L), (2L, 0L),
      (2L, 3L), (3L, 4L), (4L, 3L),
      (5L, 3L), (4L, 6L)).toDF("src", "dst")
    val got = StronglyConnectedComponents.run(spark, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      3L -> 1L, 4L -> 1L, 5L -> 2L, 6L -> 3L))
  }

  test("SCC on a symmetric digraph equals undirected components") {
    val und = undirected((0L, 1L), (1L, 2L), (5L, 6L), (8L, 9L), (9L, 10L))
    val sym = GraphOps.symmetrize(edgeDF(und)).select("src", "dst")
    val scc = StronglyConnectedComponents.run(spark, sym)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cc = ConnectedComponents.run(spark, edgeDF(und))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scc == cc)
  }

  test("SCC handles a long directed cycle (coloring + backward reach)") {
    val s = spark
    import s.implicits._
    val n = 40L
    val cyc = (0L until n).map(i => (i, (i + 1) % n)).toDF("src", "dst")
    val got = StronglyConnectedComponents.run(spark, cyc)
    assert(got.select("component").distinct().count() == 1)
    assert(got.count() == n)
  }

  test("SCC: a second cycle goes through coloring and a reach past one compaction") {
    val s = spark
    import s.implicits._
    // the pivot pre-pass takes the 40-cycle (all degrees tie, min id wins);
    // the 30-cycle survives the trim, colors to 129 and is extracted by a
    // backward reach 29 levels deep, past FrontierLoop.CompactEvery
    val big = (0L until 40L).map(i => (i, (i + 1) % 40))
    val small = (0L until 30L).map(i => (100 + i, 100 + (i + 1) % 30))
    val got = StronglyConnectedComponents.run(spark, (big ++ small).toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (0L until 40L).map(_ -> 0L) ++ (100L until 130L).map(_ -> 1L)
    assert(got == want.toMap)
  }

  // -------------------------------------------------------------- readers
  test("GML round-trip: writer output re-reads to the same graph") {
    val dir = java.nio.file.Files.createTempDirectory("gmlrt").toString
    val edges = edgeDF(undirected((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L)))
    Writers.gml(edges, s"$dir/g.gml")
    val part = new java.io.File(s"$dir/g.gml").listFiles()
      .filter(_.getName.endsWith(".txt")).head
    val (back, directed) = Readers.gml(spark, part.getAbsolutePath)
    assert(!directed)
    assert(back.count() == 4)
    assert(GraphOps.nodes(back).count() == 4)
  }

  test("GML reader: reference jazz2 fixtures (golden counts)") {
    val und = "/root/reference/input/jazz2_undirected.gml"
    val dir2 = "/root/reference/input/jazz2_directed.gml"
    assume(new java.io.File(und).exists())
    val (ue, un, ud) = Readers.gmlWithNodes(spark, und)
    // 5 declared nodes (2 isolated — only the declared list sees them),
    // 4 edges incl. self-loops; matches GMLGraphReaderGTest expectations
    assert(!ud && ue.count() == 4 && un.count() == 5)
    assert(GraphOps.nodes(ue).count() == 3)
    val (de, dd) = Readers.gml(spark, dir2)
    assert(dd && de.count() == 4)
  }

  test("MatrixMarket reader parses banner, dims and 1-based entries") {
    val f = java.nio.file.Files.createTempFile("mm", ".mtx")
    java.nio.file.Files.writeString(f,
      """%%MatrixMarket matrix coordinate real general
        |% comment
        |3 3 3
        |1 2 1.5
        |2 3 2.0
        |3 1 0.5
        |""".stripMargin)
    val got = Readers.matrixMarket(spark, f.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((0L, 1L, 1.5), (1L, 2L, 2.0), (2L, 0L, 0.5)))
  }

  test("Cover reader/writer round-trip with overlapping communities") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cover").toString
    val memberships = Seq((0L, 0L), (1L, 0L), (1L, 1L), (2L, 1L))
      .toDF("id", "label")
    Writers.cover(memberships, s"$dir/c.cover")
    val part = new java.io.File(s"$dir/c.cover").listFiles()
      .filter(_.getName.endsWith(".txt")).head
    val back = Readers.cover(spark, part.getAbsolutePath)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(back == Set((0L, 0L), (1L, 0L), (1L, 1L), (2L, 1L)))
  }

  // ------------------------------------------------- partition evaluation
  // two triangles {0,1,2}, {3,4,5} joined by edge 2-3; labels = triangles
  private val twoTri = undirected((0L, 1L), (0L, 2L), (1L, 2L),
    (3L, 4L), (3L, 5L), (4L, 5L), (2L, 3L))
  private def triLabels = {
    val s = spark
    import s.implicits._
    Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L), (5L, 1L))
      .toDF("id", "label")
  }

  test("intrapartition density: both triangle clusters are complete") {
    val v = PartitionEval.intrapartitionDensity(edgeDF(twoTri), triLabels)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(v == Map(0L -> 1.0, 1L -> 1.0))
    assert(PartitionEval.intrapartitionDensityGlobal(spark, edgeDF(twoTri),
      triLabels) == 1.0)
  }

  test("isolated interpartition conductance and expansion") {
    // cut = 1; vol(c0) = 7 (6 intra sides + 1 cut side), total vol = 14
    val c = PartitionEval.isolatedInterpartitionConductance(
      edgeDF(twoTri), triLabels)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(c(0L) - 1.0 / 7.0) < 1e-12)
    assert(math.abs(c(1L) - 1.0 / 7.0) < 1e-12)
    val e = PartitionEval.isolatedInterpartitionExpansion(
      edgeDF(twoTri), triLabels)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(e(0L) - 1.0 / 3.0) < 1e-12) // cut 1 / min(3, 3)
  }

  test("partition hub dominance and stable nodes") {
    val h = PartitionEval.partitionHubDominance(edgeDF(twoTri), triLabels)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(h == Map(0L -> 1.0, 1L -> 1.0)) // triangles: everyone internal-deg 2 = size-1
    val st = PartitionEval.stablePartitionNodes(edgeDF(twoTri), triLabels)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(st == Map(0L -> 1.0, 1L -> 1.0)) // own weight 2 > cross weight ≤ 1
  }

  test("partition fragmentation: split cluster across two components") {
    val s = spark
    import s.implicits._
    // components {0,1} and {2,3}; cluster 0 = {0,1,2} fragments 2+1
    val edges = edgeDF(undirected((0L, 1L), (2L, 3L)))
    val labels = Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 1L)).toDF("id", "label")
    val f = PartitionEval.partitionFragmentation(spark, edges, labels)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(f(0L) - (1.0 - 2.0 / 3.0)) < 1e-12)
    assert(f(1L) == 0.0)
  }

  test("adjusted rand dissimilarity: identical partitions → 0") {
    assert(PartitionEval.adjustedRandDissimilarity(spark, triLabels,
      triLabels) == 0.0)
    val s = spark
    import s.implicits._
    val other = Seq((0L, 0L), (1L, 1L), (2L, 0L), (3L, 1L), (4L, 0L), (5L, 1L))
      .toDF("id", "label")
    val d = PartitionEval.adjustedRandDissimilarity(spark, triLabels, other)
    assert(d > 0.5) // near-independent labelings
  }

  // ------------------------------------------------------ link prediction
  test("resource allocation / total neighbors / neighborhood distance") {
    // path 0-1-2 plus 0-3, 2-3: pair (0,2) shares neighbors {1, 3}
    val g = edgeDF(undirected((0L, 1L), (1L, 2L), (0L, 3L), (2L, 3L)))
    val ra = LinkPrediction.resourceAllocation(spark, g)
      .where(col("a") === 0 && col("b") === 2).head().getDouble(2)
    assert(math.abs(ra - (1.0 / 2 + 1.0 / 2)) < 1e-12) // deg(1)=deg(3)=2
    val tn = LinkPrediction.totalNeighbors(spark, g)
      .where(col("a") === 0 && col("b") === 2).head().getLong(2)
    assert(tn == 2L) // deg(0)+deg(2)-cn = 2+2-2
    val nd = LinkPrediction.neighborhoodDistance(spark, g)
      .where(col("a") === 0 && col("b") === 2).head().getDouble(2)
    assert(math.abs(nd - 2.0 / 2.0) < 1e-12)
  }

  test("aucRoc: perfect separation gives 1.0, inverse gives 0.0") {
    val s = spark
    import s.implicits._
    val preds = Seq((0L, 1L, 0.9), (0L, 2L, 0.8), (0L, 3L, 0.2), (0L, 4L, 0.1))
      .toDF("a", "b", "score")
    val pos = Seq((0L, 1L), (0L, 2L)).toDF("a", "b")
    assert(LinkPrediction.aucRoc(spark, preds, pos) == 1.0)
    val posInv = Seq((0L, 3L), (0L, 4L)).toDF("a", "b")
    assert(LinkPrediction.aucRoc(spark, preds, posInv) == 0.0)
    // ties: all same score → 0.5
    val flat = preds.withColumn("score", lit(1.0))
    assert(LinkPrediction.aucRoc(spark, flat, pos) == 0.5)
  }

  test("trainTestSplit is deterministic and partitions the edge set") {
    val g = edgeDF(undirected((0L until 50L).flatMap(i =>
      Seq((i, (i + 1) % 50), (i, (i + 7) % 50))): _*))
    val (tr1, te1) = LinkPrediction.trainTestSplit(g, 0.2)
    val (tr2, te2) = LinkPrediction.trainTestSplit(g, 0.2)
    assert(tr1.count() == tr2.count() && te1.count() == te2.count())
    val total = GraphOps.canonicalizeUnweighted(g).count()
    assert(tr1.count() + te1.count() == total)
    assert(te1.count() > 0 && tr1.count() > te1.count())
  }

  // --------------------------------------------------- sparsification
  test("SCAN structural similarity on a triangle with a tail") {
    val g = edgeDF(undirected((0L, 1L), (0L, 2L), (1L, 2L), (2L, 3L)))
    val sc = EdgeScores.scanStructuralSimilarity(spark, g)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // edge (0,1): tri=1, deg0=2, deg1=2 → 2/3
    assert(math.abs(sc((0L, 1L)) - 2.0 / 3.0) < 1e-12)
    // edge (2,3): tri=0, deg2=3, deg3=1 → 1/sqrt(8)
    assert(math.abs(sc((2L, 3L)) - 1.0 / math.sqrt(8.0)) < 1e-12)
  }

  test("local similarity exponents and multiscale probabilities") {
    val g = edgeDF(undirected((0L, 1L), (0L, 2L), (1L, 2L), (2L, 3L)))
    val ls = EdgeScores.localSimilarity(spark, g)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // node 3 has degree 1 → its edge keeps exponent 1
    assert(ls((2L, 3L)) == 1.0)
    assert(ls.values.forall(v => v >= 0.0 && v <= 1.0))
    val ms = EdgeScores.multiscale(spark, g)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // from node 3 (deg 1): p = 1, prob = 1-(1-1)^0 = 0; from node 2 (deg 3,
    // p=1/3): 1-(2/3)^2 = 5/9
    assert(math.abs(ms((2L, 3L)) - 5.0 / 9.0) < 1e-12)
  }

  test("quadrangles per edge: square counts 1, diagonal splits") {
    // square 0-1-2-3-0
    val sq = edgeDF(undirected((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L)))
    val q = Triangles.quadranglesPerEdge(spark, sq)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(q.values.toSet == Set(1L))
    // K4: every edge lies in exactly 1 pure 4-cycle... (the 4-cycles of K4
    // through an edge: choose the opposite pair order) — count is 2 per edge
    val k4 = edgeDF(undirected((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L),
      (1L, 3L), (2L, 3L)))
    val qk = Triangles.quadranglesPerEdge(spark, k4)
      .collect().map(r => r.getLong(2)).toSet
    assert(qk == Set(2L))
  }

  // ------------------------------------------------------------ generators
  test("generators are deterministic and have the advertised shape") {
    val cl1 = Generators.chungLu(spark, 500, seed = 7).collect().toSet
    val cl2 = Generators.chungLu(spark, 500, seed = 7).collect().toSet
    assert(cl1 == cl2 && cl1.nonEmpty)
    val deg = GraphOps.degrees(GraphOps.symmetrize(
      GraphOps.canonicalizeUnweighted(Generators.chungLu(spark, 500, seed = 7))))
    val mx = deg.agg(max("degree")).head().getLong(0)
    val av = deg.agg(avg("degree")).head().getDouble(0)
    assert(mx > 3 * av) // power-law-ish skew
    val ws = Generators.wattsStrogatz(spark, 200, k = 2, p = 0.1, seed = 3)
    assert(ws.count() >= 350) // ~n*k minus self-loop rewires
    val rr = Generators.rankedDegreeRing(spark, 100)
    assert(GraphOps.nodes(rr).count() == 100)
  }

  // ------------------------------------------------------------------ skew
  test("saltedTopK equals the plain windowed top-k") {
    val s = spark
    import s.implicits._
    val rows = (0L until 2000L).map(i => (i % 7, i, (i * 2654435761L) % 1000))
    val df = rows.toDF("key", "item", "score")
    val plain = df.withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("key").orderBy(desc("score"), asc("item"))))
      .where(col("rank") <= 5)
      .select("key", "item", "rank").collect().toSet
    val salted = Skew.saltedTopK(df, Seq("key"),
        Seq(desc("score"), asc("item")), 5)
      .select("key", "item", "rank").collect().toSet
    assert(salted == plain)
  }

  // ------------------------------------------- dynamics cross-batch (ADVICE)
  test("cross-batch weight update keeps the edge and its base weight") {
    val s = spark
    import s.implicits._
    val base = edgeDF(Seq((0L, 1L, 2.0), (1L, 2L, 1.0)))
    val removed0 = Seq.empty[Long].toDF("id")
    // batch 2: only a weight update on (0,1) and an increment on (1,2)
    val ev = Seq(
      GraphEvent(GraphEventType.EdgeWeightUpdate, 0L, 1L, 5.0, 1L),
      GraphEvent(GraphEventType.EdgeWeightIncrement, 1L, 2L, 0.5, 2L)).toDS()
    val (edges2, _) = GraphUpdater.applyEvents(spark, base, removed0, ev)
    val got = edges2.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got == Map((0L, 1L) -> 5.0, (1L, 2L) -> 1.5))
  }

  test("cross-batch removal then re-add, and increment on absent edge") {
    val s = spark
    import s.implicits._
    val base = edgeDF(Seq((0L, 1L, 2.0)))
    val removed0 = Seq.empty[Long].toDF("id")
    val ev = Seq(
      GraphEvent(GraphEventType.EdgeRemoval, 0L, 1L, 0.0, 1L),
      GraphEvent(GraphEventType.EdgeAddition, 0L, 1L, 7.0, 2L),
      // increment on an edge that never existed: folds from exists=false
      GraphEvent(GraphEventType.EdgeWeightIncrement, 5L, 6L, 1.0, 3L)).toDS()
    val (edges2, _) = GraphUpdater.applyEvents(spark, base, removed0, ev)
    val got = edges2.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got == Map((0L, 1L) -> 7.0)) // (5,6) never added → absent
  }

  // --------------------------------------------------------- CC deep chain
  test("connected components converge on a long chain (depth recursion)") {
    val n = 600L
    val chain = undirected((0L until n - 1).map(i => (i, i + 1)): _*)
    val cc = ConnectedComponents.run(spark, edgeDF(chain),
      ConnectedComponents.Config(coarsenAfter = 4))
    assert(cc.select("component").distinct().count() == 1)
    assert(cc.count() == n)
  }
}
