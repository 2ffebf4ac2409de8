package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.algo.{Resistance, SpanningForest}
import graft.core.GraphOps

/** Round-4 late additions: batch swapEdge, UnionMaximumSpanningForest,
  * and the effective-resistance family (batched PCG Laplacian solver →
  * SpanningEdgeCentrality exact/approx, CommuteTimeDistance).
  */
class Round6Spec extends SparkTestBase {

  // ------------------------------------------------------------ swapEdges
  test("swapEdges rewires a batch and keeps half-edge weights") {
    val edges = edgeDF(Seq((0L, 1L, 5.0), (2L, 3L, 7.0), (4L, 5L, 9.0)))
    val s = spark
    import s.implicits._
    val swaps = Seq((0L, 1L, 2L, 3L)).toDF("s1", "t1", "s2", "t2")
    val out = GraphOps.swapEdges(edges, swaps)
      .orderBy("src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // {0,1},{2,3} -> {0,3},{2,1}; weight follows the preserved source
    assert(out.toSeq == Seq((0L, 3L, 5.0), (2L, 1L, 7.0), (4L, 5L, 9.0)))
  }

  test("swapEdges preserves the degree sequence over a batch") {
    val g = GraphOps.canonicalizeUnweighted(
      graft.ingest.PageGen.edges(spark, 300, seed = 7)
        .where(col("src") =!= col("dst")))
    val ranked = graft.core.DenseId.assign(
      g.select("src", "dst"), "r", Seq("src", "dst"))
    val swaps = ranked.where(col("r") % 2 === 0 && col("r") < 40)
      .select(col("src").as("s1"), col("dst").as("t1"), col("r"))
      .join(ranked.select(col("src").as("s2"), col("dst").as("t2"),
        (col("r") - 1).as("r")), "r")
      .drop("r")
    val out = GraphOps.swapEdges(g, swaps)
    assert(out.count() == g.count())
    def degs(df: DataFrame) = GraphOps.symmetrize(df)
      .groupBy("src").agg(count(lit(1)).as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(degs(out) == degs(g))
  }

  // ----------------------------------------------------------------- UMSF
  /** Definition check: e=(u,v,w) is in the union of all maximum spanning
    * forests iff u,v are NOT connected using only strictly-heavier edges.
    */
  private def umsfBrute(edges: Seq[(Long, Long, Double)]): Set[(Long, Long)] = {
    val canon = edges.filter(e => e._1 != e._2)
      .map { case (u, v, w) => (math.min(u, v), math.max(u, v), w) }
      .groupBy(e => (e._1, e._2)).map { case (k, es) => (k._1, k._2, es.map(_._3).sum) }
      .toSeq
    val nodes = canon.flatMap(e => Seq(e._1, e._2)).distinct
    canon.filter { case (u, v, w) =>
      val heavier = canon.filter(_._3 > w).map(e => (e._1, e._2))
      val comp = Oracles.components(nodes, heavier)
      comp(u) != comp(v)
    }.map(e => (e._1, e._2)).toSet
  }

  test("unionMaximumSpanningForest matches the per-edge definition on tied weights") {
    val raw = graft.ingest.PageGen.edges(spark, 120, seed = 13)
      .where(col("src") =!= col("dst"))
    val g = GraphOps.canonicalizeUnweighted(raw)
      .withColumn("weight",
        pmod(xxhash64(col("src"), col("dst"), lit(99L)), lit(4L))
          .cast("double") + 1.0)
    val seq = g.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val want = umsfBrute(seq)
    val got = SpanningForest.unionMaximumSpanningForest(spark, g)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    // the determinized MaxSF is one member of the family -> subset of the union
    val maxSf = SpanningForest.maximumSpanningForest(spark, g)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(maxSf.subsetOf(got), "MaxSF must be contained in the union")
  }

  test("unionMaximumSpanningForest equals MaxSF when weights are distinct") {
    val g = edgeDF(Seq((0L, 1L, 3.0), (1L, 2L, 5.0), (0L, 2L, 4.0),
      (2L, 3L, 1.0), (3L, 4L, 2.0), (2L, 4L, 6.0)))
    val union = SpanningForest.unionMaximumSpanningForest(spark, g)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val maxSf = SpanningForest.maximumSpanningForest(spark, g)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(union == maxSf)
  }

  test("unionMaximumSpanningForest rejects unquantized continuous weights") {
    val g = GraphOps.canonicalizeUnweighted(
        graft.ingest.PageGen.edges(spark, 200, seed = 17)
          .where(col("src") =!= col("dst")))
      .withColumn("weight",
        xxhash64(col("src"), col("dst")).cast("double"))
    intercept[IllegalArgumentException] {
      SpanningForest.unionMaximumSpanningForest(spark, g, maxLevels = 16)
    }
  }

  // ------------------------------------------------------------ writers
  test("dot writer emits the reference line format in order") {
    val g = edgeDF(Seq((0L, 1L, 2.5), (1L, 2L, 1.0)))
    val dir = java.nio.file.Files.createTempDirectory("graftw").toString
    graft.sources.Writers.dot(g, s"$dir/g.dot")
    val lines = spark.read.text(s"$dir/g.dot")
      .collect().map(_.getString(0))
    assert(lines.head == "graph {" && lines.last == "}")
    assert(lines.toSet.contains("0 -- 1;") && lines.toSet.contains("1 -- 2;"))
    assert(lines.length == 4)
  }

  test("graphml writer emits a well-formed weighted document") {
    val g = edgeDF(Seq((0L, 1L, 2.5), (1L, 2L, 1.0)))
    val dir = java.nio.file.Files.createTempDirectory("graftw").toString
    graft.sources.Writers.graphml(g, s"$dir/g.graphml", weighted = true)
    val doc = scala.xml.XML.loadString(
      spark.read.text(s"$dir/g.graphml")
        .collect().map(_.getString(0)).mkString("\n"))
    assert((doc \ "graph" \ "node").length == 3)
    val es = doc \ "graph" \ "edge"
    assert(es.length == 2)
    assert((doc \ "graph" \@ "edgedefault") == "undirected")
    assert((es \ "data").map(_.text.toDouble).sorted == Seq(1.0, 2.5))
  }

  test("metis writer round-trips a weighted graph with an isolated id") {
    // node 2 has no edges but sits inside 0..max(id): must get an empty line
    val g = edgeDF(Seq((0L, 1L, 2.5), (1L, 3L, 1.0), (3L, 4L, 4.0)))
    val dir = java.nio.file.Files.createTempDirectory("graftw").toString
    graft.sources.Writers.metis(g, s"$dir/g.metis", weighted = true)
    val lines = spark.read.text(s"$dir/g.metis").collect().map(_.getString(0))
    assert(lines.length == 6 && lines.head == "5 3 1")
    // the reader dumps both directions; distinct after the canonical
    // projection recovers each undirected edge once with its weight
    val back = graft.sources.Readers.metis(spark, s"$dir/g.metis")
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"), col("weight"))
      .distinct().orderBy("src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(back.toSeq == Seq((0L, 1L, 2.5), (1L, 3L, 1.0), (3L, 4L, 4.0)))
  }

  test("metis writer round-trips unweighted with the 2-token header") {
    val g = edgeDF(Seq((0L, 1L, 1.0), (1L, 2L, 1.0)))
    val dir = java.nio.file.Files.createTempDirectory("graftw").toString
    graft.sources.Writers.metis(g, s"$dir/g.metis")
    val lines = spark.read.text(s"$dir/g.metis").collect().map(_.getString(0))
    assert(lines.head == "3 2")
    val back = GraphOps.canonicalize(
      graft.sources.Readers.metis(spark, s"$dir/g.metis"))
    assert(back.count() == 2)
  }

  test("snap writer round-trips through the first-appearance reader") {
    // ids already in first-appearance order along (src,dst): remap = id
    val g = edgeDF(Seq((0L, 1L, 1.0), (0L, 2L, 1.0), (1L, 2L, 1.0)))
    val dir = java.nio.file.Files.createTempDirectory("graftw").toString
    graft.sources.Writers.snap(g, s"$dir/g.snap")
    val raw = spark.read.text(s"$dir/g.snap").collect().map(_.getString(0))
    assert(raw.take(3).forall(_.startsWith("#")) && raw.length == 6)
    assert(raw(1) == "# Nodes: 3 Edges: 3")
    val back = graft.sources.Readers.snap(spark, s"$dir/g.snap")
      .orderBy("src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(back.toSeq == Seq((0L, 1L), (0L, 2L), (1L, 2L)))
  }

  test("gexf writer emits a well-formed weighted document") {
    val g = edgeDF(Seq((0L, 1L, 2.5), (1L, 2L, 1.0)))
    val dir = java.nio.file.Files.createTempDirectory("graftw").toString
    graft.sources.Writers.gexf(g, s"$dir/g.gexf", weighted = true)
    val doc = scala.xml.XML.loadString(
      spark.read.text(s"$dir/g.gexf")
        .collect().map(_.getString(0)).mkString("\n"))
    assert((doc \ "graph" \ "nodes" \ "node").length == 3)
    val es = doc \ "graph" \ "edges" \ "edge"
    assert(es.length == 2)
    assert((doc \ "graph" \@ "defaultedgetype") == "undirected")
    assert(es.map(e => (e \@ "weight").toDouble).sorted == Seq(1.0, 2.5))
  }

  // ------------------------------------------------------- graph-tool gt
  private def gtGolden(littleEndian: Boolean): Array[Byte] = {
    // n=3 undirected triangle per the published gt spec: magic, v1,
    // endianness, empty comment, directed=0, n=3, width=1 lists stored at
    // the higher endpoint: u0:[], u1:[0], u2:[0,1]
    val bb = java.nio.ByteBuffer.allocate(8 + 8 + 1 + 8 + 3 * 8 + 3)
      .order(if (littleEndian) java.nio.ByteOrder.LITTLE_ENDIAN
      else java.nio.ByteOrder.BIG_ENDIAN)
    bb.put(Array(0xe2, 0x9b, 0xbe, 0x20, 0x67, 0x74).map(_.toByte))
    bb.put(1.toByte).put(if (littleEndian) 0.toByte else 1.toByte)
    bb.putLong(0L).put(0.toByte).putLong(3L)
    bb.putLong(0L)
    bb.putLong(1L).put(0.toByte)
    bb.putLong(2L).put(0.toByte).put(1.toByte)
    bb.array()
  }

  test("graph-tool binary reader decodes golden bytes, both endiannesses") {
    for (le <- Seq(true, false)) {
      val dir = java.nio.file.Files.createTempDirectory("graftgt")
      val f = dir.resolve("g.gt")
      java.nio.file.Files.write(f, gtGolden(le))
      val (edges, directed) =
        graft.sources.GraphToolBinary.read(spark, f.toString)
      assert(!directed)
      val got = GraphOps.canonicalizeUnweighted(edges)
        .orderBy("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(got.toSeq == Seq((0L, 1L), (0L, 2L), (1L, 2L)))
    }
  }

  test("graph-tool binary round-trips at 2-byte width") {
    val g = GraphOps.canonicalizeUnweighted(
      graft.ingest.PageGen.edges(spark, 300, seed = 11)
        .where(col("src") =!= col("dst")))
    val dir = java.nio.file.Files.createTempDirectory("graftgt")
    val f = dir.resolve("g.gt").toString
    graft.sources.GraphToolBinary.write(g, f)
    val (back, directed) = graft.sources.GraphToolBinary.read(spark, f)
    assert(!directed)
    val a = GraphOps.canonicalizeUnweighted(back).orderBy("src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = g.orderBy("src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.toSeq == b.toSeq && a.length > 250)
  }

  test("graph-tool binary round-trips a directed graph") {
    val g = edgeDF(Seq((0L, 1L, 1.0), (1L, 0L, 1.0), (2L, 0L, 1.0)))
    val dir = java.nio.file.Files.createTempDirectory("graftgt")
    val f = dir.resolve("g.gt").toString
    graft.sources.GraphToolBinary.write(g, f, directed = true)
    val (back, directed) = graft.sources.GraphToolBinary.read(spark, f)
    assert(directed)
    val got = back.orderBy("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((0L, 1L), (1L, 0L), (2L, 0L)))
  }

  test("graph-tool binary reader rejects bad magic and bad version") {
    val dir = java.nio.file.Files.createTempDirectory("graftgt")
    val bad1 = dir.resolve("bad1.gt")
    java.nio.file.Files.write(bad1, Array.fill[Byte](32)(7))
    intercept[Exception] {
      graft.sources.GraphToolBinary.read(spark, bad1.toString)._1.count()
    }
    val badVer = gtGolden(littleEndian = true); badVer(6) = 2
    val bad2 = dir.resolve("bad2.gt")
    java.nio.file.Files.write(bad2, badVer)
    intercept[Exception] {
      graft.sources.GraphToolBinary.read(spark, bad2.toString)._1.count()
    }
  }

  // ------------------------------------------------------------ cliques
  private def bruteMaxClique(edges: Seq[(Long, Long)]): Int = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val adj = edges.flatMap { case (u, v) => Seq((u, v), (v, u)) }.toSet
    var best = if (nodes.isEmpty) 0 else 1
    for (mask <- 1 until (1 << nodes.size)) {
      val sub = nodes.indices.filter(i => (mask & (1 << i)) != 0).map(nodes)
      if (sub.size > best &&
        sub.combinations(2).forall(p => adj((p(0), p(1))))) best = sub.size
    }
    best
  }

  test("maxClique finds a planted K4 exactly") {
    val k4 = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    val g = edgeDF(undirected(k4 ++ Seq((3L, 4L), (4L, 5L), (5L, 6L)): _*))
    val r = graft.algo.Cliques.maxClique(spark, g)
    assert(r.size == 4)
    assert(r.witness == Seq(0L, 1L, 2L, 3L))
  }

  test("maxClique matches brute force on a random graph") {
    val rnd = new scala.util.Random(7)
    val n = 13
    val es = (for (i <- 0 until n; j <- (i + 1) until n
                   if rnd.nextDouble() < 0.45)
      yield (i.toLong, j.toLong)).toSeq
    val want = bruteMaxClique(es)
    val r = graft.algo.Cliques.maxClique(spark, edgeDF(undirected(es: _*)))
    assert(r.size == want, s"got ${r.size} want $want")
    // the witness must actually be a clique of that size
    val adj = es.flatMap { case (u, v) => Seq((u, v), (v, u)) }.toSet
    assert(r.witness.size == want)
    assert(r.witness.combinations(2).forall(p => adj((p(0), p(1)))))
  }

  test("maxClique on a triangle-free star is 2") {
    val g = edgeDF(undirected((1L to 6L).map(i => (0L, i)): _*))
    assert(graft.algo.Cliques.maxClique(spark, g).size == 2)
  }

  // --------------------------------------------------------------- flow
  private def checkFlow(edges: Seq[(Long, Long, Double)], s: Long, t: Long,
                        want: Double): Unit = {
    val g = edgeDF(edges)
    val r = graft.algo.Flow.maxFlow(spark, g, s, t)
    assert(math.abs(r.flowValue - want) < 1e-9,
      s"flow ${r.flowValue} want $want")
    // max-flow = min-cut duality: the returned source side must cut
    // exactly `want` capacity
    val side = r.sourceSide.collect().map(_.getLong(0)).toSet
    assert(side.contains(s) && !side.contains(t))
    val cutCap = edges.filter { case (u, v, _) =>
      side.contains(u) ^ side.contains(v) }.map(_._3).sum
    assert(math.abs(cutCap - want) < 1e-9, s"cut $cutCap want $want")
    // conservation at interior nodes (net arc flow sums to zero)
    val net = r.arcFlows.select(col("src").as("id"), (-col("flow")).as("f"))
      .unionByName(r.arcFlows.select(col("dst").as("id"), col("flow").as("f")))
      .groupBy("id").agg(sum("f").as("net"))
      .where(col("id") =!= s && col("id") =!= t &&
        abs(col("net")) > 1e-9)
    assert(net.count() == 0, "flow conservation violated")
  }

  test("maxFlow: bottleneck path") {
    checkFlow(Seq((0L, 1L, 5.0), (1L, 2L, 2.0), (2L, 3L, 4.0)), 0L, 3L, 2.0)
  }

  test("maxFlow: parallel paths add") {
    checkFlow(Seq((0L, 1L, 3.0), (1L, 5L, 3.0),
      (0L, 2L, 2.0), (2L, 5L, 7.0),
      (0L, 3L, 1.0), (3L, 4L, 0.5), (4L, 5L, 9.0)), 0L, 5L, 5.5)
  }

  test("maxFlow: classic diamond with cross edge") {
    // s=0, t=3; 0-1:3, 0-2:2, 1-2:1, 1-3:2, 2-3:3 -> max flow 5
    checkFlow(Seq((0L, 1L, 3.0), (0L, 2L, 2.0), (1L, 2L, 1.0),
      (1L, 3L, 2.0), (2L, 3L, 3.0)), 0L, 3L, 5.0)
  }

  test("maxFlow: source side 12 hops deep") {
    // capacity 2 along 0..12, a unit bottleneck into the sink 13: the unit
    // that cannot pass flows back, and the cut side is the whole path
    checkFlow((0L until 12L).map(i => (i, i + 1, 2.0)) :+ ((12L, 13L, 1.0)),
      0L, 13L, 1.0)
  }

  test("maxFlow: disconnected sink gives zero") {
    val r = graft.algo.Flow.maxFlow(spark,
      edgeDF(Seq((0L, 1L, 4.0), (2L, 3L, 4.0))), 0L, 3L)
    assert(r.flowValue == 0.0)
  }

  // ------------------------------------------------------------ KPath
  test("kPath ranks a star's hub first and is replayable") {
    val g = edgeDF(undirected((1L to 10L).map(i => (0L, i)): _*))
    val run1 = graft.algo.Centrality.kPath(spark, g, k = 3, samples = 400)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // every walk that starts at a leaf steps through the hub
    assert(run1.maxBy(_._2)._1 == 0L)
    assert(run1(0L) > 0.0)
    val run2 = graft.algo.Centrality.kPath(spark, g, k = 3, samples = 400)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(run1 == run2, "hash-drawn walks must replay exactly")
  }

  test("kPath rejects alpha outside [-0.5, 0.5]") {
    val g = edgeDF(undirected((0L, 1L)))
    intercept[IllegalArgumentException] {
      graft.algo.Centrality.kPath(spark, g, alpha = 0.7, samples = 10)
    }
  }

  // ----------------------------------------------------- resistance / CTD
  test("pairResistance recovers analytic effective resistances") {
    val s = spark
    import s.implicits._
    // path 0-1-2-3 plus a triangle 10-11-12 and a 4-cycle 20-21-22-23
    val g = edgeDF(undirected((0L, 1L), (1L, 2L), (2L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L), (21L, 22L), (22L, 23L), (20L, 23L)))
    val pairs = Seq((0L, 3L), (0L, 1L), (10L, 11L), (20L, 21L), (20L, 22L))
      .toDF("u", "v")
    val byPair = Resistance.pairResistance(spark, g, pairs)
      .select("u", "v", "resistance")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(byPair((0L, 3L)) - 3.0) < 1e-6)       // path ends
    assert(math.abs(byPair((0L, 1L)) - 1.0) < 1e-6)       // path edge
    assert(math.abs(byPair((10L, 11L)) - 2.0 / 3.0) < 1e-6) // triangle edge
    assert(math.abs(byPair((20L, 21L)) - 3.0 / 4.0) < 1e-6) // C4 adjacent
    assert(math.abs(byPair((20L, 22L)) - 1.0) < 1e-6)       // C4 opposite
  }

  test("commuteTime matches the reference sqrt(R*m) convention") {
    val s = spark
    import s.implicits._
    val g = edgeDF(undirected((0L, 1L), (1L, 2L), (2L, 3L))) // m = 3
    val got = Resistance.commuteTime(spark, g, Seq((0L, 3L)).toDF("u", "v"))
      .collect().head.getDouble(2)
    assert(math.abs(got - math.sqrt(3.0 * 3.0)) < 1e-6)
  }

  test("spanningEdgeExact satisfies Foster's theorem (sum = n - 1)") {
    val g = GraphOps.canonicalizeUnweighted(
      graft.algo.Generators.erdosRenyi(spark, 24, 0.25, seed = 23)
        .where(col("src") =!= col("dst")))
    // keep the largest component only so the identity is exact per tree
    val comp = graft.algo.ConnectedComponents.run(spark, g)
    val largest = comp.groupBy("component").agg(count(lit(1)).as("c"))
      .orderBy(desc("c")).limit(1).select("component")
    val keep = comp.join(largest, "component").select("id")
    val sub = GraphOps.subgraph(g, keep)
    val n = GraphOps.nodes(sub).count()
    val total = Resistance.spanningEdgeExact(spark, sub)
      .agg(sum("score")).head().getDouble(0)
    assert(math.abs(total - (n - 1.0)) < 1e-4,
      s"Foster: got $total want ${n - 1}")
  }

  test("spanningEdgeApprox tracks exact scores and is deterministic") {
    val g = edgeDF(undirected((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L),
      (0L, 2L), (3L, 4L), (4L, 5L), (5L, 3L), (1L, 4L)))
    val exact = Resistance.spanningEdgeExact(spark, g)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val approx = Resistance.spanningEdgeApprox(spark, g, kOverride = 400)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    exact.foreach { case (e, want) =>
      assert(math.abs(approx(e) - want) / want < 0.35,
        s"edge $e: approx ${approx(e)} vs exact $want")
    }
    // the ±1 draws are hash-replayable; values agree to solver precision
    // (shuffle aggregation order is not bit-pinned, so not exact equality)
    val again = Resistance.spanningEdgeApprox(spark, g, kOverride = 400)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    again.foreach { case (e, v) =>
      assert(math.abs(v - approx(e)) < 1e-9,
        s"sketch not replayable at $e: $v vs ${approx(e)}")
    }
  }

  // ---------------------------------------------------- SCC pivot pre-pass
  test("SCC pivot pre-pass: highest-degree pivot in a SMALL SCC stays exact") {
    val s = spark
    import s.implicits._
    // node 100 has the largest least(outd, ind) — the pre-pass pivot — but
    // its SCC is only {100, 101}; the larger 5-cycle must still come out of
    // the coloring rounds after the pre-pass, and the fan tendrils trim to
    // singletons. Pins the pivot heuristic as speed-only, never semantics.
    val cyc5 = (0L to 4L).map(i => (i, (i + 1) % 5))
    val two = Seq((100L, 101L), (101L, 100L))
    val fanIn = (10L to 19L).map(i => (i, 100L))
    val fanOut = (20L to 29L).map(i => (100L, i))
    val edges = (cyc5 ++ two ++ fanIn ++ fanOut).toDF("src", "dst")
    val got = graft.algo.StronglyConnectedComponents.run(spark, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parts = got.groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    val singles: Set[Set[Long]] =
      ((10L to 19L) ++ (20L to 29L)).map(Set(_)).toSet
    assert(parts == singles + (0L to 4L).toSet + Set(100L, 101L))
  }

  test("SCC pivot pre-pass: pure-sink hub is never picked as pivot") {
    val s = spark
    import s.implicits._
    // node 50 is a sink with in-degree 12 (max TOTAL degree) but outd = 0 —
    // least(outd, ind) = 0 keeps it out of pivot contention, so the
    // pre-pass lands on the 3-cycle and extracts it in one FW-BW pass
    val cyc = Seq((0L, 1L), (1L, 2L), (2L, 0L))
    val sink = (10L to 21L).map(i => (i, 50L))
    val edges = (cyc ++ sink).toDF("src", "dst")
    val got = graft.algo.StronglyConnectedComponents.run(spark, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parts = got.groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    val singles: Set[Set[Long]] =
      ((10L to 21L).map(Set(_)) :+ Set(50L)).toSet
    assert(parts == singles + Set(0L, 1L, 2L))
  }

  test("kcore sweep-unrolling: slow-drain path + clique fixpoint is exact") {
    // A 60-node path drains its H-index one hop per sweep from both ends
    // (~30 sweeps sequentially), forcing the unrolled multi-hop jobs; a K5
    // hung off node 0 pins a second coreness level. Coreness: K5 nodes = 4,
    // every path node = 1.
    val path = (0L until 59L).map(i => (i, i + 1, 1.0))
    val k5 = for (i <- 100L until 105L; j <- (i + 1) until 105L)
      yield (i, j, 1.0)
    val bridge = Seq((0L, 100L, 1.0))
    val got = graft.algo.Centrality
      .coreDecomposition(spark, edgeDF(path ++ k5 ++ bridge))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (0L until 60L).map(_ -> 1L).toMap ++
      (100L until 105L).map(_ -> 4L).toMap
    assert(got == want)
  }
}
