package graft

import graft.algo.{Betweenness, Closeness, IndependentSet, SCD, SpanningForest}
import org.apache.spark.sql.functions._

class ClosenessSpec extends SparkTestBase {

  test("closeness on a path graph matches hand computation") {
    val path = undirected((0, 1), (1, 2), (2, 3), (3, 4))
    val s = spark
    import s.implicits._
    val got = Closeness.forSources(spark, edgeDF(path),
        Seq(0L, 2L).toDF("id"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    // from 0: dists 1,2,3,4 → closeness 4/10; harmonic 1+1/2+1/3+1/4
    assert(math.abs(got(0L)._1 - 0.4) < 1e-12)
    assert(math.abs(got(0L)._2 - (1 + 0.5 + 1.0 / 3 + 0.25)) < 1e-12)
    // from 2 (center): dists 1,1,2,2 → 4/6
    assert(math.abs(got(2L)._1 - 4.0 / 6.0) < 1e-12)
  }

  test("sampled closeness is deterministic") {
    val df = graft.ingest.PageGen.edges(spark, 100, seed = 3, maxOutDeg = 4)
    val a = Closeness.sampled(spark, df, 5).collect().map(_.getLong(0)).sorted
    val b = Closeness.sampled(spark, df, 5).collect().map(_.getLong(0)).sorted
    assert(a.sameElements(b) && a.length == 5)
  }
}

class SpanningForestSpec extends SparkTestBase {

  test("MSF picks the light edges on a weighted cycle") {
    // cycle 0-1-2-3-0 with one heavy edge → forest drops the heavy one
    val edges = Seq((0L, 1L, 1.0), (1L, 2L, 2.0), (2L, 3L, 3.0), (3L, 0L, 9.0))
    val forest = SpanningForest.minimumSpanningForest(spark, edgeDF(edges))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(forest == Set((0L, 1L), (1L, 2L), (2L, 3L)))
  }

  test("MSF total weight matches Kruskal oracle on a random graph") {
    val n = 60
    val raw = for {
      i <- 0L until n; j <- (i + 1) until n
      h = graft.ingest.PageGen.mix64(i * 1000 + j)
      if (h % 7) == 0
    } yield (i, j, ((h >>> 8) % 100).toDouble + 1.0)
    val forest = SpanningForest.minimumSpanningForest(spark, edgeDF(raw))
      .agg(sum("weight")).head().getDouble(0)
    // Kruskal oracle
    val parent = scala.collection.mutable.Map((0L until n).map(i => i -> i): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    var total = 0.0
    raw.sortBy(e => (e._3, e._1, e._2)).foreach { case (u, v, w) =>
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) { parent(ru) = rv; total += w }
    }
    assert(math.abs(forest - total) < 1e-9, s"$forest vs $total")
  }
}

class LubySpec extends SparkTestBase {

  test("Luby MIS is independent and maximal") {
    val df = graft.ingest.PageGen.edges(spark, 200, seed = 6, maxOutDeg = 6)
    val edges = df.collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (u, v) => u != v }
    val mis = IndependentSet.luby(spark, df).collect().map(_.getLong(0)).toSet
    // independent: no edge inside the set
    edges.foreach { case (u, v) =>
      assert(!(mis.contains(u) && mis.contains(v)), s"edge $u-$v inside MIS")
    }
    // maximal: every node outside has a neighbor inside
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSet
    nodes.diff(mis).foreach { u =>
      assert(adj.getOrElse(u, Set.empty).exists(mis.contains),
        s"node $u not dominated")
    }
  }
}

class BetweennessSpec extends SparkTestBase {

  test("exact (all-sources) betweenness on the reference's star+paths fixture") {
    // CentralityGTest.cpp:62-68 shape: path 0-2-3, 2-4, plus leaves
    //   0   3   6
    //    \ / \ /
    //     2   5
    //    / \ / \
    //   1   4   7
    val und = undirected((0, 2), (1, 2), (2, 4), (4, 5), (3, 5), (5, 7), (6, 5))
    val got = Betweenness.sampled(spark, edgeDF(und), nSources = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // brute-force oracle via BFS path counting
    val nodes = (0L to 7L).toSeq
    val adj = (und ++ und.map(e => (e._2, e._1, 1.0)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val bc = scala.collection.mutable.Map(nodes.map(_ -> 0.0): _*)
    for (s <- nodes) {
      val dist = scala.collection.mutable.Map(s -> 0)
      val sigma = scala.collection.mutable.Map(s -> 1.0)
      val order = scala.collection.mutable.ArrayBuffer(s)
      val queue = scala.collection.mutable.Queue(s)
      while (queue.nonEmpty) {
        val v = queue.dequeue()
        for (w <- adj.getOrElse(v, Seq.empty)) {
          if (!dist.contains(w)) {
            dist(w) = dist(v) + 1; queue.enqueue(w); order += w
          }
          if (dist(w) == dist(v) + 1)
            sigma(w) = sigma.getOrElse(w, 0.0) + sigma(v)
        }
      }
      val delta = scala.collection.mutable.Map(nodes.map(_ -> 0.0): _*)
      for (w <- order.reverse; v <- adj.getOrElse(w, Seq.empty)
           if dist.contains(v) && dist(v) == dist(w) - 1) {
        delta(v) += sigma(v) / sigma(w) * (1 + delta(w))
      }
      for (v <- nodes if v != s) bc(v) += delta(v)
    }
    nodes.foreach { v =>
      assert(math.abs(got(v) - bc(v) / 2.0) < 1e-9,
        s"node $v: ${got(v)} vs ${bc(v) / 2.0}")
    }
  }

  test("exact betweenness on a chain of 10 diamonds: sigma doubles, depth 20") {
    val s = spark
    import s.implicits._
    // diamond i: hub 3i, middles 3i+1 and 3i+2, next hub 3i+3
    val und = (0L until 10L).flatMap { i =>
      val h = 3 * i
      Seq((h, h + 1), (h, h + 2), (h + 1, h + 3), (h + 2, h + 3))
    }
    val got = Betweenness.forSources(spark, edgeDF(undirected(und: _*)),
        (0L to 30L).toDF("id"), scaleToFullGraph = false)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = Oracles.betweenness(und)
    assert(got.keySet == want.keySet)
    for ((v, b) <- want)
      assert(math.abs(got(v) - b) < 1e-9 * math.max(1.0, b),
        s"node $v: ${got(v)} vs $b")
  }
}

class SCDSpec extends SparkTestBase {

  test("PageRankNibble recovers the seed's clique from two cliques + bridge") {
    val k5a = for (i <- 0L until 5L; j <- (i + 1) until 5L) yield (i, j, 1.0)
    val k5b = for (i <- 5L until 10L; j <- (i + 1) until 10L) yield (i, j, 1.0)
    val edges = edgeDF(k5a ++ k5b ++ Seq((4L, 5L, 1.0)))
    val s = spark
    import s.implicits._
    val comm = SCD.pageRankNibble(spark, edges, Seq(1L).toDF("id"))
      .collect().map(_.getLong(0)).toSet
    assert(comm == Set(0L, 1L, 2L, 3L, 4L), s"got $comm")
  }

  test("personalized PageRank concentrates mass near the seed") {
    val path = undirected((0, 1), (1, 2), (2, 3), (3, 4), (4, 5))
    val s = spark
    import s.implicits._
    val ppr = SCD.personalizedPageRank(spark, edgeDF(path), Seq(0L).toDF("id"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // a degree-1 seed pushes all its mass to its neighbor, so the neighbor
    // may outrank the seed; mass still decays with distance beyond it
    assert(ppr(1L) > ppr(2L) && ppr(2L) > ppr(3L) && ppr(3L) > ppr(4L))
    assert(ppr(0L) + ppr(1L) > ppr(4L) + ppr(5L))
  }
}
