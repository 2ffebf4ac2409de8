package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = graft.core.Sessions.builder("local[4]", "4")
      .appName("graft-test")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.core.Sessions.tune(s)
  }
}

trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.spark

  def edgeDF(edges: Seq[(Long, Long, Double)]): DataFrame = {
    val s = spark
    import s.implicits._
    edges.toDF("src", "dst", "weight")
  }

  /** Undirected edge list given once per edge. */
  def undirected(edges: (Long, Long)*): Seq[(Long, Long, Double)] =
    edges.map { case (u, v) => (u, v, 1.0) }
}

/** Pure sequential in-memory oracles mirroring the reference semantics
  * verbatim — the reference's own parallel-vs-sequential equivalence
  * pattern (`components/test/ConnectedComponentsGTest.cpp:71-86`).
  */
object Oracles {

  /** PageRank per `centrality/PageRank.cpp:20-71`: no dangling
    * redistribution, L2 stop, one final L1 normalization. `edges` directed
    * (symmetrize outside for undirected).
    */
  def pageRank(nodes: Seq[Long], edges: Seq[(Long, Long, Double)],
               damp: Double = 0.85, tol: Double = 1e-9,
               maxIter: Int = 500): Map[Long, Double] = {
    val n = nodes.size
    val outW = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    val inEdges = edges.groupBy(_._2)
    var pr = nodes.map(_ -> 1.0 / n).toMap
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      iter += 1
      val next = nodes.map { u =>
        val mass = inEdges.getOrElse(u, Seq.empty)
          .map { case (v, _, w) => pr(v) * w / outW(v) }.sum
        u -> (damp * mass + (1 - damp) / n)
      }.toMap
      val l2 = math.sqrt(nodes.map(u => math.pow(pr(u) - next(u), 2)).sum)
      pr = next
      done = l2 <= tol
    }
    val l1 = pr.values.map(math.abs).sum
    pr.map { case (k, v) => k -> v / l1 }
  }

  /** Union-find components; labels = dense numbering by ascending min-id. */
  def components(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(nodes.map(u => u -> u): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    edges.foreach { case (u, v) =>
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
    }
    val minId = nodes.groupBy(find).map { case (r, ns) => r -> ns.min }
    val order = minId.values.toSeq.sorted.zipWithIndex.toMap
    nodes.map(u => u -> order(minId(find(u))).toLong).toMap
  }

  /** Red-black semi-synchronous PLP with the engine's pinned semantics
    * (weighted majority, min-label tie-break, parity-alternating sweeps,
    * active-set, per-round threshold stop). Mirrors graft.algo.PLP exactly.
    * Labels start from `base` where it has one, else the node id. Returns
    * the labels and the number of sweeps run.
    */
  def plp(nodes: Seq[Long], symEdges: Seq[(Long, Long, Double)],
          threshold: Long, maxIter: Int = 100,
          base: Map[Long, Long] = Map.empty): (Map[Long, Long], Int) = {
    val adj = symEdges.groupBy(_._1)
    var labels = nodes.map(u => u -> base.getOrElse(u, u)).toMap
    var active = nodes.toSet
    var prevChangedCount = nodes.size
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      iter += 1
      val parity = iter % 2
      val updates = active.toSeq.filter(_ % 2 == parity).flatMap { u =>
        val nbrs = adj.getOrElse(u, Seq.empty)
        if (nbrs.isEmpty) None
        else {
          val weights = nbrs.groupBy(e => labels(e._2))
            .map { case (l, es) => l -> es.map(_._3).sum }
          val best = weights.toSeq.maxBy { case (l, w) => (w, -l) }._1
          if (best != labels(u)) Some(u -> best) else None
        }
      }
      labels = labels ++ updates
      val changed = updates.map(_._1).toSet
      val swept = active.filter(_ % 2 == parity)
      active = (active -- swept) ++ changed ++ changed.flatMap(u =>
        adj.getOrElse(u, Seq.empty).map(_._2))
      done = changed.size + prevChangedCount <= threshold
      prevChangedCount = changed.size
    }
    (labels, iter)
  }

  /** Brute-force triangle enumeration on the simple undirected graph. */
  def triangles(edges: Seq[(Long, Long)]): Seq[(Long, Long, Long)] = {
    val simple = edges.filter { case (u, v) => u != v }
      .map { case (u, v) => (math.min(u, v), math.max(u, v)) }.distinct
    val es = simple.toSet
    val nodes = simple.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    for {
      (u, v) <- simple
      w <- nodes if w > v && es.contains((u, w)) && es.contains((v, w))
    } yield (u, v, w)
  }

  /** Coreness by sequential peeling (Batagelj–Zaveršnik): repeatedly
    * remove a node of minimum remaining degree; its coreness is the largest
    * such minimum seen so far. Simple undirected graph: self-loops and
    * duplicate pairs are dropped, and isolated nodes are absent, as in
    * `Centrality.coreDecomposition`.
    */
  def coreness(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = edges.filter { case (u, v) => u != v }
      .flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).map { case (u, es) => u -> es.map(_._2).toSet }
    val deg = scala.collection.mutable.Map(
      adj.map { case (u, ns) => u -> ns.size.toLong }.toSeq: _*)
    val core = scala.collection.mutable.Map.empty[Long, Long]
    var k = 0L
    while (deg.nonEmpty) {
      val (u, d) = deg.minBy(_._2)
      k = math.max(k, d)
      core(u) = k
      deg -= u
      adj(u).foreach(v => deg.get(v).foreach(dv => deg(v) = dv - 1))
    }
    core.toMap
  }

  def perEdgeTriangles(edges: Seq[(Long, Long)]): Map[(Long, Long), Long] = {
    val tris = triangles(edges)
    val simple = edges.filter { case (u, v) => u != v }
      .map { case (u, v) => (math.min(u, v), math.max(u, v)) }.distinct
    val counts = tris.flatMap { case (u, v, w) =>
      Seq((u, v), (u, w), (v, w)) }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .groupBy(identity).map { case (k, vs) => k -> vs.size.toLong }
    simple.map(e => e -> counts.getOrElse(e, 0L)).toMap
  }

  /** Sequential Brandes over an undirected edge list: unnormalized
    * betweenness from every node, each undirected pair counted once.
    */
  def betweenness(edges: Seq[(Long, Long)]): Map[Long, Double] = {
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .map { case (u, es) => u -> es.map(_._2) }
    val bc = scala.collection.mutable.Map(adj.keys.toSeq.map(_ -> 0.0): _*)
    for (s <- adj.keys) {
      val dist = scala.collection.mutable.Map(s -> 0)
      val sigma = scala.collection.mutable.Map(s -> 1.0)
      val order = scala.collection.mutable.ArrayBuffer(s)
      val queue = scala.collection.mutable.Queue(s)
      while (queue.nonEmpty) {
        val v = queue.dequeue()
        for (w <- adj(v)) {
          if (!dist.contains(w)) {
            dist(w) = dist(v) + 1; queue.enqueue(w); order += w
          }
          if (dist(w) == dist(v) + 1)
            sigma(w) = sigma.getOrElse(w, 0.0) + sigma(v)
        }
      }
      val delta = scala.collection.mutable.Map(adj.keys.toSeq.map(_ -> 0.0): _*)
      for (w <- order.reverse; v <- adj(w) if dist(v) == dist(w) - 1)
        delta(v) += sigma(v) / sigma(w) * (1 + delta(w))
      for (v <- adj.keys if v != s) bc(v) += delta(v)
    }
    bc.map { case (v, b) => v -> b / 2.0 }.toMap
  }
}
