package graftbench

import graft.ingest.PageGen

/** A directed multigraph in compressed form: edges sorted by (src, dst),
  * duplicate links folded into an integer weight.
  */
final case class EdgeArrays(n: Int, src: Array[Int], dst: Array[Int],
                            weight: Array[Double]) {
  def size: Int = src.length
}

/** Sequential reference implementations the benchmark checks the engine's
  * outputs against. They share no code with the engine; the link structure
  * comes from the seeded generator's pure per-page functions.
  */
object Oracles {

  /** The link graph `PageGen` defines for `n` pages: page i links to
    * `target(seed, i, k, n)` for k < outDegree. Page ids are the dense ids
    * the ingest path must assign (pages sort by warc_ts = i, and every
    * link target is a page).
    */
  def linkGraph(seed: Long, n: Int, maxOutDeg: Int = 256): EdgeArrays = {
    val keys = Array.newBuilder[Long]
    var i = 0
    while (i < n) {
      val d = PageGen.outDegree(seed, i, maxOutDeg)
      var k = 0
      while (k < d) {
        keys += i.toLong * n + PageGen.target(seed, i, k, n)
        k += 1
      }
      i += 1
    }
    val ks = keys.result()
    java.util.Arrays.sort(ks)
    val src = Array.newBuilder[Int]
    val dst = Array.newBuilder[Int]
    val w = Array.newBuilder[Double]
    var j = 0
    while (j < ks.length) {
      var e = j
      while (e < ks.length && ks(e) == ks(j)) e += 1
      src += (ks(j) / n).toInt
      dst += (ks(j) % n).toInt
      w += (e - j).toDouble
      j = e
    }
    EdgeArrays(n, src.result(), dst.result(), w.result())
  }

  /** PageRank with the reference semantics: teleport (1-d)/n, no dangling
    * redistribution, stop when the L2 norm of the change is <= tol, one L1
    * normalization at the end. Returns (scores, iterations).
    */
  def pageRank(g: EdgeArrays, damping: Double, tol: Double,
               maxIter: Int = 500): (Array[Double], Int) = {
    val n = g.n
    val wout = new Array[Double](n)
    for (e <- 0 until g.size) wout(g.src(e)) += g.weight(e)
    var score = Array.fill(n)(1.0 / n)
    val teleport = (1.0 - damping) / n
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      val mass = new Array[Double](n)
      var e = 0
      while (e < g.size) {
        val s = g.src(e)
        mass(g.dst(e)) += score(s) * g.weight(e) / wout(s)
        e += 1
      }
      var l2 = 0.0
      val next = new Array[Double](n)
      var u = 0
      while (u < n) {
        next(u) = damping * mass(u) + teleport
        val d = next(u) - score(u)
        l2 += d * d
        u += 1
      }
      score = next
      iter += 1
      done = math.sqrt(l2) <= tol
    }
    val l1 = score.map(math.abs).sum
    (score.map(_ / l1), iter)
  }

  /** Connected components of the undirected view, numbered 0..k-1 in
    * ascending order of each component's smallest node id. Returns the
    * component of every node in `nodes` (ascending ids).
    */
  def components(g: EdgeArrays, nodes: Array[Int]): Array[Int] = {
    val parent = Array.tabulate(g.n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    for (e <- 0 until g.size) {
      val a = find(g.src(e)); val b = find(g.dst(e))
      // keep the smaller id as root, so a root is its component's minimum
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    val number = new java.util.HashMap[Integer, Integer]()
    nodes.map { u =>
      val r = find(u)
      val c = number.get(r)
      if (c != null) c.intValue
      else { val k = number.size; number.put(r, k); k }
    }
  }

  /** Triangles of the undirected simple view (self loops and duplicate or
    * reverse edges folded), each counted once.
    */
  def triangles(g: EdgeArrays): Long = {
    val n = g.n
    val adj = Array.fill(n)(new scala.collection.mutable.ArrayBuilder.ofInt)
    for (e <- 0 until g.size if g.src(e) != g.dst(e)) {
      adj(g.src(e)) += g.dst(e); adj(g.dst(e)) += g.src(e)
    }
    val nb = adj.map(b => b.result().distinct.sorted)
    val deg = nb.map(_.length)
    def lt(a: Int, b: Int) = deg(a) < deg(b) || (deg(a) == deg(b) && a < b)
    // orient each edge from the lower to the higher (degree, id) endpoint
    val out = Array.tabulate(n)(u => nb(u).filter(v => lt(u, v)))
    val mark = new Array[Int](n)
    java.util.Arrays.fill(mark, -1)
    var count = 0L
    var u = 0
    while (u < n) {
      out(u).foreach(v => mark(v) = u)
      out(u).foreach(v => out(v).foreach(w => if (mark(w) == u) count += 1))
      u += 1
    }
    count
  }
}
