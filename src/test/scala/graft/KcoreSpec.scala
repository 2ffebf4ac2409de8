package graft

/** `Centrality.coreDecomposition`: the H-index sweeps on the iteration
  * loop reach the peeling coreness, across many unrolled sweep groups.
  */
class KcoreSpec extends SparkTestBase {

  private def coreness(edges: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    graft.algo.Centrality.coreDecomposition(spark, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("kcore: a traveling cascade stays exact across about 30 unrolled sweep groups") {
    // A 240-node path drains its H-index one hop per sweep from both ends:
    // a TRAVELING cascade of ~120 sweeps, so the loop runs ~30 groups of
    // four composed sweeps, each reading the lazily checkpointed states of
    // the group before. A K5 hung off node 0 pins a second coreness level.
    // Coreness: K5 = 4, every path node = 1 — a sweep that lost a changed
    // flag between groups would freeze an inner path node at 2.
    val path = (0L until 239L).map(i => (i, i + 1, 1.0))
    val k5 = for (i <- 1000L until 1005L; j <- (i + 1) until 1005L)
      yield (i, j, 1.0)
    val bridge = Seq((0L, 1000L, 1.0))
    val got = coreness(edgeDF(path ++ k5 ++ bridge))
    val want = (0L until 240L).map(_ -> 1L).toMap ++
      (1000L until 1005L).map(_ -> 4L).toMap
    assert(got == want)
  }

  test("kcore matches sequential peeling on a mixed random graph") {
    // the generator graph has hubs plus a sparse fringe
    val edges = graft.ingest.PageGen.edges(spark, 400, seed = 11)
    val want = Oracles.coreness(
      edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    assert(coreness(edges) == want)
  }
}
