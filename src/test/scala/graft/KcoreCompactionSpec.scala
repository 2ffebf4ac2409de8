package graft

/** kcore tail region-compaction (`Centrality.coreDecomposition(compactAt)`):
  * the escape/rollback path, and compaction forced on against compaction
  * off.
  */
class KcoreCompactionSpec extends SparkTestBase {

  test("kcore region compaction: traveling cascade stays exact under " +
      "forced compaction with escapes and rollbacks") {
    // A 240-node path drains its H-index one hop per sweep from both ends —
    // a TRAVELING cascade whose frontier exits any bounded ball every few
    // sweeps, so `compactAt = Long.MaxValue` forces the compact path into
    // its escape-detect → rollback → region-rebuild cycle dozens of times
    // (the adaptive radius doubles under the consecutive escapes). A K5
    // hung off node 0 pins a second coreness level. Coreness: K5 = 4,
    // every path node = 1 — any incomplete histogram from a dropped edge
    // would freeze an inner path node at 2.
    val path = (0L until 239L).map(i => (i, i + 1, 1.0))
    val k5 = for (i <- 1000L until 1005L; j <- (i + 1) until 1005L)
      yield (i, j, 1.0)
    val bridge = Seq((0L, 1000L, 1.0))
    val got = graft.algo.Centrality
      .coreDecomposition(spark, edgeDF(path ++ k5 ++ bridge),
        compactAt = Long.MaxValue)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (0L until 240L).map(_ -> 1L).toMap ++
      (1000L until 1005L).map(_ -> 4L).toMap
    assert(got == want)
  }

  test("kcore region compaction: forced-compact ≡ compaction-disabled on a " +
      "mixed random graph") {
    // Same decomposition computed with compaction forced from sweep 1 and
    // with compaction disabled must agree node-for-node; the generator
    // graph has hubs (ball blow-up → bail path) plus sparse fringe.
    val edges = graft.ingest.PageGen.edges(spark, 400, seed = 11)
    val on = graft.algo.Centrality
      .coreDecomposition(spark, edges, compactAt = Long.MaxValue)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val off = graft.algo.Centrality
      .coreDecomposition(spark, edges, compactAt = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(on == off)
  }
}
