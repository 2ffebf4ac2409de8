package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.algo.{EdgeScores, Generators, SSSP}

/** Round-4 additions: exact Havel–Hakimi realization, bounded visited-set
  * growth in high-diameter BFS, null-safe linearize.
  */
class Round5Spec extends SparkTestBase {

  private def degreeSeq(edges: DataFrame, n: Int): IndexedSeq[Int] = {
    val m = graft.core.GraphOps.symmetrize(edges)
      .groupBy("src").agg(count(lit(1)).as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    (0 until n).map(i => m.getOrElse(i.toLong, 0))
  }

  private def assertRealizes(degrees: IndexedSeq[Int]): Unit = {
    val g = Generators.havelHakimi(spark, degrees)
    assert(g.where(col("src") === col("dst")).count() == 0, "self loops")
    assert(g.select("src", "dst").distinct().count() == g.count(), "dup edges")
    val out = degreeSeq(g, degrees.length)
    degrees.indices.foreach { i =>
      assert(out(i) == degrees(i), s"node $i: got ${out(i)} want ${degrees(i)}")
    }
  }

  test("havelHakimi realizes a power-law degree sequence exactly") {
    // the crawl generator's sequence is power-law with hubs — and graphical
    // by construction (it IS a graph's degree sequence)
    val n = 2000
    val pl = graft.ingest.PageGen.edges(spark, n.toLong, seed = 3, numPartitions = 4)
    val simple = graft.core.GraphOps.canonicalizeUnweighted(
      pl.where(col("src") =!= col("dst")))
    assertRealizes(degreeSeq(simple, n))
  }

  test("havelHakimi realizes an ER degree sequence exactly") {
    val n = 3000
    val er = Generators.erdosRenyi(spark, n.toLong, 4.0 / n, seed = 5)
    assertRealizes(degreeSeq(er, n))
  }

  test("havelHakimi realizes a regular degree sequence exactly") {
    assertRealizes(IndexedSeq.fill(200)(6))
  }

  test("havelHakimi rejects a non-graphical sequence") {
    // Erdős–Gallai fails at k=2: 3+3 > 2 + min(2,1) + min(2,1)
    intercept[IllegalArgumentException] {
      Generators.havelHakimi(spark, Seq(3, 3, 1, 1)).count()
    }
  }

  test("PLM plateau stop: fixed schedule untouched, quality preserved") {
    import graft.algo.PLM
    val g = graft.core.GraphOps.canonicalize(
      graft.ingest.PageGen.edges(spark, 400, seed = 11, maxOutDeg = 6))
      .persist()
    g.count()
    // stopEarly=false is the oracle's replayable contract: the plateau stop
    // must never fire there — same labels as before the optimization
    // (pinned indirectly by the plm DuckDB oracle; here: determinism)
    val fixedCfg = PLM.Config(maxMovePasses = 4, maxLevels = 1, stopEarly = false)
    val a = PLM.run(spark, g, fixedCfg).labels.orderBy("id").collect()
    val b = PLM.run(spark, g, fixedCfg).labels.orderBy("id").collect()
    assert(a.sameElements(b))
    // default config (plateau stop active) must not lose quality vs the
    // full fixed schedule: the stop only skips passes that 2-cycle
    val qPlateau = graft.quality.Metrics.modularity(spark, g,
      PLM.run(spark, g).labels)
    val qFull = graft.quality.Metrics.modularity(spark, g,
      PLM.run(spark, g, PLM.Config(stopEarly = false)).labels)
    assert(qPlateau >= qFull - 0.02, s"plateau $qPlateau vs full $qFull")
    g.unpersist()
  }

  test("barabasiAlbert (Batagelj–Brandes) process properties") {
    val g = Generators.barabasiAlbert(spark, k = 3, nMax = 1000, n0 = 1, seed = 7)
    assert(g.where(col("src") === col("dst")).count() == 0, "self loops")
    assert(g.select("src", "dst").distinct().count() == g.count(), "dup edges")
    assert(g.count() <= 3000, "at most k*n slot pairs")
    val deg = graft.core.GraphOps.degrees(graft.core.GraphOps.symmetrize(g))
    val maxDeg = deg.agg(max("degree")).head().getLong(0)
    assert(maxDeg >= 30, s"preferential attachment should produce hubs, got $maxDeg")
    // early nodes keep accumulating degree under preferential attachment
    val lowMean = deg.where(col("id") < 50).agg(avg(col("degree").cast("double")))
      .head().getDouble(0)
    val highMean = deg.where(col("id") >= 500).agg(avg(col("degree").cast("double")))
      .head().getDouble(0)
    assert(lowMean > 2 * highMean, s"early $lowMean vs late $highMean")
    // deterministic: same seed, same edge set
    val g2 = Generators.barabasiAlbert(spark, k = 3, nMax = 1000, n0 = 1, seed = 7)
    assert(g.select("src", "dst").unionByName(g2.select("src", "dst"))
      .distinct().count() == g.count())
  }

  test("bfs on a 520-node path (depth 519): exact dists, compacted visited set") {
    val s = spark; import s.implicits._
    val path = (0L until 519L).map(i => (i, i + 1, 1.0))
      .toDF("src", "dst", "weight")
    val res = SSSP.bfs(spark, path, Seq(0L).toDF("id"))
    assert(res.count() == 520)
    // on a path from node 0, dist(id) == id
    assert(res.where(col("dist") =!= col("id")).count() == 0)
    // the returned union is settled + ≤ CompactEvery recent leaves, NOT one
    // leaf per level — the per-level visited scan stays bounded the same way
    val leaves = res.queryExecution.logical.collectLeaves()
    assert(leaves.size <= 9, s"visited union not compacted: ${leaves.size} leaves")
  }

  test("linearize keeps NULL-score rows as one tie group") {
    val s = spark; import s.implicits._
    val scores = Seq((1L, 2L, 2.0), (2L, 3L, -1.0), (3L, 4L, -1.0))
      .toDF("src", "dst", "score")
      .withColumn("score",
        when(col("score") < 0, lit(null).cast("double")).otherwise(col("score")))
    val lin = EdgeScores.linearize(scores)
    assert(lin.count() == 3, "NULL-score rows must not be dropped")
    // the two null rows share one quantile; the non-null row ranks last
    val byEdge = lin.collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(byEdge(2L) == byEdge(3L))
    assert(byEdge(1L) > byEdge(2L))
  }
}
