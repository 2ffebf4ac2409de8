package graft

import org.apache.spark.sql.functions._
import graft.algo.PageRank
import graft.core.GraphOps
import graft.iterate.{CorruptManifestException, IterationDriver}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Contract tests for `IterationDriver.run`, the one convergence loop:
  * `unroll = 1` (one job per iteration) against `unroll = k` (k iterations
  * per chain job) — identical score trajectories, identical detected
  * convergence iteration, interchangeable disk-checkpoint manifests, and
  * resume across unroll factors — also from a manifest whose last line a
  * kill tore — plus a 250-round weighted-SSSP drain, the unrolled loop's
  * worst case.
  */
class FusedLoopSpec extends SparkTestBase {

  // deterministic 50-node digraph with weight variety and a dangling node
  private def edgesDF = {
    val rows = (0L until 49L).flatMap { i =>
      Seq((i, (i * 7 + 3) % 50, 1.0 + (i % 3)),
          (i, (i * 13 + 1) % 50, 1.0))
    } // node 49 has no out-edges: dangling mass leaks, like the reference
    spark.createDataFrame(rows).toDF("src", "dst", "weight")
  }

  test("runFused trajectory, convergence iteration and scores match run exactly") {
    val df = edgesDF
    val nodes = GraphOps.nodes(df)
    // unroll=3 does not divide the iteration count, exercising the final
    // partial group and overshoot-hop discard
    val plain = PageRank.run(spark, df, nodes,
      PageRank.Config(tol = 1e-8, unroll = 1))
    val fused = PageRank.run(spark, df, nodes,
      PageRank.Config(tol = 1e-8, unroll = 3))
    assert(fused.iterations == plain.iterations)
    val mP = plain.history.map(r => r.iter -> r.metric).toMap
    val mF = fused.history.map(r => r.iter -> r.metric).toMap
    assert(mF == mP) // L2 trajectory bit-identical, every iteration
    val sP = plain.scores.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sF = fused.scores.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(sF == sP)
  }

  test("fused disk snapshots land at the same iterations as the plain loop") {
    val df = edgesDF
    val nodes = GraphOps.nodes(df)
    val dirP = java.nio.file.Files.createTempDirectory("fused_p").toString
    val dirF = java.nio.file.Files.createTempDirectory("fused_f").toString
    PageRank.run(spark, df, nodes,
      PageRank.Config(tol = 1e-8, checkpointDir = Some(dirP),
        checkpointEvery = 2, unroll = 1))
    PageRank.run(spark, df, nodes,
      PageRank.Config(tol = 1e-8, checkpointDir = Some(dirF),
        checkpointEvery = 2, unroll = 4))
    val manP = IterationDriver.readManifest(dirP)
    val manF = IterationDriver.readManifest(dirF)
    assert(manF.map(_.iter) == manP.map(_.iter))
    assert(manF.map(_.metric) == manP.map(_.metric))
    // snapshots at exactly the same iterations (every 2nd + convergence)
    assert(manF.filter(_.snapshot.nonEmpty).map(_.iter) ==
           manP.filter(_.snapshot.nonEmpty).map(_.iter))
  }

  test("a plain-loop checkpoint resumes under the fused loop, scores identical") {
    val df = edgesDF
    val nodes = GraphOps.nodes(df)
    val dir = java.nio.file.Files.createTempDirectory("fused_x").toString
    val partial = PageRank.run(spark, df, nodes,
      PageRank.Config(tol = 1e-10, maxIter = 6, checkpointDir = Some(dir),
        checkpointEvery = 2, unroll = 1))
    assert(partial.iterations == 6)
    val resumed = PageRank.run(spark, df, nodes,
      PageRank.Config(tol = 1e-10, checkpointDir = Some(dir), unroll = 4))
    assert(resumed.resumedFrom == 6)
    val clean = PageRank.run(spark, df, nodes,
      PageRank.Config(tol = 1e-10, unroll = 1))
    assert(resumed.resumedFrom + resumed.iterations ==
           clean.iterations)
    val a = resumed.scores.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = clean.scores.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a == b)
  }

  test("a torn last manifest line is skipped: resume from the last complete record") {
    val df = edgesDF
    val nodes = GraphOps.nodes(df)
    val dir = Files.createTempDirectory("fused_torn").toString
    PageRank.run(spark, df, nodes,
      PageRank.Config(tol = 1e-10, maxIter = 6, checkpointDir = Some(dir),
        checkpointEvery = 2, unroll = 1))
    // a kill while appending record 6 leaves `{"iter":6,"met`
    val manifest = Paths.get(dir, "manifest.jsonl")
    val lines = Files.readAllLines(manifest).asScala.toVector
    val torn = lines.last.take(lines.last.indexOf("\"metric\"") + 5)
    Files.write(manifest, (lines.init.map(_ + "\n").mkString + torn).getBytes("UTF-8"))
    assert(IterationDriver.readManifest(dir).map(_.iter) == (1 to 5))

    val resumed = PageRank.run(spark, df, nodes,
      PageRank.Config(tol = 1e-10, checkpointDir = Some(dir),
        checkpointEvery = 2, unroll = 1))
    assert(resumed.resumedFrom == 4) // the last snapshot before the torn record
    val clean = PageRank.run(spark, df, nodes,
      PageRank.Config(tol = 1e-10, unroll = 1))
    assert(resumed.resumedFrom + resumed.iterations == clean.iterations)
    val a = resumed.scores.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = clean.scores.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a == b)
    // the torn line was cut, not glued to the resumed run's first record,
    // and the records after the resumed snapshot were not kept twice
    assert(IterationDriver.readManifest(dir).last.iter == clean.iterations)
    assert(IterationDriver.readManifest(dir).map(_.iter) == (1 to clean.iterations))
  }

  test("an invalid manifest record followed by valid ones is a typed error") {
    val dir = Files.createTempDirectory("fused_corrupt")
    def rec(i: Int) =
      s"""{"iter":$i,"metric":0.5,"wall_ms":3,"rows":-1,"snapshot":""}"""
    Files.write(dir.resolve("manifest.jsonl"),
      Seq(rec(1), """{"iter":2,"met""", rec(3)).map(_ + "\n").mkString
        .getBytes("UTF-8"))
    val e = intercept[CorruptManifestException](
      IterationDriver.readManifest(dir.toString))
    assert(e.getMessage.contains("line 2 of 3"))
    // a torn LAST line alone is not corruption
    Files.write(dir.resolve("manifest.jsonl"),
      (rec(1) + "\n" + """{"iter":2,"met""").getBytes("UTF-8"))
    assert(IterationDriver.readManifest(dir.toString).map(_.iter) == Seq(1))
  }

  test("weighted SSSP: 250-round relax drain on a weighted path is exact " +
      "under the fused loop") {
    // A 251-node weighted path needs one relax round per hop (the unrolled
    // loop's worst case — and its motivation: 2 driver round-trips per
    // round at unroll = 1). Distances are the weight prefix sums.
    val w = (0 until 250).map(i => 1.0 + (i % 5) * 0.25)
    val path = (0 until 250).map(i => (i.toLong, i + 1L, w(i)))
    val got = graft.algo.SSSP
      .weighted(spark, edgeDF(path), source = 0L, directed = true)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = (0 to 250).map(k => k.toLong -> w.take(k).sum).toMap
    assert(got.size == want.size)
    for ((k, d) <- want) assert(math.abs(got(k) - d) < 1e-9, s"node $k")
  }
}
