package graft

import java.nio.file.Files
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import graft.algo.{ConnectedComponents, PLP, PageRank}

/** Guards `Sessions`' sizing of Spark's generated-class cache
  * (`spark.sql.codegen.cache.maxEntries`): once a bounded CC + PLP +
  * checkpointed-and-resumed PageRank has run, running it again must find
  * every generated class in the cache. It fails when the cache is smaller
  * than one run's working set (Spark's default of 100 evicts the whole set
  * every run) and when a plan bakes a per-run constant into generated code.
  */
class CodegenCacheSpec extends SparkTestBase {

  test("a repeated CC + PLP + resumed PageRank run compiles no new class") {
    assert(spark.conf.get(graft.core.Sessions.CodegenCacheConf) ==
      graft.core.Sessions.CodegenCacheEntries.toString)
    val edges = graft.ingest.PageGen
      .edges(spark, 20000L, seed = 11, numPartitions = 4)
      .persist()
    edges.count()
    val nodes = graft.core.GraphOps.nodes(edges).persist()
    nodes.count()
    val root = Files.createTempDirectory("graft-codegen-cache")

    def pass(k: Int): Unit = {
      ConnectedComponents.run(spark, edges).agg(max("component")).head()
      PLP.run(spark, edges, cfg = PLP.Config(maxIter = 2))
        .labels.agg(countDistinct("label")).head()
      val cfg = PageRank.Config(tol = 0.0, maxIter = 5,
        checkpointDir = Some(root.resolve(s"pr-$k").toString))
      PageRank.run(spark, edges, nodes, cfg).scores.agg(sum("score")).head()
      val resumed = PageRank.run(spark, edges, nodes, cfg.copy(maxIter = 8))
      assert(resumed.resumedFrom == 5)
      resumed.scores.agg(sum("score")).head()
    }

    def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try {
      val c0 = compiled
      pass(1)
      val c1 = compiled
      pass(2)
      val c2 = compiled
      info(s"compilations: first run ${c1 - c0}, second run ${c2 - c1}")
      assert(c1 > c0, "the first run compiled nothing; is whole-stage codegen on?")
      assert(c2 - c1 == 0, "the second run compiled generated classes " +
        s"(first run: ${c1 - c0})")
    } finally {
      edges.unpersist(blocking = false)
      nodes.unpersist(blocking = false)
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
    }
  }

  test("an undersized session's warning names the conf, its value and the working set") {
    import graft.core.Sessions._
    assert(undersizedCodegenCache(CodegenCacheEntries).isEmpty)
    val msg = undersizedCodegenCache(100).get
    Seq(CodegenCacheConf + "=100", CodegenCacheEntries.toString,
      CodegenWorkingSet.toString).foreach(s => assert(msg.contains(s), msg))
  }
}
