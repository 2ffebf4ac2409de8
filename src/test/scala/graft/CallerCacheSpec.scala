package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.algo.{AlgebraicDistance, Centrality, Diameter, EdgeScores, LinkPrediction, SCD}
import graft.core.GraphOps

/** An algorithm must not drop a cache its caller holds. Spark's
  * CacheManager keeps one entry per plan: an algorithm that persists a
  * `GraphOps.symmetrize`/`GraphOps.nodes` table of the caller's edges
  * shares the entry of a caller that persisted the same table, and its
  * `unpersist` on exit drops the caller's cache. Each test persists, as the
  * caller, the tables one operator derives from its input, calls the
  * operator, and checks the caller's caches are still registered.
  */
class CallerCacheSpec extends SparkTestBase {

  private def edges: DataFrame = edgeDF((0L until 30L).flatMap { i =>
    Seq((i, (i + 1) % 30, 1.0), (i, (i * 7 + 3) % 30, 1.0))
  })

  private def loopFree(e: DataFrame) = e.where(col("src") =!= col("dst"))

  /** The unweighted undirected view: canonical pairs, symmetrized. */
  private def simpleSym(e: DataFrame): DataFrame =
    GraphOps.symmetrize(GraphOps.canonicalizeUnweighted(loopFree(e)))
      .select("src", "dst")

  private def cached(df: DataFrame): Boolean =
    spark.sharedState.cacheManager.lookupCachedData(
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isDefined

  private def keepsCallerCaches(tables: Seq[DataFrame])(call: => Unit): Unit = {
    val held = tables.map(_.persist(StorageLevel.MEMORY_AND_DISK))
    try {
      held.foreach(_.count())
      call
      held.zipWithIndex.foreach { case (t, i) =>
        assert(cached(t), s"the caller's table $i is no longer cached")
      }
    } finally held.foreach(_.unpersist())
  }

  test("EdgeScores.forestFire keeps the caller's symmetrize and nodes caches") {
    val e = edges
    val c = GraphOps.canonicalizeUnweighted(loopFree(e)).select("src", "dst")
      .withColumn("weight", lit(1.0))
    keepsCallerCaches(Seq(GraphOps.symmetrize(c).select("src", "dst"),
        GraphOps.nodes(c))) {
      EdgeScores.forestFire(spark, e, fires = 4, maxRounds = 3).count()
    }
  }

  test("Diameter.exact keeps the caller's symmetrize cache") {
    val e = edges
    // the src-partitioned adjacency `SSSP.bfs(prebuiltAdj = true)` takes
    val adj = GraphOps.symmetrize(e).select("src", "dst")
      .repartition(col("src")).sortWithinPartitions("src")
    keepsCallerCaches(Seq(adj)) { Diameter.exact(spark, e) }
  }

  test("AlgebraicDistance.coordinates keeps the caller's symmetrize cache") {
    val e = edges
    keepsCallerCaches(Seq(GraphOps.symmetrize(
        GraphOps.canonicalize(loopFree(e))))) {
      AlgebraicDistance.coordinates(spark, e, iters = 2).count()
    }
  }

  test("LinkPrediction.katz keeps the caller's symmetrize cache") {
    val e = edges
    keepsCallerCaches(Seq(simpleSym(e))) {
      LinkPrediction.katz(spark, e, maxNodeId = 10).count()
    }
  }

  test("Centrality.coreDecomposition keeps the caller's edge-table caches") {
    val e = edges
    // the symmetrized simple graph, partitioned by each of its join keys
    val sym = GraphOps.symmetrize(GraphOps.canonicalizeUnweighted(loopFree(e))
      .select("src", "dst").withColumn("weight", lit(1.0))).select("src", "dst")
    keepsCallerCaches(Seq(sym.repartition(col("src")),
        sym.repartition(col("dst")))) {
      Centrality.coreDecomposition(spark, e).count()
    }
  }

  test("SCD.gce keeps the caller's symmetrize cache") {
    val e = edges
    keepsCallerCaches(Seq(simpleSym(e))) { SCD.gce(spark, e, seed = 0L).count() }
  }
}
