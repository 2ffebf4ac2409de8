package graft.cli

import org.apache.spark.sql.functions._
import graft.core.GraphOps
import graft.ingest.PageGen

/** Interleaved fresh-session A/B for the round-5 optimizations, following
  * the PrUnrollAB protocol (BASELINE.md "Ambient-variance": the box's
  * memory bandwidth swings ~2× minute-to-minute, so variants MUST
  * interleave — rep 1 of A, rep 1 of B, rep 2 of A, ... — and the
  * comparison reads the rep SPREADS, not single numbers).
  *
  * Usage: `graft.cli.AbBench <mode: kcore|sssp> [reps=3] [nodes=2000000]`
  *   kcore — tail region-compaction ON (auto n/100 trigger) vs OFF
  *   sssp  — weighted-SSSP relax unroll 4 vs 1 on an n/5000-node weighted
  *           path (high-diameter worst case: one relax round per hop, so
  *           the measured delta IS the per-round driver overhead)
  */
object AbBench {
  def main(args: Array[String]): Unit = {
    val mode = if (args.nonEmpty) args(0) else "kcore"
    val reps = if (args.length > 1) args(1).toInt else 3
    val n = if (args.length > 2) args(2).toLong else 2000000L
    val variants = Seq("on", "off")
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Double]]
    variants.foreach(v => out(v) = Vector.empty)

    for (r <- 1 to reps; v <- variants) {
      val spark = graft.Bench.buildSession("32")
      spark.conf.set("spark.sql.shuffle.partitions", "64")
      try {
        val edges = PageGen.edges(spark, n, seed = 42, numPartitions = 64)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        edges.count()
        // discarded warmup at 1/4 scale (loop-heavy JIT), then timed run
        val wEdges = PageGen.edges(spark, math.max(n / 4, 100000L), seed = 42,
          numPartitions = 64)
        def freeState(): Unit = spark.sparkContext.getPersistentRDDs.values
          .filter(org.apache.spark.rdd.graftshim.RddIntrospect.isLocallyCheckpointed)
          .foreach(_.unpersist(blocking = false))
        val sec = mode match {
          case "kcore" =>
            val compactAt = if (v == "on") -1L else 0L
            graft.algo.Centrality.coreDecomposition(spark, wEdges, compactAt)
              .agg(max("coreness")).head()
            freeState()
            val t0 = System.nanoTime()
            graft.algo.Centrality.coreDecomposition(spark, edges, compactAt)
              .agg(max("coreness")).head()
            (System.nanoTime() - t0) / 1e9
          case "sssp" =>
            import spark.implicits._
            val len = math.max(n / 5000, 200L).toInt
            val u = if (v == "on") 4 else 1
            val path = (0 until len).map(i => (i.toLong, i + 1L, 1.0 + i % 3))
              .toDF("src", "dst", "weight")
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            path.count()
            graft.algo.SSSP.weighted(spark, path.limit(50), 0L,
              directed = true, unroll = u).count() // JIT warmup
            freeState()
            val t0 = System.nanoTime()
            graft.algo.SSSP.weighted(spark, path, 0L, directed = true,
              unroll = u).agg(max("dist")).head()
            (System.nanoTime() - t0) / 1e9
          case other => sys.error(s"unknown mode $other")
        }
        out(v) :+= sec
        System.err.println(f"[ab:$mode] rep $r $v%-3s: $sec%8.2f s")
      } finally {
        spark.stop()
        org.apache.spark.sql.SparkSession.clearActiveSession()
        org.apache.spark.sql.SparkSession.clearDefaultSession()
      }
    }
    for ((v, ts) <- out) {
      val s = ts.sorted
      System.err.println(f"[ab:$mode] $v%-3s reps=${s.map(t => f"$t%.2f").mkString(",")} min=${s.head}%.2f median=${s(s.length / 2)}%.2f")
    }
  }
}
