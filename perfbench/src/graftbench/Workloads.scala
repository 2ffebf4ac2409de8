package graftbench

import java.io.File
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.algo.{Centrality, ConnectedComponents, PLP, PageRank, Triangles}
import graft.ingest.{IngestFunctions, LinkGraph, PageGen}
import graft.iterate.IterRecord
import graft.sources.Writers

/** What one pipeline pass leaves for the untimed part of the pass: output
  * checks (name → passed) and loop metrics read from results and the
  * checkpoint dir.
  */
final case class PassOut(checks: () => Seq[(String, Boolean)],
                         iterate: () => Map[String, Double])

/** A named benchmark workload. `prepare` builds its inputs from the seed
  * and materializes them (set-up); `pass` runs the timed pipeline once,
  * calling each layer inside a tracer span.
  */
abstract class Workload(val spark: SparkSession, val seed: Long,
                        val dir: File) {
  /** Input size: pages or nodes. */
  def size: Int
  def prepare(): Unit
  /** Sequential reference results, computed once outside any timing. */
  def prepareOracle(): Unit
  def pass(t: Tracer, k: Int): PassOut
  /** Measured input size, for the run's info record. */
  def sizeInfo: Map[String, Double]

  protected val parts: Int = 2 * spark.sparkContext.defaultParallelism

  protected def pinned(df: DataFrame): DataFrame = {
    val p = df.localCheckpoint(true)
    p.count()
    p
  }
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long,
            dir: File): Workload = name match {
    case "crawl_pagerank" => new CrawlPageRank(spark, seed, dir)
    case "graph_algos" => new GraphAlgos(spark, seed, dir)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** The north-star pipeline over seeded Common-Crawl-style pages: text
  * extraction (compared byte for byte with each page's `text`), link pairs,
  * dense ids, the edge table and its parquet write, then PageRank stopped
  * at 10 iterations and resumed from its checkpoint manifest up to the
  * iteration cap, and the top 20 joined back to urls.
  */
final class CrawlPageRank(spark: SparkSession, seed: Long, dir: File)
    extends Workload(spark, seed, dir) {
  val size = 20000
  val tol = 1e-6
  val firstLeg = 10
  /** Iteration cap across both calls. At 5k-20k pages the seeds need 26 to
    * 55 iterations to reach tol, so every pass runs exactly 15 (10 fresh, 5
    * resumed) whatever the seed: equal work per seed.
    */
  val maxIter = 15
  private var pages: DataFrame = _
  private var oracle: EdgeArrays = _
  private var ref: (Array[Double], Int) = _

  def prepare(): Unit =
    pages = pinned(PageGen.pages(spark, size.toLong, seed,
      numPartitions = parts).toDF())

  def prepareOracle(): Unit = {
    oracle = Oracles.linkGraph(seed, size)
    ref = Oracles.pageRank(oracle, 0.85, tol, maxIter)
  }

  def sizeInfo: Map[String, Double] =
    Map("pages" -> size.toDouble, "edges" -> oracle.size.toDouble,
      "links" -> oracle.weight.sum, "pagerank_iterations" -> ref._2.toDouble)

  /** pages → link pairs → node dictionary → edge table. The link pairs are
    * cached first, so `LinkGraph.build` finds them in the cache and its own
    * time is the dense-id pass; materializing the edges is the rest.
    */
  private def linkGraph(t: Tracer): (DataFrame, DataFrame) = {
    t.span("ingest.links") {
      val l = LinkGraph.links(spark, pages).persist()
      t.addRows("ingest.links", l.count())
    }
    t.span("ingest.link_graph") {
      val (nodes, edges0) = t.span("core.dense_id") {
        val r = LinkGraph.build(spark, pages)
        t.addRows("core.dense_id", r._1.count())
        r
      }
      val edges = edges0.persist()
      t.addRows("ingest.link_graph", edges.count())
      (nodes, edges)
    }
  }

  def pass(t: Tracer, k: Int): PassOut = {
    val mismatches = t.span("ingest.extract_text") {
      val x = pages.select(
        IngestFunctions.extractText(spark, col("html")).as("extracted"),
        col("text"))
      val r = x.agg(count(lit(1)),
        sum(when(col("extracted") <=> col("text"), 0L).otherwise(1L))).head()
      t.addRows("ingest.extract_text", r.getLong(0))
      r.getLong(1)
    }
    val (nodes, edges) = linkGraph(t)
    val out = new File(dir, s"out/pass-$k")
    t.span("sources.write_parquet") {
      Writers.parquet(edges, out.getPath)
    }
    val ck = new File(dir, s"ck/pass-$k")
    val ids = nodes.select("id")
    val manifest = new File(ck, "manifest.jsonl").toPath
    // one PageRank call; also returns the epoch ms its loop last wrote the
    // manifest, which splits the call into pre-loop, loop and post-loop
    def call(maxIter: Int): (PageRank.Result, SpanCall, Long) = {
      val r = t.span("algo.pagerank") {
        PageRank.run(spark, edges, ids, PageRank.Config(
          tol = tol, maxIter = maxIter, checkpointDir = Some(ck.getPath)))
      }
      (r, t.calls.last, Files.getLastModifiedTime(manifest).toMillis)
    }
    val (r1, c1, end1) = call(firstLeg)
    val (r2, c2, end2) = call(maxIter)
    val top = t.span("algo.ranking") {
      val rows = Centrality.ranking(r2.scores, 20).join(nodes, "id")
        .select("id", "url", "score").collect()
      t.addRows("algo.ranking", rows.length)
      rows
    }

    def checks(): Seq[(String, Boolean)] = {
      // the edge table matches the generator's link structure exactly, and
      // the dictionary maps every page id to its url
      val e = edges.select("src", "dst", "weight").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
      val edgesOk = e.length == oracle.size && e.indices.forall { i =>
        e(i)._1 == oracle.src(i) && e(i)._2 == oracle.dst(i) && e(i)._3 == oracle.weight(i)
      }
      val nd = nodes.select("id", "url", "is_page").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).sortBy(_._1)
      val nodesOk = nd.length == size && nd.indices.forall { i =>
        nd(i)._1 == i && nd(i)._2 == PageGen.url(seed, i, 97) && nd(i)._3
      }
      val (want, wantIters) = ref
      val got = r2.scores.select("id", "score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
      t.addRows("algo.pagerank", got.length)
      val close = got.length == size && got.indices.forall { i =>
        got(i)._1 == i && math.abs(got(i)._2 - want(i)) <= 1e-6 * math.abs(want(i)) + 1e-12
      }
      // the top 20 are 20 distinct pages whose reference scores are all at
      // least the 20th best, each with its own url
      val cut = want.sorted(Ordering[Double].reverse)(19)
      val topOk = top.length == 20 && top.map(_.getLong(0)).distinct.length == 20 &&
        top.forall { r =>
          val id = r.getLong(0).toInt
          want(id) >= cut - 1e-12 && r.getString(1) == PageGen.url(seed, id, 97)
        }
      val written = spark.read.parquet(out.getPath).count()
      t.addRows("sources.write_parquet", written)
      Seq(
        "extract_text.byte_mismatches" -> (mismatches == 0),
        "link_graph.edges" -> edgesOk,
        "link_graph.nodes" -> nodesOk,
        "write_parquet.rows" -> (written == oracle.size),
        "pagerank.first_call_fresh" -> (r1.resumedFrom == 0 && r1.iterations == firstLeg),
        "pagerank.resumed_from_10" -> (r2.resumedFrom == firstLeg),
        "pagerank.iterations" -> (r1.iterations + r2.iterations == wantIters),
        "pagerank.allclose_1e-6" -> close,
        "ranking.top20" -> topOk)
    }

    def iterate(): Map[String, Double] = {
      val hist: Vector[IterRecord] = r1.history ++ r2.history
      val walls = hist.map(_.wallMs.toDouble)
      def preloop(c: SpanCall, loopEnd: Long, h: Vector[IterRecord]): Double =
        math.max(0.0, c.ns / 1e9 - (c.endMs - loopEnd) / 1e3 - h.map(_.wallMs).sum / 1e3)
      val stateDir = new File(ck, "state")
      val snaps = Option(stateDir.listFiles()).map(_.count(_.isDirectory)).getOrElse(0)
      val iters = r1.iterations + r2.iterations
      val prS = c1.ns / 1e9 + c2.ns / 1e9
      Map(
        "iterate.pagerank.iterations" -> iters.toDouble,
        "iterate.pagerank.iter_ms_p50" -> Workload.median(walls),
        "iterate.pagerank.iter_ms_max" -> (if (walls.isEmpty) 0.0 else walls.max),
        "iterate.pagerank.loop_s" -> walls.sum / 1e3,
        "iterate.pagerank.preloop_s" -> preloop(c1, end1, r1.history),
        "iterate.resume_s" -> preloop(c2, end2, r2.history),
        "iterate.checkpoint.snapshots" -> snaps.toDouble,
        "iterate.checkpoint.mb" -> Workload.dirBytes(ck.toPath) / 1e6,
        "algo.pagerank.eps_per_iter" -> oracle.size.toDouble * iters / prS)
    }
    PassOut(() => checks(), () => iterate())
  }
}

/** Connected components, PLP and triangle counting over a prebuilt seeded
  * power-law edge table: loops in memory with no snapshots, plus one
  * one-shot AQE self-join.
  */
final class GraphAlgos(spark: SparkSession, seed: Long, dir: File)
    extends Workload(spark, seed, dir) {
  val size = 20000
  val plpSweeps = 2
  private var edges: DataFrame = _
  private var g: EdgeArrays = _
  private var nodeIds: Array[Int] = _
  private var refComponents: Array[Int] = _
  private var refTriangles = 0L
  /** PLP's (label checksum, sweeps) from the first pass of the run. */
  private var plpRef: Option[(Long, Int)] = None

  def prepare(): Unit =
    edges = pinned(PageGen.edges(spark, size.toLong, seed, numPartitions = parts))

  def prepareOracle(): Unit = {
    g = Oracles.linkGraph(seed, size)
    val seen = new Array[Boolean](size)
    for (e <- 0 until g.size) { seen(g.src(e)) = true; seen(g.dst(e)) = true }
    nodeIds = (0 until size).filter(seen(_)).toArray
    refComponents = Oracles.components(g, nodeIds)
    refTriangles = Oracles.triangles(g)
  }

  def sizeInfo: Map[String, Double] =
    Map("nodes" -> nodeIds.length.toDouble, "edges" -> g.weight.sum,
      "components" -> (if (refComponents.isEmpty) 0.0 else refComponents.max + 1.0),
      "triangles" -> refTriangles.toDouble)

  def pass(t: Tracer, k: Int): PassOut = {
    val cc = t.span("algo.cc") {
      val c = ConnectedComponents.run(spark, edges).persist()
      t.addRows("algo.cc", c.count())
      c
    }
    val plp = t.span("algo.plp") {
      PLP.run(spark, edges, cfg = PLP.Config(maxIter = plpSweeps))
    }
    val tri = t.span("algo.triangles") {
      val n = Triangles.globalCount(spark, edges)
      t.addRows("algo.triangles", n)
      n
    }

    def checks(): Seq[(String, Boolean)] = {
      val comp = cc.select("id", "component").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val ccOk = comp.length == nodeIds.length && comp.indices.forall { i =>
        comp(i)._1 == nodeIds(i) && comp(i)._2 == refComponents(i)
      }
      val labels = plp.labels.select("id", "label").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      t.addRows("algo.plp", labels.length)
      val sum = labels.foldLeft(0L) { case (acc, (id, l)) =>
        acc + PageGen.mix64(id * 0x9e3779b97f4a7c15L ^ l)
      }
      val labelsValid = labels.length == nodeIds.length &&
        labels.indices.forall(i => labels(i)._1 == nodeIds(i)) &&
        labels.forall { case (_, l) => l >= 0 && l < size }
      if (plpRef.isEmpty) plpRef = Some((sum, plp.iterations))
      Seq(
        "cc.union_find_exact" -> ccOk,
        "plp.labels_valid" -> labelsValid,
        "plp.stable_checksum_and_sweeps" -> plpRef.contains((sum, plp.iterations)),
        "triangles.exact" -> (tri == refTriangles))
    }

    def iterate(): Map[String, Double] = {
      val walls = plp.history.map(_.wallMs.toDouble)
      Map(
        "iterate.plp.iterations" -> plp.iterations.toDouble,
        "iterate.plp.iter_ms_p50" -> Workload.median(walls))
    }
    PassOut(() => checks(), () => iterate())
  }
}
