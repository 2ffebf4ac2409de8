package graft

import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, MaxBy}
import org.apache.spark.sql.catalyst.plans.physical.ClusteredDistribution
import org.apache.spark.sql.execution.{ColumnarToRowExec, FilterExec, InputAdapter, ProjectExec, QueryExecution, RDDScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Runtime complement of [[PlanGuardSpec]]: the static walk excludes every
  * loop-running query (constructing one executes its convergence loop), so
  * a scale-killer INSIDE an iteration body could hide from it — and the
  * benign bounded global windows (DenseId `_pid` offsets, event timelines)
  * are indistinguishable from a real single-task window in the driver logs.
  * This spec registers a QueryExecutionListener during one bounded run of
  * each iterative operator and asserts over every EXECUTED plan:
  *
  *  - no CartesianProduct / BroadcastNestedLoopJoin whose inputs exceed a
  *    handful of rows (single-row scalar-aggregate combines are sanctioned);
  *  - no partition-less WindowExec above a bounded row count — the
  *    engine's sanctioned global windows all carry ≤ #partitions or
  *    #timestep rows, while a node- or edge-scale single-task window on the
  *    20k-node fixture trips the threshold immediately.
  *
  * A second test watches the bounded PageRank, PLP and CC runs and a
  * kcore run for a loop body that re-hashes its loop-invariant edge cache:
  * a shuffle exchange that reads a cached or checkpointed table through
  * only narrow operators (filter, project, codegen wrappers). Each of the
  * four partitions its edge tables on the loop's join keys once, before
  * the loop, so such an exchange means a table lost its partitioning.
  *
  * The remaining tests pin plan shapes: each PLP sweep runs its label vote
  * once, a checkpoint keeps the partitioning of an aliased key, and
  * PageRank's and DenseId's executed plans keep their exchange counts.
  */
class RuntimePlanGuardSpec extends SparkTestBase {

  private def collectAll(p: SparkPlan): Seq[SparkPlan] = {
    val here = p +: p.children.flatMap(collectAll)
    p match {
      case a: AdaptiveSparkPlanExec => here ++ collectAll(a.executedPlan)
      case _ => here ++ p.subqueries.flatMap(collectAll)
    }
  }

  /** numOutputRows of `p`, falling back down the child chain (WindowExec and
    * SortExec don't publish the metric themselves).
    */
  private def outputRows(p: SparkPlan): Long =
    p.metrics.get("numOutputRows").map(_.value)
      .getOrElse(p.children.headOption.map(outputRows).getOrElse(0L))

  /** The cached or checkpointed table `p` reads through narrow operators
    * only, if any.
    */
  private def narrowCacheScan(p: SparkPlan): Option[SparkPlan] =
    p match {
      case s: InMemoryTableScanExec => Some(s)
      case s: RDDScanExec => Some(s)
      case _: FilterExec | _: ProjectExec | _: WholeStageCodegenExec |
           _: InputAdapter | _: ColumnarToRowExec =>
        narrowCacheScan(p.children.head)
      case _ => None
    }

  /** Every executed plan, with its action's name, of the queries `body` runs. */
  private def executedPlans(body: => Unit): Seq[(String, SparkPlan)] = {
    val plans = scala.collection.mutable.Buffer.empty[(String, SparkPlan)]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        plans.synchronized { plans += funcName -> qe.executedPlan }
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try body
    finally {
      org.apache.spark.graftshim.ListenerDrain.drain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    plans.synchronized(plans.toSeq)
  }

  /** `check` over every node of every executed plan while `body` runs. */
  private def watchPlans(check: (String, SparkPlan) => Option[String])(
      body: => Unit): Seq[String] =
    executedPlans(body).flatMap { case (funcName, plan) =>
      collectAll(plan).flatMap(check(funcName, _))
    }.distinct

  private def fixture(): (DataFrame, DataFrame) = {
    val edges = graft.ingest.PageGen
      .edges(spark, 20000L, seed = 11, numPartitions = 4)
      .persist()
    edges.count()
    val nodes = graft.core.GraphOps.nodes(edges).persist()
    nodes.count()
    (edges, nodes)
  }

  private val maxGlobalWindowRows = 1000L
  private val maxScalarJoinRows = 64L

  test("iterative bodies: no cartesian joins, no unbounded global windows") {
    val (edges, nodes) = fixture()
    val offenders = try watchPlans {
      case (funcName, j: CartesianProductExec)
          if j.children.exists(outputRows(_) > maxScalarJoinRows) =>
        Some(s"CartesianProduct over >$maxScalarJoinRows rows ($funcName)")
      case (funcName, j: BroadcastNestedLoopJoinExec)
          if j.children.exists(outputRows(_) > maxScalarJoinRows) =>
        Some(s"BroadcastNestedLoopJoin over >$maxScalarJoinRows rows ($funcName)")
      case (funcName, w: WindowExec) if w.partitionSpec.isEmpty &&
          outputRows(w) > maxGlobalWindowRows =>
        Some(s"partition-less WindowExec with ${outputRows(w)} rows ($funcName)")
      case _ => None
    } {
      import graft.algo._
      val s = spark
      import s.implicits._
      PageRank.run(spark, edges, nodes, PageRank.Config(tol = 0.0, maxIter = 2))
        .scores.agg(sum("score")).head()
      PLP.run(spark, edges, cfg = PLP.Config(maxIter = 2)).labels.count()
      Centrality.coreDecomposition(spark, edges).agg(max("coreness")).head()
      StronglyConnectedComponents.run(spark, edges, maxOuter = 1).count()
      SSSP.bfs(spark, edges, Seq(0L).toDF("id"), maxDepth = 3).count()
      PLM.run(spark, edges, PLM.Config(maxMovePasses = 2, maxLevels = 1))
        .labels.count()
      // round-4 iterative additions, bounded: UMSF weight-group loop,
      // CG Laplacian solve, push-relabel rounds, kPath walk steps
      val tied = graft.core.GraphOps.canonicalizeUnweighted(
          edges.where(col("src") =!= col("dst")))
        .withColumn("weight",
          pmod(xxhash64(col("src"), col("dst")), lit(3L)).cast("double") + 1)
      SpanningForest.unionMaximumSpanningForest(spark, tied, maxLevels = 8)
        .count()
      Resistance.pairResistance(spark, tied,
        Seq((0L, 1L)).toDF("u", "v"), maxIter = 4).count()
      Flow.maxFlow(spark, edgeDF(Seq((0L, 1L, 2.0), (1L, 2L, 1.0),
        (0L, 3L, 1.0), (3L, 2L, 3.0))), 0L, 2L)
      Centrality.kPath(spark, edges, k = 3, samples = 64).count()
    } finally {
      edges.unpersist(blocking = false)
      nodes.unpersist(blocking = false)
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("loop bodies never re-hash their cached edge tables") {
    val (edges, nodes) = fixture()
    val offenders = try watchPlans {
      case (funcName, x: ShuffleExchangeExec) =>
        narrowCacheScan(x.child).map(scan =>
          s"${x.outputPartitioning} re-hashes cached " +
            s"${scan.output.map(_.name).mkString("[", ",", "]")} ($funcName)")
      case _ => None
    } {
      import graft.algo._
      PageRank.run(spark, edges, nodes, PageRank.Config(tol = 0.0, maxIter = 2))
        .scores.agg(sum("score")).head()
      PLP.run(spark, edges, cfg = PLP.Config(maxIter = 2)).labels.count()
      ConnectedComponents.run(spark, edges).count()
      Centrality.coreDecomposition(spark, edges).count()
    } finally {
      edges.unpersist(blocking = false)
      nodes.unpersist(blocking = false)
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("each PLP sweep's plan runs the label vote once") {
    val (edges, nodes) = fixture()
    def finalMaxBys(plan: SparkPlan): Int = collectAll(plan).count {
      case a: BaseAggregateExec => a.aggregateExpressions.exists(e =>
        e.mode == Final && e.aggregateFunction.isInstanceOf[MaxBy])
      case _ => false
    }
    val perPlan = try executedPlans {
      graft.algo.PLP.run(spark, edges, cfg = graft.algo.PLP.Config(maxIter = 2))
        .labels.count()
    } finally {
      edges.unpersist(blocking = false)
      nodes.unpersist(blocking = false)
    }
    // one plan per sweep holds the vote; the metric and output plans read
    // the checkpointed states
    val votes = perPlan.map { case (_, p) => finalMaxBys(p) }.filter(_ > 0)
    assert(votes == Seq(1, 1), votes)
  }

  test("a checkpoint keeps the partitioning of an aliased key") {
    val ck = graft.core.Sessions.withoutAqe(spark) {
      val byId = spark.range(0L, 1000L).toDF("id").repartition(4, col("id"))
      graft.core.Materialize.checkpoint(
        byId.select(col("id"), col("id").as("label")))
    }
    val plan = graft.core.Sessions.withoutAqe(spark)(ck.queryExecution.executedPlan)
    val Seq(id, label) = plan.output
    for (key <- Seq(id, label))
      assert(plan.outputPartitioning.satisfies(ClusteredDistribution(Seq(key))),
        s"${plan.outputPartitioning} does not cluster by $key")
    graft.core.Materialize.free(ck)
  }

  test("PageRank and DenseId plans keep their exchange counts") {
    val (edges, nodes) = fixture()
    def exchanges(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
      case q: QueryStageExec => exchanges(q.plan)
      case _ =>
        val here = if (p.isInstanceOf[ShuffleExchangeExec]) 1 else 0
        here + (p.children ++ p.subqueries).map(exchanges).sum
    }
    def count(body: => Unit): Int =
      executedPlans(body).map { case (_, p) => exchanges(p) }.sum
    val (pageRank, denseId) = try {
      import graft.algo.PageRank
      (count {
        PageRank.run(spark, edges, nodes, PageRank.Config(tol = 0.0, maxIter = 2))
          .scores.agg(sum("score")).head()
      }, count {
        graft.core.DenseId.assign(nodes, "dense", Seq("id")).count()
      })
    } finally {
      edges.unpersist(blocking = false)
      nodes.unpersist(blocking = false)
    }
    // the counts before checkpoints kept aliased partitionings
    assert((pageRank, denseId) == ((8, 5)))
  }
}
