package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{GraphOps, Materialize}
import graft.iterate.FrontierLoop

/** Maximum s-t flow (`flow/EdmondsKarp.cpp` capability — SURVEY.md §2.8).
  *
  * The reference's Edmonds-Karp is inherently sequential: one augmenting
  * BFS at a time, each path update touching O(path) cells. The Spark-
  * native reformulation is synchronous PUSH-RELABEL (Goldberg-Tarjan):
  * per round, every overflowing node either pushes its excess along
  * admissible residual arcs (h(u) = h(v)+1) or relabels to
  * 1 + min height of its residual neighbors — all nodes at once, as three
  * joins/aggregations over a residual-arc table and a node-state table.
  * Round-synchronous heights make simultaneous opposite pushes on one
  * edge impossible (h(u)=h(v)+1 and h(v)=h(u)+1 cannot both hold), so
  * the parallel schedule needs no locking — the classic parallel variant
  * of the algorithm. Max-flow VALUE and min-cut side match Edmonds-Karp
  * exactly (both compute the optimum; only the flow decomposition can
  * differ, as it already does between reference runs with different BFS
  * tie-breaks).
  *
  * Scale shape: state is one arc table (2m rows) + one node table,
  * both hash-partitioned; each round is a bounded number of shuffles.
  * The per-node prefix-sum window in the push step only runs for nodes
  * whose admissible capacity exceeds their excess (the saturating
  * common case is a plain filter), so hub-width windows are rare.
  */
object Flow {

  /** @return (flowValue, per-arc flow table (src,dst,flow), source-side
    *          min-cut node set)
    */
  case class Result(flowValue: Double, arcFlows: DataFrame,
                    sourceSide: DataFrame, rounds: Int)

  /** Max flow from `source` to `sink` on the undirected weighted graph
    * (capacity = weight in both directions, the reference's undirected
    * semantics). Fails loudly at `maxRounds` rather than returning a
    * non-optimal flow.
    */
  def maxFlow(spark: SparkSession, edges: DataFrame, source: Long,
              sink: Long, maxRounds: Int = 10000): Result = {
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val canon = GraphOps.canonicalize(edges.where(col("src") =!= col("dst")))
    // residual arcs both ways; cap(u,v) = cap(v,u) = w for undirected
    val initArcs = GraphOps.symmetrize(canon)
      .select(col("src").as("u"), col("dst").as("v"),
        col("weight").as("res"))
    val nodes = GraphOps.nodes(canon).select(col("id"))
    val n = nodes.count()

    // saturate every arc out of the source; height(source) = n
    var arcs = initArcs
      .withColumn("res",
        when(col("u") === source, lit(0.0))
          .when(col("v") === source, col("res") * 2) // reverse gains cap
          .otherwise(col("res")))
      .repartition(parts, col("u"))
      .transform(Materialize.checkpoint)
    var state = nodes
      .join(initArcs.where(col("u") === source)
        .select(col("v").as("id"), col("res").as("exc0")), Seq("id"), "left")
      .select(col("id"),
        when(col("id") === source, lit(n)).otherwise(lit(0L)).as("h"),
        when(col("id") === source, lit(0.0))
          .otherwise(coalesce(col("exc0"), lit(0.0))).as("excess"))
      .repartition(parts, col("id"))
      .transform(Materialize.checkpoint)

    // overflowing nodes other than the terminals
    def active(st: DataFrame): DataFrame = st.where(col("excess") > 1e-12 &&
      col("id") =!= source && col("id") =!= sink)
    var round = 0
    var activeCount = active(state).count()
    while (activeCount > 0) {
      round += 1
      require(round <= maxRounds,
        s"Flow.maxFlow: not converged after $maxRounds rounds")
      val act = active(state)
        .select(col("id").as("u"), col("h").as("hu"), col("excess"))
      // residual out-arcs of active nodes, with the head's height
      val outArcs = arcs.where(col("res") > 0)
        .join(act, "u")
        .join(state.select(col("id").as("v"), col("h").as("hv")), "v")
        .transform(Materialize.checkpoint)
      val adm = outArcs.where(col("hu") === col("hv") + 1)
      // per-node admissible capacity decides saturating vs partial push
      // (excess is constant per u in adm, so first() just carries it)
      val totals = adm.groupBy("u")
        .agg(sum("res").as("tot"), first("excess").as("exc"))
      val full = adm.join(totals.where(col("tot") <= col("exc"))
        .select("u"), "u")
        .select(col("u"), col("v"), col("res").as("push"))
      val partialW = Window.partitionBy("u").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
      val partial = adm.join(totals.where(col("tot") > col("exc"))
        .select("u"), "u")
        .withColumn("before", coalesce(sum("res").over(partialW), lit(0.0)))
        .where(col("before") < col("excess"))
        .select(col("u"), col("v"),
          least(col("res"), col("excess") - col("before")).as("push"))
      val pushes = full.unionByName(partial)
        .transform(Materialize.checkpoint)
      // relabel nodes with excess but no admissible arc: h = 1 + min hv
      val relabel = outArcs.groupBy("u")
        .agg(min(when(col("hu") === col("hv") + 1, lit(0L))).as("any"),
          (min("hv") + 1).as("newh"))
        .where(col("any").isNull)
        .select(col("u").as("id"), col("newh"))
      // apply pushes to residuals (forward −, reverse +)
      val deltas = pushes.select(col("u"), col("v"), (-col("push")).as("d"))
        .unionByName(pushes.select(col("v").as("u"), col("u").as("v"),
          col("push").as("d")))
        .groupBy("u", "v").agg(sum("d").as("d"))
      val newArcs = arcs.join(deltas, Seq("u", "v"), "left")
        .select(col("u"), col("v"),
          (col("res") + coalesce(col("d"), lit(0.0))).as("res"))
        .transform(Materialize.checkpoint)
      // apply excess deltas and relabels
      val excDelta = pushes.select(col("u").as("id"), (-col("push")).as("d"))
        .unionByName(pushes.select(col("v").as("id"), col("push").as("d")))
        .groupBy("id").agg(sum("d").as("d"))
      val newState = state
        .join(excDelta, Seq("id"), "left")
        .join(relabel, Seq("id"), "left")
        .select(col("id"), coalesce(col("newh"), col("h")).as("h"),
          (col("excess") + coalesce(col("d"), lit(0.0))).as("excess"))
        .transform(Materialize.checkpoint)
      Materialize.free(arcs); Materialize.free(state)
      Materialize.free(outArcs); Materialize.free(pushes)
      arcs = newArcs
      state = newState
      activeCount = active(state).count()
    }

    val flowValue = state.where(col("id") === sink)
      .agg(sum("excess")).head().getDouble(0)
    // per-arc net flow = cap − res on the forward residual view, positive
    // direction only
    val flows = initArcs.withColumnRenamed("res", "cap")
      .join(arcs, Seq("u", "v"))
      .select(col("u").as("src"), col("v").as("dst"),
        (col("cap") - col("res")).as("flow"))
      .where(col("flow") > 1e-12)
    // source-side min cut: nodes reachable from source via res > 0
    val side = FrontierLoop.run(state.select(col("id"))
        .where(col("id") === source), Seq("id"), Int.MaxValue) {
      (frontier, _) =>
        arcs.where(col("res") > 1e-12)
          .join(frontier.select(col("id").as("u")), "u")
          .select(col("v").as("id")).distinct()
    }
    Result(flowValue, flows, side.all, round)
  }
}
