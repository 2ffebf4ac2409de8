package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.functions
import graft.core.{DenseId, GraphOps, Materialize}
import graft.iterate.FrontierLoop

/** Strongly connected components of a DIRECTED graph — the capability of the
  * reference's `components/StronglyConnectedComponents.cpp:25-178` (Tarjan,
  * inherently sequential DFS) re-expressed as the distributed
  * trim + forward-max-coloring + backward-reach algorithm (Orzan's coloring
  * / FW-BW family — the standard dataflow SCC):
  *
  *  0. **Giant-SCC pivot pre-pass** (FW-BW — Fleischer/Hendrickson/Pinar):
  *     two plain BFS passes from a max-`least(outd,ind)` pivot extract
  *     SCC(pivot) = BW∩FW before any coloring. On bow-tie web graphs this
  *     removes the dominant giant SCC touching each node once per pass,
  *     and the subsequent trim consumes the remaining pure-DAG tendrils —
  *     steps 1-4 then only ever see small multi-SCC remainders.
  *  1. **Trim**: a node with no remaining in-edges or no remaining
  *     out-edges is its own SCC (repeat to a fixpoint — this alone consumes
  *     the DAG-like fringe of web graphs).
  *  2. **Color**: propagate `color(v) = max(color(v), max over in-edges
  *     color(u))` to a fixpoint (hash-max with an active frontier, the same
  *     shape as hash-min connected components) — color(v) = the largest id
  *     that reaches v.
  *  3. **Extract**: for every root r (color(r) = r), the SCC of r is
  *     `{v : color(v) = r and v reaches r}`; find it by backward BFS from
  *     all roots simultaneously over reversed edges restricted to equal
  *     color. All roots' SCCs extract in parallel in one frontier loop.
  *  4. Remove extracted SCCs; repeat.
  *
  * Output `(id, component)` with components densely numbered by ascending
  * minimum member id (the same renumbering convention as
  * [[ConnectedComponents]] — Tarjan's discovery order is a sequential
  * artifact; min-id order is deterministic and engine-independent).
  *
  * Scale shape: every step is a frontier join + aggregation over the live
  * edge set; the live set shrinks monotonically, and on web-ish graphs the
  * trim pass plus the giant-SCC extraction remove almost everything in the
  * first outer round.
  */
object StronglyConnectedComponents {

  /** Phase timing to stderr when SPARK_GRAFT_SCC_VERBOSE is set. */
  private val verbose = sys.env.contains("SPARK_GRAFT_SCC_VERBOSE")
  private def phase[T](name: String)(f: => T): T =
    if (!verbose) f
    else {
      val t0 = System.nanoTime()
      val r = f
      System.err.println(f"[scc] $name%-24s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

  def run(spark: SparkSession, edges: DataFrame, maxOuter: Int = 200): DataFrame = {
    // The edge set is cached ONCE (each side partitioned on its join key)
    // and never rewritten; liveness lives in the node-sized (id,outd,ind)
    // table, maintained by decrements: when a node is removed, each of its
    // edges decrements the surviving endpoint's counter — exactly once,
    // because the semi-join is against THIS round's removals only, and an
    // endpoint removed earlier has no row left in `deg` to decrement. The
    // previous shape recomputed src/dst distincts and re-checkpointed the
    // full edge set every trim round: O(m) rewritten per round dominated on
    // DAG-ish web fringes with deep peel chains.
    val e0 = edges.select("src", "dst")
      .where(col("src") =!= col("dst")).distinct()
    // sorted within partitions: InMemoryRelation preserves outputOrdering,
    // so every per-round sort-merge join keyed on the cache's own key reads
    // it pre-sorted (one O(m log m) at build instead of per round), and the
    // pivot-fw BFS can take eBySrc as a prebuilt adjacency outright.
    val eBySrc = e0.repartition(col("src")).sortWithinPartitions("src")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val eByDst = e0.repartition(col("dst")).sortWithinPartitions("dst")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val outd0 = eBySrc.groupBy(col("src").as("id")).agg(functions.count(lit(1)).as("outd"))
    val ind0 = eByDst.groupBy(col("dst").as("id")).agg(functions.count(lit(1)).as("ind"))
    var deg = outd0.join(ind0, Seq("id"), "full")
      .select(col("id"), coalesce(col("outd"), lit(0L)).as("outd"),
        coalesce(col("ind"), lit(0L)).as("ind"))
      .transform(Materialize.checkpoint)

    // removed: (id) — drop the rows and decrement surviving neighbors
    def removeNodes(removed: DataFrame): Unit = {
      val lossOut = eByDst
        .join(removed.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
        .groupBy(col("src").as("id")).agg(functions.count(lit(1)).as("lo"))
      val lossIn = eBySrc
        .join(removed.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
        .groupBy(col("dst").as("id")).agg(functions.count(lit(1)).as("li"))
      val next = deg.join(removed, Seq("id"), "left_anti")
        .join(lossOut, Seq("id"), "left")
        .join(lossIn, Seq("id"), "left")
        .select(col("id"),
          (col("outd") - coalesce(col("lo"), lit(0L))).as("outd"),
          (col("ind") - coalesce(col("li"), lit(0L))).as("ind"))
        .transform(Materialize.checkpoint)
      Materialize.free(deg)
      deg = next
    }

    val found = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var outer = 0
    var remaining = deg.count()

    // ---- 0. giant-SCC pre-pass: FW-BW from a pivot (the FW-BW-Trim
    // family — Fleischer/Hendrickson/Pinar; Hong et al.; Slota et al.).
    // On bow-tie web graphs one giant SCC dominates; two plain BFS passes
    // find it touching each reached node once per pass, where max-coloring
    // floods interim colors through the giant component (14 edge sweeps +
    // 37 pointer jumps on the 2M-node bench graph) before reach even
    // starts. The pre-pass needs no liveness bookkeeping: SCC(pivot) is a
    // property of the full graph, and confining the backward pass to the
    // forward set preserves every backward path between SCC members (each
    // node of any v→pivot path is itself pivot-reachable via v), so
    // BW∩FW = SCC(pivot) exactly. Pivot choice is a heuristic only for
    // SPEED, never correctness: max least(outd, ind) — a nontrivial SCC
    // needs both sides, so pure sinks/sources (which a raw max-degree
    // pick lands on in web graphs) are excluded; if the pivot still lands
    // outside the giant SCC the pre-pass extracts its (small) SCC
    // correctly and the coloring rounds below absorb the rest unchanged.
    // Extracting the giant first also turns round 1's trim loose on the
    // carcass: IN/OUT tendrils become pure DAG and peel away entirely.
    if (remaining > 0) {
      val pivot = deg
        .orderBy(least(col("outd"), col("ind")).desc,
          (col("outd") + col("ind")).desc, col("id").asc)
        .limit(1).select("id")
      val fw = phase("pivot-fw") {
        // eBySrc IS the traversal cache (src-partitioned, sorted,
        // persisted) — prebuiltAdj skips bfs's redundant reshuffle + copy
        SSSP.bfs(spark, eBySrc, pivot, directed = true, prebuiltAdj = true)
          .select("id").transform(Materialize.checkpoint)
      }
      val bwEdges = eBySrc
        .join(fw.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
        .join(fw.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
        .select(col("dst").as("src"), col("src").as("dst"))
      val scc = phase("pivot-bw") {
        SSSP.bfs(spark, bwEdges, pivot, directed = true)
          .select("id").transform(Materialize.checkpoint)
      }
      val pivotId = pivot.head().get(0) // before removeNodes frees deg
      val size = scc.count()
      if (verbose) System.err.println(
        s"[scc] pivot=$pivotId fw=${fw.count()} scc=$size")
      found += scc.select(col("id"), lit(pivotId).as("root"))
      removeNodes(scc)
      remaining -= size
      Materialize.free(fw)
    }

    while (remaining > 0 && outer < maxOuter) {
      outer += 1
      // ---- 1. trim fixpoint (node-sized jobs only) ---------------------
      var trimmed = true
      var trimRounds = 0
      phase(s"trim(outer=$outer)") { while (trimmed && remaining > 0) {
        trimRounds += 1
        val trivial = deg.where(col("outd") === 0 || col("ind") === 0)
          .select("id").transform(Materialize.checkpoint)
        val nTrivial = trivial.count()
        if (nTrivial == 0) trimmed = false
        else {
          found += trivial.select(col("id"), col("id").as("root"))
          removeNodes(trivial)
          remaining -= nTrivial
        }
      } }
      if (verbose) System.err.println(s"[scc] trim rounds=$trimRounds remaining=$remaining")
      if (remaining > 0) {
        // live edge view for this outer round: both endpoints still present
        val liveNodes = deg.select("id")
        val live = eBySrc
          .join(liveNodes.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
          .join(liveNodes.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
          .transform(Materialize.checkpoint)
        // ---- 2. forward max-coloring to fixpoint -------------------------
        // the live edge set is loop-invariant here: partition it by src once
        // so each propagation sweep shuffles only the node-sized frontier
        // sortWithinPartitions: InMemoryRelation preserves outputOrdering,
        // so sort-merge propagation joins skip re-sorting the edge side
        // every sweep (SCC keeps SMJ — hints measured worse here)
        val liveP = live.repartition(col("src")).sortWithinPartitions("src")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        var colors = liveNodes.select(col("id"), col("id").as("color"),
          lit(true).as("changed")).transform(Materialize.checkpoint)
        var changed = 1L
        var sweeps = 0
        var jumps = 0
        phase(s"color(outer=$outer)") { while (changed > 0) {
          sweeps += 1
          val frontier = colors.where(col("changed"))
            .select(col("id").as("src"), col("color"))
          val prop = liveP.join(frontier, "src")
            .groupBy(col("dst").as("id"))
            .agg(max("color").as("prop"))
          colors = colors.select("id", "color").join(prop, Seq("id"), "left")
            .select(col("id"),
              greatest(col("color"), coalesce(col("prop"), col("color"))).as("color"),
              (col("prop").isNotNull && col("prop") > col("color")).as("changed"))
            .transform(Materialize.checkpoint)
          changed = colors.where(col("changed")).count()
          // pointer-jump acceleration: color(v)=u means u reaches v, and
          // color(u)=w means w reaches u, so w reaches v — take
          // color ← max(color, color(color)) to a fixpoint. Propagation
          // distance doubles per jump, so path-shaped regions converge in
          // O(log diameter) edge sweeps instead of O(diameter). Sound to
          // stop on edge-sweep fixpoint: there, color(v) ≥ color(color(v))
          // already holds (colors are ≥ own id and monotone along edges).
          var jumped = if (changed > 0) 1L else 0L
          while (jumped > 0) {
            jumps += 1
            val parents = colors
              .select(col("id").as("color"), col("color").as("pcolor"))
            val nxt = colors.join(parents, Seq("color"), "left")
              .select(col("id"), col("changed"), col("color"),
                greatest(col("color"), coalesce(col("pcolor"), col("color")))
                  .as("color2"))
              .select(col("id"), col("color2").as("color"),
                (col("changed") || col("color2") =!= col("color")).as("changed"),
                (col("color2") =!= col("color")).as("moved"))
              .transform(Materialize.checkpoint)
            jumped = nxt.where(col("moved")).count()
            colors = nxt.select("id", "color", "changed")
          }
        } }
        if (verbose) System.err.println(s"[scc] color sweeps=$sweeps jumps=$jumps")
        liveP.unpersist(blocking = false)
        val colorOf = colors.select("id", "color")
        // ---- 3. backward reach from all roots within equal color --------
        val roots = colorOf.where(col("id") === col("color")).select(col("id"))
        val rev = live // traverse dst -> src
          .join(colorOf.withColumnRenamed("id", "src")
            .withColumnRenamed("color", "csrc"), "src")
          .join(colorOf.withColumnRenamed("id", "dst")
            .withColumnRenamed("color", "cdst"), "dst")
          .where(col("csrc") === col("cdst"))
          .select(col("dst").as("from"), col("src").as("to"))
          .repartition(col("from")) // loop-invariant: partition on join key
          .transform(Materialize.checkpoint)
        // backward reach on the shared frontier loop. The frontier carries
        // only `id`: within an equal-color class a visited node's root IS
        // its color (roots satisfy color(r) = r and `rev` is
        // color-confined), so the per-level distinct is over one column and
        // the root attaches once at the end from `colorOf`.
        val reach = phase(s"reach(outer=$outer)") {
          FrontierLoop.run(roots, Seq("id"), Int.MaxValue) { (frontier, _) =>
            rev.join(frontier.select(col("id").as("from")), "from")
              .select(col("to").as("id")).distinct()
          }
        }
        if (verbose) System.err.println(
          s"[scc] reach depth=${reach.depth} found=${reach.reached}")
        // a node reaching multiple roots is impossible within equal color:
        // its color equals the single largest root reaching it
        val visited = reach.all
          .join(colorOf, "id")
          .select(col("id"), col("color").as("root"))
          .transform(Materialize.checkpoint)
        reach.free()
        found += visited
        removeNodes(visited.select("id"))
        remaining -= reach.reached
      }
    }
    eBySrc.unpersist(blocking = false)
    eByDst.unpersist(blocking = false)
    require(remaining == 0, s"SCC: $remaining nodes left after $maxOuter outer rounds")

    val membership = found.reduce(_ unionByName _)
    // dense renumber by ascending min member id
    val minIds = membership.groupBy("root").agg(min("id").as("min_id"))
    val numbered = DenseId.assign(minIds.select("root", "min_id"), "component",
      Seq("min_id"))
    membership.join(numbered.select("root", "component"), "root")
      .select("id", "component")
  }

  def count(spark: SparkSession, edges: DataFrame): Long =
    run(spark, edges).select("component").distinct().count()
}
