package graft.iterate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.core.Materialize

/** What a [[FrontierLoop]] traversal reached: its checkpointed levels (the
  * compacted prefix plus at most `CompactEvery` recent levels, owned by the
  * caller), the rows they hold, and the deepest non-empty level (0 = the
  * seeds only).
  */
final case class Reach(leaves: Seq[DataFrame], reached: Long, depth: Int) {
  def all: DataFrame = leaves.reduce(_ unionByName _)
  def free(): Unit = leaves.foreach(Materialize.free)
}

/** The level-synchronous traversal loop (the reference's `Graph::BFSfrom`,
  * `Graph.h:1078-1093`) of multi-source BFS, SCC's backward reach,
  * Brandes' σ-BFS and the source side of a minimum cut. `IterationDriver`
  * runs fixpoints that rewrite a whole state; this loop runs traversals
  * that only add their newest level.
  *
  * Frontier-accumulating: only the CURRENT level materializes per sweep;
  * settled levels stay as already-checkpointed leaves and the visited set
  * used by the dedup anti-join is their plain union. The alternative —
  * carrying one (key, value, frontier) state table and rewriting it every
  * level — re-materializes O(reached) rows × O(depth) times, which
  * dominated multi-source runs (diameter fringe batches). The leaf list is
  * COMPACTED into one checkpointed `settled` table every `CompactEvery`
  * levels: web-diameter runs (~20 levels) behave as before, while
  * high-diameter graphs (chains, meshes) keep the per-level union plan at
  * ≤ CompactEvery+1 leaves instead of O(depth) — the amortized rewrite is
  * O(reached/CompactEvery) rows per level. Per level that is one checkpoint
  * and one count, plus the compaction's checkpoint every `CompactEvery`.
  */
object FrontierLoop {

  val CompactEvery: Int = 8

  /** Traverse from `seeds` until a level adds no row or `maxDepth` levels
    * ran. `expand(frontier, depth)` returns level `depth`'s candidate rows,
    * one per `keys` value and with the seeds' columns; a candidate whose
    * keys an earlier level holds is dropped.
    */
  def run(seeds: DataFrame, keys: Seq[String], maxDepth: Int)(
      expand: (DataFrame, Int) => DataFrame): Reach = {
    var frontier = seeds.transform(Materialize.checkpoint)
    var settled = frontier // compacted prefix of finished levels
    val recent = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // the live frontier at compaction time: its DATA is merged into
    // `settled`, but the next level's expansion join still reads the old
    // checkpoint — freeing it there races the join (observed
    // CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND), so the free is deferred until the
    // next frontier has materialized
    var pendingFree: Option[DataFrame] = None
    var fSize = frontier.count()
    var reached = fSize
    var depth = 0
    var deepest = 0
    while (fSize > 0 && depth < maxDepth) {
      depth += 1
      val visited = (settled +: recent.toSeq)
        .map(_.select(keys.map(col): _*)).reduce(_ unionByName _)
      frontier = expand(frontier, depth).join(visited, keys, "left_anti")
        .transform(Materialize.checkpoint)
      fSize = frontier.count()
      pendingFree.foreach(Materialize.free)
      pendingFree = None
      if (fSize > 0) { recent += frontier; reached += fSize; deepest = depth }
      else Materialize.free(frontier)
      if (recent.length >= CompactEvery) {
        val newSettled = (settled +: recent.toSeq).reduce(_ unionByName _)
          .transform(Materialize.checkpoint)
        Materialize.free(settled)
        recent.dropRight(1).foreach(Materialize.free)
        pendingFree = Some(recent.last)
        recent.clear()
        settled = newSettled
      }
    }
    pendingFree.foreach(Materialize.free)
    Reach(settled +: recent.toSeq, reached, deepest)
  }
}
