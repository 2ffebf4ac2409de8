package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one sanctioned way to materialize iteration state: eager
  * localCheckpoint (flat `LogicalRDD` plan, data pinned in the block
  * manager) + origin-stats strip (see
  * `org.apache.spark.sql.graftshim.StatsReset` — without the strip,
  * per-iteration size statistics compound multiplicatively and join
  * planning cost explodes after a few iterations).
  */
object Materialize {

  def checkpoint(df: DataFrame): DataFrame =
    org.apache.spark.sql.graftshim.StatsReset.stripOriginStats(
      df, df.localCheckpoint(true))

  /** Lazy variant: truncates the logical plan to a flat `LogicalRDD` NOW
    * (so composing k hops inside one job keeps per-hop planning O(1)
    * instead of doubling the tree per hop) but runs no job — the RDD
    * materializes, caches, and drops its lineage when the first downstream
    * action touches it. Use for intermediate states inside a multi-hop
    * unrolled job; `free` it once the enclosing job has completed.
    */
  def checkpointLazy(df: DataFrame): DataFrame =
    org.apache.spark.sql.graftshim.StatsReset.stripOriginStats(
      df, df.localCheckpoint(false))

  /** Persist a loop-invariant table and materialize it now, planned with
    * AQE off like the loops that read it. A cache planned adaptively
    * reports `UnknownPartitioning`, so a loop joining it on the key it was
    * partitioned by would re-hash all of it every iteration.
    */
  def cacheForLoop(spark: SparkSession, df: DataFrame): DataFrame =
    Sessions.withoutAqe(spark) {
      val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
      cached.count()
      cached
    }

  /** Eager checkpoint of a loop-invariant table, planned with AQE off like
    * the loops that read it, so it keeps its partitioning. For tables a
    * caller may have persisted under the same plan (`GraphOps.nodes` of the
    * caller's edges): `cacheForLoop` would share the caller's cache entry,
    * with the caller's planning, and unpersisting it would drop the
    * caller's cache; `free` drops only this copy.
    */
  def checkpointForLoop(spark: SparkSession, df: DataFrame): DataFrame =
    Sessions.withoutAqe(spark)(checkpoint(df))

  /** Free the block-manager copy behind a checkpointed DataFrame. */
  def free(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
