package org.apache.spark.sql.graftshim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, AttributeSet, Expression}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection}
import org.apache.spark.sql.classic.{Dataset => CDataset, SparkSession => CSparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Private-API shim (hence the org.apache.spark.sql subpackage — same
  * technique as other Spark extensions; no Spark internals are modified).
  *
  * `Dataset.localCheckpoint(eager = true)` produces a `LogicalRDD` that
  * CARRIES the origin plan's `Statistics`. For iterative dataflows that is
  * poison: the size-only stats estimator multiplies child sizes across
  * joins, each iteration's estimate therefore multiplies the previous
  * iteration's (already inflated) estimate, and after a handful of
  * iterations `sizeInBytes` is a BigInteger millions of bits wide — join
  * planning then spends minutes inside BigInteger.multiply (observed before
  * this fix: a 200-node PLM run stuck >20 min in Toom-Cook multiplication).
  *
  * The fix: rebuild the checkpointed leaf with `originStats = None`, so it
  * falls back to `spark.sql.defaultSizeInBytes` like any opaque relation.
  *
  * The rebuilt leaf also gets back the partitioning `LogicalRDD.fromDataset`
  * drops: it keeps only the first leaf of a `PartitioningCollection`, so a
  * checkpoint of `select(id, id AS label)` over an `id`-partitioned table
  * would report only `hashpartitioning(label)` and every join on `id` would
  * re-hash it.
  */
object StatsReset {

  /** `checkpointed` is `origin.localCheckpoint(_)`. */
  def stripOriginStats(origin: DataFrame, checkpointed: DataFrame): DataFrame =
    checkpointed.queryExecution.logical match {
      case l: LogicalRDD =>
        val session = checkpointed.sparkSession.asInstanceOf[CSparkSession]
        val clean = new LogicalRDD(l.output, l.rdd,
          originPartitioning(origin, l), l.outputOrdering, l.isStreaming,
          l.stream)(session, None, None)
        CDataset.ofRows(session, clean)
      case _ => checkpointed
    }

  /** Every leaf of the origin's executed partitioning that refers only to
    * the checkpoint's columns, when the one `fromDataset` kept is among
    * them; otherwise the kept one alone. The executed plan may name a
    * column by another attribute than the logical output (an alias the
    * optimizer removed), so its attributes are renamed by position.
    */
  private def originPartitioning(origin: DataFrame, l: LogicalRDD): Partitioning = {
    def leaves(p: Partitioning): Seq[Partitioning] = p match {
      case c: PartitioningCollection => c.partitionings.flatMap(leaves)
      case p => Seq(p)
    }
    val plan = origin.queryExecution.executedPlan
    if (plan.output.length != l.output.length) l.outputPartitioning
    else {
      val rename = AttributeMap(plan.output.zip(l.output))
      val cols = AttributeSet(l.output)
      val kept = leaves(plan.outputPartitioning).flatMap {
        case e: Expression =>
          val renamed = e.transformUp { case a: Attribute => rename.getOrElse(a, a) }
          if (renamed.references.subsetOf(cols)) Some(renamed.asInstanceOf[Partitioning])
          else None
        case p => Some(p)
      }.distinct
      if (kept.size > 1 && kept.contains(l.outputPartitioning))
        PartitioningCollection(kept)
      else l.outputPartitioning
    }
  }
}
