package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.LogicalRDD

/** Re-issues a materialized checkpoint leaf with measured statistics.
  * A `localCheckpoint` leaf reports its origin plan's estimate (a
  * 1,000-row aggregate over 2 M rows reads as the 2 M-row input), so
  * the planner never broadcasts a small memo. Lives in this package
  * because `Dataset.ofRows` and the block manager master are
  * package-private. */
object MeasuredLeaf {
  /** `df` (a checkpoint leaf whose blocks are stored) with `rows` as
    * its `rowCount` and the bytes of its stored blocks, memory plus
    * disk, as its `sizeInBytes`, capped at the origin estimate.
    *
    * The cap keeps the leaf on the scale of every other estimate the
    * planner compares: file scans report compressed file bytes, while
    * deserialized blocks run several times larger (the sf0.01 CDC
    * envelope stores 54.4 MiB against a 3.1 MiB estimate). Uncapped,
    * every per-table slice of that envelope would read as 54 MiB and
    * its fact-to-fact joins would stop broadcasting at sizes the
    * planner broadcasts from files. A memo smaller than its estimate,
    * the case the hints compensated, reports its block bytes. */
  def apply(df: DataFrame, rows: Long): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val leaf = ds.logicalPlan.asInstanceOf[LogicalRDD]
    val bytes = ds.sparkSession.sparkContext.env.blockManager.master.getStorageStatus
      .iterator.flatMap(_.rddBlocks).filter(_._1.asRDDId.exists(_.rddId == leaf.rdd.id))
      .map { case (_, s) => s.memSize + s.diskSize }.sum
    val size = (BigInt(bytes) min leaf.stats.sizeInBytes) max BigInt(1)
    val stats = Statistics(sizeInBytes = size, rowCount = Some(BigInt(rows)))
    classic.Dataset.ofRows(ds.sparkSession,
      leaf.copy()(ds.sparkSession, Some(stats), Some(leaf.constraints)))
  }
}
