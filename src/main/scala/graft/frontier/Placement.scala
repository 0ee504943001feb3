package graft.frontier

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.shim.capStats
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

/** Where a crawl keeps its state: the one deployment decision the round
  * loop depends on, derived once per crawl from the session's master.
  *
  * Local: every lineage cut is a `localCheckpoint` leaf in the block
  * manager, and a round's durable write + manifest commit overlap the
  * next round, whose state points at the in-memory leaves (nothing reads
  * a round's parquet while its write is in flight).
  *
  * Cluster: block-manager blocks die with a lost executor, so lineage the
  * crawl cannot recompute is reliably checkpointed into the snapshot
  * store's filesystem, world tables are persisted (their lineage survives
  * executor loss), and each round's write is awaited so the next round
  * re-reads the committed parquet — durable recovery never depends on
  * executor-local blocks. The analysis cost the local leaves save is a
  * driver constant that a long cluster round amortizes.
  *
  * Every leaf is capStats'd: a leaf inherits its truncated plan's
  * statistics, and in a loop whose round k+1 joins build on round k's
  * leaves `sizeInBytes` compounds multiplicatively until Catalyst's stats
  * visitor OOMs the driver on many-round worlds.
  */
private[frontier] final case class Placement(local: Boolean) {

  /** Round-invariant world tables. The local leaf keeps the repartition/
    * sort layout (LogicalRDD captures the physical partitioning and
    * ordering), so per-round sort-merge joins stay Exchange-free, and the
    * analyzer's full-tree rules stop re-walking the world-prep subtree on
    * every Dataset op of every round (DeduplicateRelations was 41% of rule
    * time on a tiny crawl; 300k docs at local[32]: 36.5-41.5 s with leaves
    * vs 40.7-47.4 s persisted).
    */
  def pinWorld(df: DataFrame): DataFrame =
    if (local) capStats(df.localCheckpoint()) else df.persist(MEMORY_AND_DISK)

  /** A lineage cut the crawl cannot recompute once its inputs are gone
    * (a round's f5c, compacted state): a local leaf (lazy or eager), or
    * an eager reliable checkpoint — a lazy one would recompute the
    * pipeline a second time to write the checkpoint files.
    */
  def cut(df: DataFrame, eager: Boolean): DataFrame =
    capStats(if (local) df.localCheckpoint(eager) else df.checkpoint())

  /** A recomputable subtree referenced several times within one round or
    * by the next (won/based, next-round state deltas): a lazy local leaf
    * (materialized by the job that first needs it, compute-once under
    * block locks), kept as a plan on a cluster, where a reliable cut
    * would be one more distributed write per round.
    */
  def leafLocal(df: DataFrame): DataFrame =
    if (local) capStats(df.localCheckpoint(eager = false)) else df
}

private[frontier] object Placement {
  def of(spark: SparkSession): Placement = Placement(spark.sparkContext.isLocal)
}
