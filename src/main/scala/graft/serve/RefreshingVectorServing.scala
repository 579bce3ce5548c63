package graft.serve

import org.apache.spark.sql.DataFrame

import graft.index.VectorIndex
import graft.operators.MergeApply

/** The serving-tier WRITE path: a [[LocalVectorServing]] snapshot
  * maintained by the s_merge CDC upsert stream. It owns the maintained
  * index table, applies each CDC micro-batch with
  * [[MergeApply.applyChanges]] (the one-change-per-key contract of
  * q_merge / the s_merge sink) and atomically swaps in a fresh snapshot,
  * so readers see the pre-batch or the post-batch index, never a torn
  * one.
  *
  * Each apply rebuilds the SHARD's snapshot (a count guard and one
  * collect, `maxLocalItems` applying); at 100 TB a deployment runs one
  * refresher per shard, so rebuild work is O(shard), never O(corpus).
  * The table's lineage is truncated per apply (localCheckpoint), as in
  * the s_merge sink, so a long-running stream cannot grow the plan.
  *
  * Wire it as the foreachBatch target of a changelog stream:
  * {{{
  * changes.writeStream.foreachBatch { (b, _) => serving.applyChanges(b) }
  * }}}
  */
final class RefreshingVectorServing(
    initial: DataFrame,
    idCol: String,
    vecCol: String,
    maxLocalItems: Int = LocalVectorServing.DefaultMaxLocalItems) {

  // the maintained table (full rows incl. metadata, NO norm column —
  // norms are VectorIndex.build's job so CDC payloads stay raw)
  @volatile private var table: DataFrame = initial.localCheckpoint()

  @volatile private var snap: LocalVectorServing = rebuild()

  /** Applies since construction — observability for specs/telemetry. */
  @volatile private var applied0: Long = 0L
  def appliedBatches: Long = applied0

  private def rebuild(): LocalVectorServing =
    LocalVectorServing.load(VectorIndex.build(table, idCol, vecCol), maxLocalItems)

  /** Apply one CDC micro-batch (changelog contract: full new row +
    * op ∈ {u, i, d}) and publish the refreshed snapshot. Synchronized:
    * applies are ordered; reads never block.
    */
  def applyChanges(batch: DataFrame, opCol: String = "op"): Unit = synchronized {
    table = MergeApply.applyChanges(table, batch, idCol, opCol)
      .drop("status").localCheckpoint()
    snap = rebuild()
    applied0 += 1
  }

  /** The current snapshot — queries on it are zero-job in-process
    * scans, identical semantics to [[LocalVectorServing]].
    */
  def serving: LocalVectorServing = snap

  /** The maintained table as of the last apply (for cold-rebuild
    * equivalence checks and for persisting the shard).
    */
  def currentTable: DataFrame = table
}
