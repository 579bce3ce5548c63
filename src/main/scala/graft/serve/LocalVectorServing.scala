package graft.serve

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, lit}

import graft.filters.MetaFilter
import graft.index.VectorIndex

/** Driver-side snapshot serving: the reference's own execution model
  * (an in-memory item list queried in-process — local_index.py:18-223)
  * as a serving tier over Spark-built indexes. A serving process loads a
  * bounded SHARD of an index into local memory, where a top-k is
  * arithmetic instead of a scheduled job; `maxLocalItems` enforces the
  * bound loudly — an oversized index belongs on the Spark path
  * (VectorIndex.topItems / ann_brute_batch / s_ann_serve).
  *
  * A snapshot is the index's own prepared top-k over a copy of its rows
  * held on the driver, so every call answers what the index answers:
  * the same rows, order and scores, filter predicate and id comparison.
  */
final class LocalVectorServing private (index: VectorIndex, scan: VectorIndex.PreparedScan,
    val size: Int) {

  /** Top-k cosine over the snapshot: the rows of `index.topItems(query,
    * k, filter)` as (item row, score) pairs, the item row being the index's
    * columns. A null score (a null stored norm, or a null vector over a
    * non-zero denominator; it ranks last) is reported as NaN.
    */
  def queryItems(query: Seq[Double], k: Int,
      filter: Option[MetaFilter] = None): Seq[(Row, Double)] = {
    val hits = scan.best(query, k, filter)
    scan.itemRows(hits.map(_.row)).toSeq.zip(hits.map(h =>
      if (h.rank == VectorIndex.NullRank) Double.NaN else h.score))
  }

  /** The rows of `index.listItemsByMetadata(filter)`, id ascending. */
  def listItemsByMetadata(filter: MetaFilter): Seq[Row] =
    scan.select(filter.toColumn(index.items)).toSeq

  /** Point lookup by id value, compared as `index.getItem(id)` compares it. */
  def getItem(id: Any): Option[Row] =
    scan.select(col(index.idCol) === lit(id)).headOption

  /** Drop the snapshot's rows, not the index's; later calls read the source, one job each. */
  def close(): Unit = scan.release()
}

object LocalVectorServing {

  /** Default shard bound: 1M items × 64 dims × 8 B ≈ 0.5 GB of vectors.
    * Raise it deliberately, never implicitly.
    */
  val DefaultMaxLocalItems: Int = 1 << 20

  /** Snapshot a (bounded) VectorIndex into driver memory. Two driver
    * jobs at load time (count guard + collect), zero jobs per query.
    */
  def load(index: VectorIndex,
      maxLocalItems: Int = DefaultMaxLocalItems): LocalVectorServing = {
    // one job over the planned scan; `count()` plans an aggregate (two jobs under AQE)
    val n = index.items.queryExecution.toRdd.count()
    require(n <= maxLocalItems, s"LocalVectorServing: index has $n items > maxLocalItems=" +
      s"$maxLocalItems — an index this size belongs on the Spark serving path (VectorIndex." +
      "topItems, DocumentIndex.queryDocuments, ann_brute_batch, s_ann_serve), or snapshot a " +
      "bounded part of it")
    val scan = new VectorIndex.PreparedScan(index.items, index.idCol, index.vecCol, onDriver = true)
    scan.warm()
    new LocalVectorServing(index, scan, n.toInt)
  }
}
