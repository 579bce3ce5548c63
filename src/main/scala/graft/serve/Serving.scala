package graft.serve

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.filters.MetaFilter
import graft.index.VectorIndex

/** A warm serving session: the fair counterpart of the reference's
  * query loop.
  *
  * The reference serves queries from a warm in-memory list
  * (local_index.py:126-151), and BASELINE.md's latencies are the mean
  * of 10 repetitions on that warm index. A cold Spark query instead
  * pays plan analysis + optimization + codegen + job scheduling
  * (~0.1–0.3 s) on EVERY call — irrelevant against a 100 TB scan,
  * but 10–30× the reference's whole latency on a 2 000-vector corpus.
  * This class removes the removable part of that overhead, the same
  * way a production deployment would:
  *
  *   - the index's scan is planned once per session and its rows are
  *     decoded once, by `warm()` or the first call, into the copy
  *     `VectorIndex.topItems` keeps: on the driver when Spark's broadcast
  *     rule (`spark.sql.autoBroadcastJoinThreshold` against the plan's
  *     size estimate) lets the index be collected whole, else in
  *     executor memory;
  *   - every call — top-k, metadata listing, point lookup — is answered
  *     from that copy with no analysis, optimisation, planning or
  *     codegen of its own: the filter, or the id test, is resolved as the
  *     cold path resolves it and evaluated interpreted per row, and
  *     nothing is kept per distinct query, filter or id.
  *
  * What remains per call is, for a small index, a loop over the rows on
  * the driver (no job), and for a large one the local-mode job floor (a
  * few ms) over its natural partitioning, so calls parallelize. The
  * top-k keeps the cold TakeOrderedAndProject's shape, a k-bounded heap
  * per partition merged on the driver, and a listing is sorted by id on
  * the driver, so the same session serves unchanged on a real cluster.
  * A filter is evaluated per kept row, not pushed into a parquet reader.
  */
final class VectorServing(index: VectorIndex) {

  // an instance of its own, so close() releases only this session's rows
  private val idx = VectorIndex.build(index.items, index.idCol, index.vecCol)

  /** Decode the rows now so the first call doesn't pay the load. */
  def warm(): this.type = { idx.warmTopRows(); this }

  /** Top-k cosine on the warm index: the rows of
    * VectorIndex.queryItems (VectorIndex.topItems).
    */
  def queryItems(query: Seq[Double], k: Int,
      filter: Option[MetaFilter] = None): Array[Row] =
    idx.topItems(query, k, filter)

  /** Metadata-only listing on the warm index (deterministic id order):
    * the rows of VectorIndex.listItemsByMetadata.
    */
  def listItemsByMetadata(filter: MetaFilter): Array[Row] =
    idx.selectItems(filter.toColumn(index.items))

  /** Point lookup on the warm index: the rows of VectorIndex.getItem. */
  def getItem(id: Any): Array[Row] = idx.selectItems(col(index.idCol) === lit(id))

  /** Release the rows every call is answered from. */
  def close(): Unit = idx.releaseTopRows()
}
