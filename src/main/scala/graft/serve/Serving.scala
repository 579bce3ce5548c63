package graft.serve

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, Row}
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
  *   - the index is pinned in memory once (`cache()` + a materializing
  *     warm-up action), coalesced to a serving partition count (small
  *     corpus → 1 partition → 1 task per query, no task-launch fan-out;
  *     at scale leave the natural partitioning so queries parallelize);
  *     this cache serves listings and point lookups;
  *   - top-k queries run over the pinned copy's scan, planned once
  *     per session (VectorIndex.topItems), whose rows the first top-k
  *     keeps in executor memory as the prepared rows every later top-k
  *     reads: each call is one job with no analysis, optimisation,
  *     planning or codegen of its own, and nothing is kept per distinct
  *     query vector;
  *   - listings and point lookups are analyzed/optimized/codegen'd
  *     ONCE per distinct filter or id: repeated calls re-execute the
  *     SAME DataFrame, and Spark reuses its QueryExecution (with AQE,
  *     even the finalized adaptive plan).
  *
  * What remains per call is the irreducible local-mode job floor (a
  * few ms). The listing plans are unchanged from the cold path — a
  * pushed-down filter scan — and the top-k keeps the cold
  * TakeOrderedAndProject's shape, a k-bounded heap per partition
  * merged on the driver, so the same session serves unchanged on a
  * real cluster, where both copies stay executor-side. A top-k filter
  * is evaluated per prepared row, not pushed into a parquet reader.
  */
final class VectorServing(index: VectorIndex, servePartitions: Int = 1) {

  /** The pinned serving copy of the index. */
  val items: DataFrame =
    (if (servePartitions > 0) index.items.coalesce(servePartitions)
     else index.items).cache()

  private val idx = VectorIndex.build(items, index.idCol, index.vecCol)

  private val plans = new ConcurrentHashMap[String, DataFrame]()

  private def plan(key: String)(mk: => DataFrame): DataFrame =
    plans.computeIfAbsent(key, _ => mk)

  /** Materialize the cache so the first query doesn't pay the load. */
  def warm(): this.type = { items.count(): Unit; this }

  /** Top-k cosine on the warm index: the rows of
    * VectorIndex.queryItems, one job over the pinned scan
    * (VectorIndex.topItems).
    */
  def queryItems(query: Seq[Double], k: Int,
      filter: Option[MetaFilter] = None): Array[Row] =
    idx.topItems(query, k, filter)

  /** Metadata-only listing on the warm index (deterministic id order). */
  def listItemsByMetadata(filter: MetaFilter): Array[Row] =
    plan(s"meta|${filter.toString}") {
      idx.listItemsByMetadata(filter).orderBy(col(index.idCol))
    }.collect()

  /** Point lookup on the warm index. */
  def getItem(id: Any): Array[Row] =
    plan(s"get|$id")(idx.getItem(id)).collect()

  /** Release the pinned partitions, the top-k's prepared rows and the
    * plan cache.
    */
  def close(): Unit = {
    plans.clear()
    idx.releaseTopRows()
    items.unpersist(blocking = false): Unit
  }
}
