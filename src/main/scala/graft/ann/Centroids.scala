package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge

import graft.functions.expr.{NearestCentroid, NearestCentroids}

/** The IVF coarse quantizer's driver side: the centroid set, held
  * local and sorted by cell id (the order the kernels' lowest-id tie
  * law needs), bounded by the nlist rule to [1, 65536] cells — a
  * planning-time materialization of the same class as AnnTuner.stats.
  * Executor-side ([[probes]]) and driver-side ([[nearest]]) probe
  * picks run the same code, NearestCentroids.compute, so they agree
  * by construction: left-to-right squared-L2 fold, ties to the lowest
  * cell id — the (list_distance, cell) order the SQL oracles rank by.
  */
final class Centroids private (val cells: Array[Long], val vecs: Array[Array[Double]]) {

  /** Per-row nearest cell: the NearestCentroid kernel. */
  def assign(vec: Column): Column =
    ColumnBridge.column(NearestCentroid(ColumnBridge.expression(vec), cells, vecs))

  /** Per-row `np` nearest cells in (distance, cell) order: the
    * NearestCentroids kernel.
    */
  def probes(vec: Column, np: Int): Column =
    ColumnBridge.column(NearestCentroids(ColumnBridge.expression(vec), cells, vecs, np))

  /** The `nprobe` cells nearest to a driver-local query. The kernels
    * fold ragged rows over the common prefix, but a driver-side query
    * of another dim is a caller error, not a prefix to rank on. A
    * non-finite query gets the kernel's empty list: unsearchable,
    * never the lowest-id cells.
    */
  def nearest(q: Array[Double], nprobe: Int): Seq[Long] = {
    require(nprobe >= 1, s"Centroids.nearest: nprobe must be >= 1, got $nprobe")
    vecs.foreach(cv => require(cv.length == q.length,
      s"Centroids.nearest: query dim ${q.length} != centroid dim ${cv.length}"))
    NearestCentroids.compute(new GenericArrayData(q), elemIsFloat = false,
      cells, vecs, nprobe).toLongArray().toSeq
  }

  /** The (cell, centroid) pairs of `cellIds`, in cell order. */
  def only(cellIds: Seq[Long]): Seq[(Long, Array[Double])] = {
    val keep = cellIds.toSet
    cells.indices.collect { case i if keep(cells(i)) => (cells(i), vecs(i)) }
  }
}

object Centroids {

  def apply(pairs: Seq[(Long, Array[Double])]): Centroids = {
    require(pairs.nonEmpty && pairs.length <= 65536,
      s"Centroids: ${pairs.length} centroids (the nlist rule bounds this to [1, 65536])")
    val sorted = pairs.sortBy(_._1)
    new Centroids(sorted.map(_._1).toArray, sorted.map(_._2).toArray)
  }

  /** One collect job: `cidCol` as long, `cvecCol` as array<double>. */
  def collect(frame: DataFrame, cidCol: String, cvecCol: String): Centroids =
    Centroids(frame.select(col(cidCol).cast("long"), col(cvecCol).cast("array<double>"))
      .collect().toSeq.map(r => (r.getLong(0), r.getSeq[Double](1).toArray)))
}
