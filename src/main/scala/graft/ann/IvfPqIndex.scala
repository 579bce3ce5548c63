package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent IVF×PQ index — FAISS's IVFPQ as a storage layout
  * (reference analogue: local_index.py:126-151 queries a LOADED
  * index; this is that contract for the composed index).
  *
  * `build` pays the whole cost once at ingest: IVF cell assignment
  * (Ann.ivfAssign), per-subspace PQ encoding of the RESIDUAL
  * x − centroid(cell) (Ann.residuals + Pq.Books.encode — the FAISS
  * IVFPQ shape: within-cell residuals are small, so the code budget's
  * precision lands where the data is), then ONE parquet write
  * `partitionBy(cell)` carrying (id, vector, code0..code{nSub-1}).
  * Centroids and the nSub codebooks are tiny side parquets (bounded
  * by the 65536-codeword require in Pq.Books when read back).
  *
  * A query then touches nprobe/nlist of the data at code width:
  * `probeCells` ranks the driver-local coarse quantizer (Centroids,
  * collected once per instance) by the same left-to-right d² fold the
  * oracle orders by;
  * `searchCells` filters on the driver-known cell list — STATIC
  * partition pruning, asserted by IvfPqIndexSpec — and runs the
  * shared candidate plan (Quantizer.candidateTopK) over the code
  * columns only, with the exact rerank fetching just the candidates'
  * float vectors. At 100 TB: the probe reads nprobe directories of
  * the layout, and the ADC pass inside them reads nSub bytes per row,
  * not the vector column (columnar projection on the parquet scan).
  */
final class IvfPqIndex private (
    val spark: SparkSession,
    val path: String,
    val idCol: String,
    val vecCol: String,
    val nSub: Int) {

  def centroids: DataFrame = spark.read.parquet(s"$path/centroids")

  def cells: DataFrame = spark.read.parquet(s"$path/cells")

  /** Driver-local codebooks, loaded in ONE job (Pq.Books.load) and
    * cached on the instance. The layout is immutable (IvfPqIndex has
    * no maintenance mutators), so the cache cannot go stale.
    */
  lazy val books: Pq.Books = Pq.Books.load(nSub)(spark, s"$path/model")

  /** The coarse quantizer, collected ONCE per instance —
    * [[probeCells]] and [[searchCells]] both need it, and the previous
    * per-call collect paid two scan jobs per query.
    */
  private lazy val coarse: Centroids = Centroids.collect(centroids, "cell", "cv")

  /** The nprobe cells nearest to the query (Centroids.nearest: the
    * probe kernel's left-to-right squared-L2 fold with a (d², cell)
    * tiebreak — identical to the oracle's probe CTE). The query must
    * have the centroids' dim; a non-finite query probes no cell.
    */
  def probeCells(queryVec: Array[Double], nprobe: Int): Seq[Long] =
    coarse.nearest(queryVec, nprobe)

  /** ADC top-k inside the driver-known probed cells: the cell filter
    * compiles to PartitionFilters on the layout scan, then the
    * RESIDUAL per-cell ADC (Pq.PerCell — codes approximate
    * x − centroid(cell), so each probed cell gets its own query
    * table) runs over the surviving files' code columns only, with
    * the exact rerank fetching just the candidates' float vectors.
    * Output mirrors ann_ivf_pq: (id, cell, code0.., adc,
    * exact_score).
    */
  def searchCells(cellIds: Seq[Long], queryVec: Array[Double],
      k: Int, candidates: Int = 0): DataFrame =
    Quantizer.candidateTopK(cells.filter(col("cell").isin(cellIds: _*)),
      idCol, vecCol, books.perCell("cell", coarse.only(cellIds)), queryVec,
      k = k, candidates = candidates, carryCols = Seq("cell"))
}

object IvfPqIndex {

  /** The per-row residual frame (assign → `x − centroid(cell)`) both
    * the PQ fit and the encode consume — FAISS IVFPQ quantizes
    * residuals, not raw vectors (Jégou et al. 2011 §IV.A). Cell is
    * staged under `_ivf_cell` (the PQ encode's subspace assigns each
    * reuse the "cell" slot — the ann_ivf_pq lesson), the residual
    * under `_res`.
    */
  def residualFrame(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, cidCol: String, cvecCol: String): DataFrame = {
    val assigned = Ann.ivfAssign(corpus, idCol, vecCol, centroids, cidCol, cvecCol)
      .withColumnRenamed("cell", "_ivf_cell")
    Ann.residuals(assigned, vecCol, "_ivf_cell",
      centroids, cidCol, cvecCol, "_res")
  }

  /** Assign cells, residual-encode codes, write the partitioned
    * layout. `centroids` must have (cid, cv); `books` must be
    * Pq.fit's output over the RESIDUAL column of [[residualFrame]].
    */
  def build(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, cidCol: String, cvecCol: String,
      books: Pq.Books, path: String,
      filesPerCell: Int = 0,
      targetRowsPerFile: Long = IvfIndex.DefaultTargetRowsPerFile): IvfPqIndex = {
    val spark = corpus.sparkSession
    val withRes = residualFrame(corpus, idCol, vecCol, centroids, cidCol, cvecCol)
    // the IvfIndex layout (same (cell, slot) partitioning, centroid and
    // slot-count side frames) with the codes beside the vectors
    val cents = centroids.select(col(cidCol).as("cell"), col(cvecCol).as("cv"))
    val fpc = IvfIndex.resolveFilesPerCell(corpus, cents, filesPerCell, targetRowsPerFile)
    IvfIndex.writeLayout(books.encode(withRes, "_res").drop("_res")
      .withColumnRenamed("_ivf_cell", "cell"), idCol, cents, fpc, path)
    books.save(spark, s"$path/model")
    new IvfPqIndex(spark, path, idCol, vecCol, books.nSub)
  }

  def load(spark: SparkSession, path: String, idCol: String, vecCol: String,
      nSub: Int): IvfPqIndex =
    new IvfPqIndex(spark, path, idCol, vecCol, nSub)
}
