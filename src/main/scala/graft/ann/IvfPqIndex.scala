package graft.ann

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
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
  * `probeCells` ranks the (bounded, driver-collected) centroid frame
  * by the same left-to-right d² fold the oracle orders by;
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

  /** The bounded centroid frame, collected ONCE per instance —
    * [[probeCells]] and [[searchCells]] both need it, and the previous
    * per-call collect paid two scan jobs per query.
    */
  private lazy val centroidsLocal: Seq[(Long, Array[Double])] = {
    val rows = centroids
      .select(col("cell").cast("long"), col("cv").cast("array<double>"))
      .collect()
    require(rows.nonEmpty && rows.length <= 65536,
      s"IvfPqIndex: ${rows.length} centroids (nlist rule bounds this)")
    rows.map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
  }

  /** The nprobe cells nearest to the query, ranked by the raw
    * left-to-right squared-L2 fold with a (d², cell) tiebreak —
    * identical to the oracle's probe CTE. Driver-side over the
    * bounded centroid frame (same planning-time materialization
    * class as the ADC tables).
    */
  def probeCells(queryVec: Array[Double], nprobe: Int): Seq[Long] = {
    centroidsLocal.map { case (c, cv) =>
      var d = 0.0
      var j = 0
      while (j < queryVec.length) {
        val diff = queryVec(j) - cv(j)
        d += diff * diff
        j += 1
      }
      (c, d)
    }.sortBy { case (c, d) => (d, c) }.take(nprobe).map(_._1)
  }

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
      k: Int, candidates: Int = 0): DataFrame = {
    val probedCents = centroidsLocal.filter { case (c, _) => cellIds.contains(c) }
    Quantizer.candidateTopK(cells.filter(col("cell").isin(cellIds: _*)),
      idCol, vecCol, books.perCell("cell", probedCents), queryVec,
      k = k, candidates = candidates, carryCols = Seq("cell"))
  }
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
    val assigned = Ann.ivfAssign(corpus, idCol, vecCol,
        centroids.select(col(cidCol).as("cell"), col(cvecCol).as("cv")),
        "cell", "cv")
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
    // cluster on the composed (cell, slot) key before the partitioned
    // write: fragment-free like the one-file-per-cell layout, but a
    // hot cell spreads over filesPerCell write tasks/files instead of
    // being capped at one (see IvfIndex.build)
    val fpc = IvfIndex.resolveFilesPerCell(corpus,
      centroids.select(col(cidCol).as("cell")), filesPerCell, targetRowsPerFile)
    books.encode(withRes, "_res")
      .drop("_res")
      .withColumnRenamed("_ivf_cell", "cell")
      .withColumn("slot", pmod(hash(col(idCol)), lit(fpc)))
      .repartition(col("cell"), col("slot"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("cell", "slot")
      .parquet(s"$path/cells")
    // tiny side frames (≤ 65536 rows each): one file apiece so loads
    // and collects are single-task instead of one task per slice of
    // the build-side partitioning
    centroids.select(col(cidCol).as("cell"), col(cvecCol).as("cv"))
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/centroids")
    books.save(spark, s"$path/model")
    // same layout-geometry meta as IvfIndex.build — uniform across
    // the index family, ready for a future PQ append path
    spark.range(1).select(lit(fpc).as("files_per_cell"))
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/meta")
    new IvfPqIndex(spark, path, idCol, vecCol, books.nSub)
  }

  def load(spark: SparkSession, path: String, idCol: String, vecCol: String,
      nSub: Int): IvfPqIndex =
    new IvfPqIndex(spark, path, idCol, vecCol, nSub)
}
