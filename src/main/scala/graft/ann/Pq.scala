package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search") — the memory-compression ANN scale path
  * that complements IVF's partition pruning and LSH's bucketing:
  *
  *   - FIT: the vector space is split into `nSub` contiguous
  *     subspaces; each gets its own small k-means codebook
  *     (graft.ann.KMeans — deterministic seeds by an id-modulus rule,
  *     decimal-exact Lloyd updates, so a SQL engine replays the fit
  *     bit-for-bit exactly as dd_semantic's oracle does);
  *   - ENCODE: each vector becomes `nSub` small codes (nearest
  *     codebook centroid per subspace, NearestCentroid codegen kernel
  *     — one narrow map pass, no explosion, no shuffle). Codebook ids
  *     are relabeled 0..K-1 so a production layout can store each
  *     code as ONE BYTE: a 64-dim float corpus compresses 64× (256 B
  *     → 4 B per vector), which is what lets a 100 TB corpus's index
  *     live in cluster memory;
  *   - SEARCH (ADC + exact rerank — FAISS's refine shape): the query
  *     stays exact; its distance to every centroid of every codebook
  *     is a tiny driver-side table (nSub × K doubles) embedded as a
  *     plan constant, so the candidate scan reads ONLY the code
  *     columns (columnar pruning never touches the float vectors),
  *     approximates ||q - x||² as the sum of per-subspace table
  *     lookups, and TakeOrderedAndProject keeps the top `candidates`
  *     rows; those (and only those) get an exact-cosine rerank to the
  *     final k. Per-corpus-row cost: nSub map lookups + an add chain
  *     — no vector arithmetic at all.
  *
  * Determinism contract (SURVEY §5): subspace slicing is positional;
  * seed relabeling is ordered by id; every d² is the same
  * left-to-right fold the NearestCentroid kernel and DuckDB's
  * list_reduce use; ADC sums the nSub lookups in subspace order. The
  * oracle replays fit + encode + table + scan and orders by the raw
  * (unrounded) ADC, so even last-ulp ties resolve identically.
  */
object Pq {

  /** One codebook per subspace: (cid: Long 0..K-1, cv: array<double>
    * of length subDim). `seedMod` picks ~K seed rows (ids ≡ 0 mod
    * seedMod); `iters` Lloyd updates follow (1 is enough to pull
    * codewords off the seed rows — PQ needs coverage, not
    * convergence).
    *
    * Single-pass shape: the seed ROWS are shared by every subspace
    * (same id rule, same monotone relabel), so ONE tiny collect
    * replaces nSub window jobs; each Lloyd update is ONE corpus
    * projection (all nSub NearestCentroid kernels in a single
    * codegen'd select) plus ONE map-side-combined (s, cell, j)
    * aggregation of n×dim value rows — vs the previous per-subspace
    * chains (nSub corpus scans + nSub checkpoint jobs per update).
    * The arithmetic is bit-identical to the per-subspace KMeans.lloyd
    * chain (same kernel, same decimal-exact means, same grouping —
    * decimal addition is exact, so the merged grouping cannot drift),
    * which is what keeps the replayed-fit oracles green. Returned
    * codebooks are driver-materialized local relations (≤ nSub×K tiny
    * rows): downstream encode/ADC collects are free, and no Barrier
    * checkpoint is needed.
    *
    * Rows whose vector is null or shorter than `dim` take no part in
    * the fit — neither as seeds nor in the Lloyd updates — so the
    * codebooks are those of the remaining corpus (elements past `dim`
    * are ignored).
    */
  def fit(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, nSub: Int, seedMod: Long, iters: Int): Seq[DataFrame] = {
    require(dim % nSub == 0, s"dim $dim must split evenly into $nSub subspaces")
    val subDim = dim / nSub
    val vecs = corpus.filter(col(vecCol).isNotNull && size(col(vecCol)) >= dim)
    val seedRows = vecs.filter(pmod(col(idCol), lit(seedMod)) === 0)
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(seedRows.nonEmpty && seedRows.length <= 65536,
      s"Pq.fit: ${seedRows.length} seed rows (codebook rule bounds this to [1, 65536])")
    // relabeled seeds: the codebook id space is 0..K-1 (dense, byte-
    // sized) rather than raw corpus ids; relabeling is monotone in
    // id so NearestCentroid's lowest-id tiebreak is preserved
    var books: Seq[Array[(Long, Array[Double])]] = (0 until nSub).map { s =>
      seedRows.zipWithIndex.map { case ((_, v), i) =>
        (i.toLong, java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim))
      }
    }
    for (_ <- 1 to iters)
      books = lloydStepAll(vecs, vecCol, books, dim)
    val spark = corpus.sparkSession
    import spark.implicits._
    books.map(_.toSeq.map { case (cid, cv) => (cid, cv.toSeq) }.toDF("cid", "cv"))
  }

  /** One merged Lloyd update for every subspace: assign (all kernels
    * in one projection) then decimal-exact per-(subspace, cell, dim)
    * means — identical values to KMeans.lloyd's per-subspace update
    * (clusters that lose all members drop out the same way).
    */
  private def lloydStepAll(corpus: DataFrame, vecCol: String,
      books: Seq[Array[(Long, Array[Double])]],
      dim: Int): Seq[Array[(Long, Array[Double])]] = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    val nSub = books.size
    val subDim = dim / nSub
    val enc = encodeLocal(corpus, vecCol, books, dim)
    // one (s, cell, subvector) row per subspace — nSub rows per input
    // row — consumed whole by the decimal-exact vector-state aggregate
    // (VecSumDecAgg, round 17): the previous posexplode formulation
    // pushed n×dim VALUE rows through a (s, cell, j)-keyed hash
    // aggregate; this is n×nSub rows through a (s, cell)-keyed one
    // with the identical per-element cast/sum/round arithmetic (the
    // replayed-fit oracles pin it; KMeansSpec pins the aggregate
    // against the exploded formulation element-for-element).
    val sub = enc
      .select(explode(array((0 until nSub).map(s =>
        struct(lit(s).as("s"), col(s"code$s").as("cell"),
          slice(col(vecCol), s * subDim + 1, subDim).as("sv"))): _*))
        .as("_r"))
      .select(col("_r.s").as("s"), col("_r.cell").as("cell"),
        col("_r.sv").as("sv"))
    val vecSum = ColumnBridge.column(
      graft.functions.expr.VecSumDecAgg(
        ColumnBridge.expression(col("sv")))
        .toAggregateExpression())
    val agg = sub.groupBy(col("s"), col("cell"))
      .agg(vecSum.as("_sc"))
      .select(col("s"), col("cell"),
        zip_with(col("_sc.sums"), col("_sc.counts"),
          (x, c) => round(x.cast("double") / c, 9)).as("mv"))
      .collect()
    val bySub = agg.groupBy(_.getInt(0))
    (0 until nSub).map { s =>
      bySub.getOrElse(s, Array.empty[org.apache.spark.sql.Row])
        .map { r =>
          val mv = r.getSeq[java.lang.Double](2)
          // same fill the per-(s, cell, j) row loop produced: missing
          // trailing positions and null means stay 0.0
          val cv = new Array[Double](subDim)
          var j = 0
          while (j < mv.length && j < subDim) {
            val x = mv(j)
            if (x != null) cv(j) = x.doubleValue()
            j += 1
          }
          (r.getLong(1), cv)
        }
        .toArray.sortBy(_._1)
    }
  }

  /** Append code columns `code0..code{nSub-1}` — every subspace's
    * NearestCentroid kernel in ONE narrow WholeStageCodegen projection
    * over the corpus.
    */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
      books: Seq[DataFrame], dim: Int): DataFrame =
    encodeLocal(corpus, vecCol, books.map(collectBook), dim)

  private def collectBook(book: DataFrame): Array[(Long, Array[Double])] = {
    val rows = book.select(col("cid").cast("long"), col("cv").cast("array<double>"))
      .collect()
    require(rows.nonEmpty && rows.length <= 65536,
      s"Pq: codebook has ${rows.length} codewords (bounds: [1, 65536])")
    rows.map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
  }

  /** Load every `book0..book{nSub-1}` dir of a persisted layout in ONE
    * scan job and rebuild each codebook as a driver-LOCAL relation —
    * the same "downstream collects are free" property [[fit]]'s output
    * has. The previous shape (one `spark.read.parquet` + collect per
    * book) cost nSub separate driver jobs per query against a loaded
    * index; at sf0.1 those fixed job floors dominated the PQ entries'
    * wall clock. Bounded by the same 65536-codeword rule as
    * [[collectBook]] (≤ nSub × 65536 tiny rows on the driver).
    */
  def loadBooksLocal(spark: org.apache.spark.sql.SparkSession,
      path: String, nSub: Int): Seq[DataFrame] = {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    // subspace tag anchored to the file's IMMEDIATE parent dir: an
    // unanchored "book([0-9]+)/" matches the FIRST occurrence anywhere
    // in the path, so an index rooted under e.g. .../notebook1/... got
    // every row tagged subspace 1 (round-16 advice)
    val rows = spark.read.parquet((0 until nSub).map(s => s"$path/book$s"): _*)
      .select(regexp_extract(input_file_name(), "/book([0-9]+)/[^/]*$", 1)
          .cast("int").as("_s"),
        col("cid").cast("long"), col("cv").cast("array<double>"))
      .collect()
    require(rows.length <= nSub * 65536,
      s"loadBooksLocal: ${rows.length} codewords across $nSub books (bounds)")
    val schema = StructType(Seq(StructField("cid", LongType),
      StructField("cv", ArrayType(DoubleType))))
    val bySub = rows.groupBy(_.getInt(0))
    (0 until nSub).map { s =>
      val rs = bySub.getOrElse(s, Array.empty[org.apache.spark.sql.Row])
      require(rs.nonEmpty, s"loadBooksLocal: book$s at $path is empty")
      spark.createDataFrame(
        rs.sortBy(_.getLong(1))
          .map(r => org.apache.spark.sql.Row(r.getLong(1), r.getSeq[Double](2)))
          .toSeq.asJava, schema)
    }
  }

  private def encodeLocal(corpus: DataFrame, vecCol: String,
      books: Seq[Array[(Long, Array[Double])]], dim: Int): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    val subDim = dim / books.size
    // offset-based subspace reads: each kernel folds its subDim range
    // of the FULL vector in place — the earlier slice() formulation
    // allocated a fresh ArrayData per row per subspace. Float inputs
    // widen inside the kernel (getFloat→double), identical to the
    // cast-then-slice arithmetic this replaces.
    val codeCols = books.zipWithIndex.map { case (book, s) =>
      ColumnBridge.column(graft.functions.expr.NearestCentroid(
        ColumnBridge.expression(col(vecCol)),
        book.map(_._1), book.map(_._2), offset = s * subDim)).as(s"code$s")
    }
    graft.Tables.fanOut(corpus).select(col("*") +: codeCols: _*)
  }

  /** ADC candidate generation + exact rerank (FAISS's refine shape)
    * for one query vector: distance tables from the (collected,
    * ≤ nSub×K-row) codebooks become map literals; the candidate scan
    * touches only the code columns and keeps the `candidates` best by
    * ADC; the winners' float vectors are fetched by id and the final
    * k are ranked by EXACT cosine. Quantization noise costs recall
    * only when a true neighbor misses the candidate set — `candidates`
    * is the recall dial (measured by ann_pq_recall), and the exact
    * fetch is a bounded candidate-set lookup, never a corpus scan.
    * `candidates <= 0` means rerank exactly the top k.
    */
  def adcTopK(encoded: DataFrame, idCol: String, vecCol: String,
      books: Seq[DataFrame], queryVec: Array[Double], k: Int,
      candidates: Int = 0, carryCols: Seq[String] = Seq.empty): DataFrame = {
    val nCand = if (candidates <= 0) k else candidates
    require(nCand >= k, s"candidates $nCand must be >= k $k")
    val subDim = queryVec.length / books.size
    val tables: Seq[Map[Long, Double]] = books.zipWithIndex.map { case (book, s) =>
      val rows = book.select(col("cid").cast("long"), col("cv").cast("array<double>"))
        .collect()
      require(rows.nonEmpty && rows.length <= 65536,
        s"adcTopK: codebook $s has ${rows.length} codewords")
      rows.map { r =>
        val cv = r.getSeq[Double](1)
        // same left-to-right squared-L2 fold as NearestCentroid/DuckDB
        var d = 0.0
        var j = 0
        while (j < subDim) {
          val diff = queryVec(s * subDim + j) - cv(j)
          d += diff * diff
          j += 1
        }
        r.getLong(0) -> d
      }.toMap
    }
    val adcRaw = tables.zipWithIndex.map { case (tab, s) =>
      val entries = tab.toSeq.sortBy(_._1)
        .flatMap { case (cid, d) => Seq(lit(cid), lit(d)) }
      element_at(map(entries: _*), col(s"code$s"))
    }.reduce(_ + _) // subspace order — matches the oracle's add chain
    val qv = lit(queryVec)
    import graft.functions.VectorFunctions.cosine
    // two-phase serving shape: the candidate pass projects ONLY
    // (id, codes) — on a persisted code table the scan never touches
    // the float vectors — then the candidates' exact scores come from
    // a broadcast id-lookup against the corpus (a bounded fetch, the
    // point-lookup any serving store does after candidate selection)
    val cands = encoded
      .select(Seq(col(idCol)) ++ carryCols.map(col) ++
        books.indices.map(s => col(s"code$s")): _*)
      .withColumn("_adc", adcRaw)
      .orderBy(col("_adc"), col(idCol))
      .limit(nCand)
    val exactRaw = cosine(col(vecCol).cast("array<double>"), qv)
    encoded.select(col(idCol), col(vecCol))
      .join(broadcast(cands), Seq(idCol))
      .withColumn("_exact", exactRaw)
      .orderBy(desc("_exact"), col(idCol))
      .limit(k)
      .select(Seq(col(idCol)) ++ carryCols.map(col) ++
        books.indices.map(s => col(s"code$s")) ++
        Seq(round(col("_adc"), 6).as("adc"),
          round(col("_exact"), 6).as("exact_score")): _*)
  }

  /** ADC + exact rerank over RESIDUAL codes (FAISS IVFPQ, Jégou et
    * al. 2011 §IV.A): the codes approximate `x − centroid(cell)`, so
    * the query-side distance table depends on the row's cell — the
    * query residual `q − centroid(cell)` differs per probed cell.
    * With nprobe cells the tables are still a planning-time constant
    * (nprobe × nSub × K doubles): each subspace's lookup becomes a
    * two-level map literal `cell → (code → d²)` and the scan cost per
    * row stays nSub map lookups + an add chain over code columns
    * only. The rerank is unchanged: the candidates' RAW vectors
    * (`vecCol`) are fetched by id and ranked by exact cosine against
    * the raw query. `cellCentroids` must cover every cell present in
    * `encoded` (i.e. the probed cells — callers filter first).
    */
  def adcTopKPerCell(encoded: DataFrame, idCol: String, vecCol: String,
      cellCol: String, books: Seq[DataFrame], queryVec: Array[Double],
      cellCentroids: Seq[(Long, Array[Double])], k: Int,
      candidates: Int = 0, carryCols: Seq[String] = Seq.empty): DataFrame = {
    val nCand = if (candidates <= 0) k else candidates
    require(nCand >= k, s"candidates $nCand must be >= k $k")
    require(cellCentroids.nonEmpty && cellCentroids.size <= 65536,
      s"adcTopKPerCell: ${cellCentroids.size} probed centroids")
    val localBooks = books.map(collectBook)
    val subDim = queryVec.length / books.size
    // per-cell query residual, then per-(cell, subspace) tables with
    // the same left-to-right d² fold as adcTopK / the oracle
    val qres: Seq[(Long, Array[Double])] = cellCentroids.map { case (cell, cv) =>
      require(cv.length == queryVec.length,
        s"adcTopKPerCell: centroid dim ${cv.length} != query dim ${queryVec.length}")
      val r = new Array[Double](queryVec.length)
      var j = 0
      while (j < r.length) { r(j) = queryVec(j) - cv(j); j += 1 }
      (cell, r)
    }
    val adcRaw = localBooks.zipWithIndex.map { case (book, s) =>
      val cellMaps = qres.sortBy(_._1).flatMap { case (cell, qr) =>
        val entries = book.flatMap { case (cid, cw) =>
          var d = 0.0
          var j = 0
          while (j < subDim) {
            val diff = qr(s * subDim + j) - cw(j)
            d += diff * diff
            j += 1
          }
          Seq(lit(cid), lit(d))
        }
        Seq(lit(cell), map(entries: _*))
      }
      element_at(element_at(map(cellMaps: _*), col(cellCol).cast("long")),
        col(s"code$s"))
    }.reduce(_ + _) // subspace order — matches the oracle's add chain
    val carry = (cellCol +: carryCols).distinct.filterNot(_ == idCol)
    val cands = encoded
      .select(Seq(col(idCol)) ++ carry.map(col) ++
        books.indices.map(s => col(s"code$s")): _*)
      .withColumn("_adc", adcRaw)
      .orderBy(col("_adc"), col(idCol))
      .limit(nCand)
    import graft.functions.VectorFunctions.cosine
    val exactRaw = cosine(col(vecCol).cast("array<double>"), lit(queryVec))
    encoded.select(col(idCol), col(vecCol))
      .join(broadcast(cands), Seq(idCol))
      .withColumn("_exact", exactRaw)
      .orderBy(desc("_exact"), col(idCol))
      .limit(k)
      .select(Seq(col(idCol)) ++ carry.map(col) ++
        books.indices.map(s => col(s"code$s")) ++
        Seq(round(col("_adc"), 6).as("adc"),
          round(col("_exact"), 6).as("exact_score")): _*)
  }

}
