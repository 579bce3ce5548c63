package graft.ann

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.Metadata

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
  *     final k (Quantizer.candidateTopK). Per-corpus-row cost: nSub
  *     map lookups + an add chain — no vector arithmetic at all;
  *   - PAIRS: the nSub byte codes packed into one long, scored by the
  *     PqSdc codeword-table lookup in the coded self-join.
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
    * codebooks are driver-local arrays (≤ nSub×K tiny rows):
    * downstream encode and ADC tables need no job, and no Barrier
    * checkpoint is needed.
    *
    * Rows whose vector is null or shorter than `dim` take no part in
    * the fit — neither as seeds nor in the Lloyd updates — so the
    * codebooks are those of the remaining corpus (elements past `dim`
    * are ignored).
    */
  def fit(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, nSub: Int, seedMod: Long, iters: Int): Books = {
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
    Books(books)
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

  private def encodeLocal(corpus: DataFrame, vecCol: String,
      books: Seq[Array[(Long, Array[Double])]], dim: Int): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    val subDim = dim / books.size
    // offset-based subspace reads: each kernel folds its subDim range
    // of the FULL vector in place — the earlier slice() formulation
    // allocated a fresh ArrayData per row per subspace. Float inputs
    // widen inside the kernel (getFloat→double), identical to the
    // cast-then-slice arithmetic this replaces.
    // a null or other-length vector has no code: a named error, not a
    // null code (ranked first by an ascending ADC order) or a code of
    // the dims it has
    val vec = graft.functions.expr.VectorLengthCheck(ColumnBridge.expression(col(vecCol)),
      dim, "Pq.Books.encode")
    val codeCols = books.zipWithIndex.map { case (book, s) =>
      ColumnBridge.column(graft.functions.expr.NearestCentroid(
        vec,
        book.map(_._1), book.map(_._2), offset = s * subDim)).as(s"code$s")
    }
    graft.Tables.fanOut(corpus).select(col("*") +: codeCols: _*)
  }

  /** The fitted codebooks — one (cid 0..K-1, codeword) array per
    * subspace, sorted by cid — as a [[PairQuantizer]]: the flat-PQ
    * model of ann_pq and of the coded self-join, and, through
    * [[perCell]], the residual model of IVF×PQ.
    */
  final case class Books(codebooks: Seq[Array[(Long, Array[Double])]])
      extends PairQuantizer {
    require(codebooks.nonEmpty && codebooks.forall(b => b.nonEmpty && b.length <= 65536),
      s"Pq.Books: codebooks hold ${codebooks.map(_.length).mkString(", ")} " +
        "codewords (bounds: [1, 65536] each)")

    def nSub: Int = codebooks.size

    def dim: Int = nSub * codebooks.head.head._2.length

    def codeCols: Seq[String] = codebooks.indices.map(s => s"code$s")

    override def resultCols: Seq[String] = codeCols

    /** Append code columns `code0..code{nSub-1}` — every subspace's
      * NearestCentroid kernel in ONE narrow WholeStageCodegen
      * projection over the corpus. Every vector must hold exactly `dim`
      * elements: a null or shorter/longer vector fails the action that
      * reads the codes with an `IllegalArgumentException` naming
      * `Pq.Books.encode` (the fit skips such rows; an encode has no code
      * to give them).
      */
    def encode(corpus: DataFrame, vecCol: String): DataFrame =
      encodeLocal(corpus, vecCol, codebooks, dim)

    /** One tiny parquet per book (`book<s>/`), one file each, so the
      * load-side combined scan costs one task per book.
      */
    def save(spark: SparkSession, dir: String): Unit = {
      import spark.implicits._
      codebooks.zipWithIndex.foreach { case (b, s) =>
        b.toSeq.map { case (cid, cv) => (cid, cv.toSeq) }.toDF("cid", "cv")
          .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/book$s")
      }
    }

    /** ADC: the query's squared distance to every codeword of every
      * subspace is a tiny driver-side table (nSub × K doubles)
      * embedded as a map literal; a row's distance sums its nSub
      * lookups in subspace order (the oracle's add chain).
      */
    def queryDistance(queryVec: Array[Double]): Column =
      codebooks.indices.map { s =>
        element_at(map(table(s, queryVec): _*), col(s"code$s"))
      }.reduce(_ + _)

    /** Subspace `s`'s (cid, d²) map entries for query (or query
      * residual) `q` — the same left-to-right squared-L2 fold as
      * NearestCentroid and the oracle's list_reduce.
      */
    private[Pq] def table(s: Int, q: Array[Double]): Seq[Column] = {
      val subDim = dim / nSub
      codebooks(s).toSeq.flatMap { case (cid, cw) =>
        var d = 0.0
        var j = 0
        while (j < subDim) {
          val diff = q(s * subDim + j) - cw(j)
          d += diff * diff
          j += 1
        }
        Seq(lit(cid), lit(d))
      }
    }

    /** The residual view for an IVF×PQ query over the probed cells. */
    def perCell(cellCol: String, cells: Seq[(Long, Array[Double])]): PerCell =
      PerCell(this, cellCol, cells)

    /** The codes packed into one long (code s at bit 8s). */
    def pairCode(src: DataFrame, vecCol: String): (DataFrame, Column) = {
      require(nSub <= 8, s"PQ packing needs nSub <= 8, got $nSub")
      // fail at ARTIFACT-BUILD time, not query time: the 8-bit packing
      // below silently corrupts codes (bleed into neighboring bytes) if
      // a codebook exceeds 256 codewords or ids aren't the dense
      // relabel — the join-time LUT checks this too, but by then a
      // corrupt artifact would already be on disk
      bytePackedK()
      val packed = codebooks.indices
        .map(s => shiftleft(col(s"code$s"), 8 * s))
        .reduce(_.bitwiseOR(_))
      (encode(src, vecCol), packed.as("qpq"))
    }

    /** PqSdc over the nSub × (K×K) SDC tables — the same left-to-right
      * d² fold as NearestCentroid / the oracle's list_reduce, indexed
      * lut(s)(codeA·K + codeB).
      */
    def pairDistance(member: Column, query: Column, codeMeta: Metadata): Column = {
      import org.apache.spark.sql.graftshim.{ColumnBridge => EU}
      val k = bytePackedK()
      val lut = codebooks.map { book =>
        val t = new Array[Double](k * k)
        var a = 0
        while (a < k) {
          val va = book(a)._2
          var c = 0
          while (c < k) {
            val vc = book(c)._2
            var d = 0.0
            var j = 0
            while (j < va.length) { val x = va(j) - vc(j); d += x * x; j += 1 }
            t(a * k + c) = d
            c += 1
          }
          a += 1
        }
        t
      }.toArray
      EU.column(graft.functions.expr.PqSdc(EU.expression(member),
        EU.expression(query), lut, k))
    }

    /** The byte-packing preconditions (codeword count ≤ 256, equal K
      * across subspaces, ids the dense 0..K-1 relabel), shared by the
      * artifact BUILD path and the join-time LUT. Returns K.
      */
    private def bytePackedK(): Int = {
      codebooks.foreach(b => require(b.length <= 256,
        s"Pq.Books: codebook has ${b.length} codewords (byte packing caps K at 256)"))
      val k = codebooks.head.length
      require(codebooks.forall(_.length == k),
        "Pq.Books: all codebooks must have the same codeword count")
      require(codebooks.forall(b => b.indices.forall(i => b(i)._1 == i.toLong)),
        "Pq.Books: codebook ids must be the dense 0..K-1 relabel")
      k
    }
  }

  object Books {

    /** Load every `book0..book{nSub-1}` dir of a persisted model in ONE
      * scan job into driver-local codebooks. One read + collect per
      * book cost nSub separate driver jobs per index load; at sf0.1
      * those fixed job floors dominated the PQ entries' wall clock.
      * Bounded by the 65536-codeword rule (≤ nSub × 65536 tiny rows).
      */
    def load(nSub: Int)(spark: SparkSession, dir: String): Books = {
      // subspace tag anchored to the file's IMMEDIATE parent dir: an
      // unanchored "book([0-9]+)/" matches the FIRST occurrence anywhere
      // in the path, so an index rooted under e.g. .../notebook1/... got
      // every row tagged subspace 1
      val rows = spark.read.parquet((0 until nSub).map(s => s"$dir/book$s"): _*)
        .select(regexp_extract(input_file_name(), "/book([0-9]+)/[^/]*$", 1)
            .cast("int").as("_s"),
          col("cid").cast("long"), col("cv").cast("array<double>"))
        .collect()
      require(rows.length <= nSub * 65536,
        s"Pq.Books.load: ${rows.length} codewords across $nSub books (bounds)")
      val bySub = rows.groupBy(_.getInt(0))
      Books((0 until nSub).map { s =>
        val rs = bySub.getOrElse(s, Array.empty[Row])
        require(rs.nonEmpty, s"Pq.Books.load: book$s at $dir is empty")
        rs.map(r => (r.getLong(1), r.getSeq[Double](2).toArray)).sortBy(_._1)
      })
    }
  }

  /** Residual codebooks for IVF×PQ (FAISS IVFPQ, Jégou et al. 2011
    * §IV.A): the codes approximate `x − centroid(cell)`, so the
    * query-side table depends on the row's cell — the query residual
    * `q − centroid(cell)` differs per probed cell. With nprobe cells
    * the tables are still a planning-time constant (nprobe × nSub × K
    * doubles): each subspace's lookup becomes a two-level map literal
    * `cell → (code → d²)`, and the scan cost per row stays nSub map
    * lookups + an add chain over code columns only. `cells` must cover
    * every cell of the scanned rows (the probed cells — callers filter
    * first). Encode and save are the flat books' (applied to the
    * residual column).
    */
  final case class PerCell(books: Books, cellCol: String,
      cells: Seq[(Long, Array[Double])]) extends Quantizer {
    require(cells.nonEmpty && cells.size <= 65536,
      s"Pq.PerCell: ${cells.size} probed centroids")

    def dim: Int = books.dim

    def codeCols: Seq[String] = books.codeCols

    override def resultCols: Seq[String] = books.resultCols

    def encode(corpus: DataFrame, vecCol: String): DataFrame = books.encode(corpus, vecCol)

    def save(spark: SparkSession, dir: String): Unit = books.save(spark, dir)

    def queryDistance(queryVec: Array[Double]): Column = {
      val qres = cells.map { case (cell, cv) =>
        require(cv.length == queryVec.length,
          s"Pq.PerCell: centroid dim ${cv.length} != query dim ${queryVec.length}")
        (cell, Array.tabulate(queryVec.length)(j => queryVec(j) - cv(j)))
      }.sortBy(_._1)
      books.codebooks.indices.map { s =>
        val cellMaps = qres.flatMap { case (cell, qr) =>
          Seq(lit(cell), map(books.table(s, qr): _*))
        }
        element_at(element_at(map(cellMaps: _*), col(cellCol).cast("long")),
          col(s"code$s"))
      }.reduce(_ + _)
    }
  }
}
