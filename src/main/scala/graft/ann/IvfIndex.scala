package graft.ann

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Persistent IVF index: cell-partitioned parquet layout.
  *
  * `build` assigns every vector to its nearest centroid (Ann.ivfAssign)
  * and `save` writes the corpus `partitionBy("cell")` — on disk each
  * cell is its own directory. A probe then filters on the `cell`
  * column, which Spark turns into PARTITION PRUNING: searching
  * nprobe of nlist cells on a 100 TB corpus reads nprobe/nlist of the
  * files and nothing else (IvfIndexSpec asserts the pruned plan).
  * Centroids are a tiny side parquet, always broadcast.
  *
  * This is the batch-Spark answer to "online ANN serving needs special
  * structures": the structure IS the storage layout, maintained by the
  * same engine that populates it.
  */
final class IvfIndex private (
    val spark: SparkSession,
    val path: String,
    val idCol: String,
    val vecCol: String) {

  def centroids: DataFrame = spark.read.parquet(s"$path/centroids")

  def cells: DataFrame = spark.read.parquet(s"$path/cells")

  /** The slot count this layout was built with, from the tiny meta
    * parquet `build` writes next to the centroids. [[append]] defaults
    * to it, so appends preserve the build's write parallelism and
    * file-size bounds instead of funneling every cell into slot 0
    * (round-11 advice). Pre-meta layouts fall back to the observed
    * max slot + 1 (a partition-column-only aggregate), then 1.
    */
  def filesPerCell: Int =
    try spark.read.parquet(s"$path/meta")
      .select(col("files_per_cell")).head().getInt(0)
    catch { case _: org.apache.spark.sql.AnalysisException =>
      try cells.agg(max(col("slot"))).head().getInt(0) + 1
      catch { case _: Throwable => 1 }
    }

  /** Exact top-k within the `nprobe` cells nearest to the query —
    * query arrives as a one-row DataFrame (col qv), everything stays
    * declarative (Ann.ivfSearch's plan over the persisted layout: the
    * broadcast probe-cell join prunes partitions).
    */
  def search(query: DataFrame, qvecCol: String, nprobe: Int, k: Int): DataFrame =
    Ann.ivfSearch(cells, idCol, vecCol, centroids, "cell", "cv",
      query, qvecCol, nprobe, k)

  /** BATCHED probe: top-k for N query vectors in one plan — the
    * amortization that justifies running ANN in a batch engine. The
    * per-query probe sets are ranked in one bounded window over
    * (nlist × nq) rows, then the cells frame joins the broadcast
    * (qid, qv, cell) probe list ONCE: a cell probed by many queries
    * is still read from disk once and fanned to them in memory,
    * so scan cost is |distinct probed cells|, not nq × nprobe.
    * Top-k per query is the bounded-heap TopKAgg (≤ k rows per
    * (query × map partition) reach the shuffle), not a global sort.
    * Output mirrors Ann.bruteForceTopK: (qid, id, score, rk).
    */
  def searchBatch(queries: DataFrame, qidCol: String, qvecCol: String,
      nprobe: Int, k: Int): DataFrame = {
    val q = queries.select(col(qidCol).as("qid"), col(qvecCol).as("qv"))
    // per-query nearest cells via the bounded-heap TopKAgg (ties →
    // lowest cell id), not a window: the (nq × nlist) ranking frame
    // never sorts globally — ≤ nprobe rows per (query × map
    // partition) reach the shuffle, so a 10k-query batch over a
    // 65536-cell index shuffles 10k × nprobe rows, not 650M
    val probe = centroids.crossJoin(broadcast(q))
      .select(col("qid"),
        (-l2SqD(col("cv"), col("qv"))).as("_negd"), col("cell"))
      .groupBy(col("qid"))
      .agg(topK(col("_negd"), col("cell"), nprobe).as("_top"))
      .select(col("qid"), explode(col("_top.id")).as("cell"))
      .join(broadcast(q), "qid") // re-attach qv (tiny, one row per query)
      .select(col("qid"), col("qv"), col("cell"))
    cells
      .join(broadcast(probe), "cell")
      .withColumn("score_raw", cosine(col(vecCol), col("qv")))
      .groupBy(col("qid"))
      .agg(topK(col("score_raw"), col(idCol), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("_pos", "_t")))
      .select(col("qid"), col("_t.id").as(idCol),
        round(col("_t.score"), 6).as("score"),
        (col("_pos") + 1).cast("long").as("rk"))
  }

  /** Metadata-FILTERED probe: top-k among the corpus rows satisfying
    * `pred`, within the `nprobe` cells nearest the query. The layout
    * keeps every corpus column alongside (id, vector, cell), so the
    * predicate is applied directly to the cells frame BEFORE the probe
    * join — Catalyst pushes it into the parquet scan (PushedFilters)
    * where it composes with the cell partition pruning: the scan reads
    * nprobe/nlist of the files AND row-group-skips on the predicate
    * inside them. This is the production "filtered ANN" shape most
    * native indexes handle badly (post-filtering k results until
    * enough survive); here the filter is just another scan predicate
    * and k is exact over the filtered probe set.
    *
    * Probe selection is unfiltered (cells nearest the query) — the
    * filter restricts candidates, not geometry, so results are the
    * filtered subset of what an unfiltered scan of the same cells
    * would rank.
    */
  def searchWhere(query: DataFrame, qvecCol: String, nprobe: Int, k: Int,
      pred: org.apache.spark.sql.Column,
      keepCols: Seq[String] = Nil): DataFrame =
    Ann.ivfSearch(cells, idCol, vecCol, centroids, "cell", "cv",
      query, qvecCol, nprobe, k, Some(pred), keepCols)

  /** INCREMENTAL maintenance: assign a new batch to the EXISTING
    * centroids and append its rows into the cell layout — the ANN
    * counterpart of the dedup layer's persisted-artifact upkeep
    * (Dedup.mergeGroups, incrementalMatches): per-tick cost is one
    * narrow map over the batch (NearestCentroid kernel, no shuffle
    * beyond the clustering repartition) plus a clustered append
    * write touching only the batch's cells. No corpus read, no
    * rebuild. Row placement is identical to what a full rebuild with
    * the same centroids would produce (IvfIndexSpec pins search-result
    * identity), so probes are correct immediately after the append.
    *
    * Standing trades, both deliberate and both with their maintenance
    * job implemented: (1) each append adds one file per touched
    * (cell, slot) — [[compact]] rewrites a flagged cell back to one
    * file per slot (the Delta OPTIMIZE discipline; [[cellStats]]
    * exposes the counts for the decision); (2) centroids do NOT move
    * — as the corpus drifts, cells unbalance, and [[recluster]]
    * refits + rebuilds when [[populationSpread]] trips its threshold.
    * Both jobs are ingest-side maintenance, never query-side cost.
    */
  def append(batch: DataFrame, filesPerCell: Int = 0): Unit = {
    // default (0) = the slot count the layout was BUILT with, from the
    // persisted meta — an explicit override remains for callers that
    // deliberately re-shard a hot batch
    val fpc = if (filesPerCell > 0) filesPerCell else this.filesPerCell
    require(fpc > 0, "filesPerCell must be positive")
    IvfIndex.writeCells(Ann.ivfAssign(batch, idCol, vecCol, centroids, "cell", "cv"),
      idCol, fpc, SaveMode.Append, s"$path/cells")
  }

  /** COMPACTION (the Delta OPTIMIZE discipline named as a standing
    * trade in [[append]]'s scaladoc, now implemented): rewrite one
    * cell's accumulated append files back into the slot layout — one
    * file per (cell, slot) afterwards. The cell's rows are bounded
    * (~filesPerCell × targetRowsPerFile), so the eager materialization
    * that lets Spark overwrite a path it just read (localCheckpoint)
    * is bounded too — this is a per-cell maintenance job, never a
    * corpus action; run it for the cells [[cellStats]] flags. Slot
    * assignment is recomputed with the build's formula, so placement
    * (and therefore every search path) is identical before and after
    * (IvfMaintenanceSpec pins search identity).
    */
  def compact(cellId: Long): Unit = {
    val fpc = filesPerCell
    // membership is already recorded in the layout — compaction moves
    // FILES, never rows, so no re-assignment pass; slot is recomputed
    // with the build's formula (same value for rows placed by build,
    // the canonical value for rows a legacy append funneled to slot 0).
    //
    // The rewrite is staged at a TEMP path and swapped in as one
    // directory rename, NOT written over the live layout with dynamic
    // partition overwrite: dynamic overwrite only replaces (cell,
    // slot) partitions that receive rows, so a pre-existing slot
    // partition whose recomputed content is empty — e.g. rows an
    // append() with an explicit filesPerCell override larger than the
    // build's placed in slots >= the build's fpc — would survive
    // alongside the rewritten copies and silently DUPLICATE those
    // rows (round-12 advice). Deleting the whole cell=<id> directory
    // and renaming the staged one in replaces every historical slot,
    // whatever fpc wrote it, and needs no session-global
    // partitionOverwriteMode flip (which raced with concurrent
    // writers in the same session).
    val tmp = s"$path/.compact-tmp-cell-$cellId"
    IvfIndex.writeCells(cells.filter(col("cell") === cellId)
        .drop("cell", "slot").withColumn("cell", lit(cellId)),
      idCol, fpc, SaveMode.Overwrite, tmp)
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new Path(s"$path/cells/cell=$cellId")
    val staged = new Path(s"$tmp/cell=$cellId")
    try {
      fs.delete(live, true)
      // staged is absent iff the live cell had zero rows (the read
      // above saw nothing) — then the delete alone is the compaction
      if (fs.exists(staged)) require(fs.rename(staged, live),
        s"compact: rename $staged -> $live failed; staged rewrite left at $tmp")
    } finally {
      if (!fs.exists(staged)) fs.delete(new Path(tmp), true)
    }
    // the swap bypassed the datasource layer, so drop any cached file
    // listing / relation for the layout path
    spark.catalog.refreshByPath(s"$path/cells")
  }

  /** max/mean cell population — the re-cluster trigger named in
    * [[cellStats]]'s scaladoc: frozen centroids drift as the corpus
    * grows, cells unbalance, and probe cost follows the biggest cell.
    * 1.0 = perfectly balanced.
    */
  def populationSpread: Double = {
    val r = cellStats.agg(max(col("n_rows")).cast("double").as("_mx"),
      avg(col("n_rows")).as("_mean")).head()
    r.getDouble(0) / r.getDouble(1)
  }

  /** RE-CLUSTERING (the other standing trade): when
    * [[populationSpread]] exceeds `threshold`, refit centroids on the
    * CURRENT corpus (seeded MLlib k-means, √n nlist rule — cell count
    * tracks the grown corpus) and rebuild the layout at `newPath`,
    * returning the new index; below the threshold, return `this`
    * unchanged. A full corpus scan + layout rewrite by design — this
    * is the ingest-side maintenance job appends amortize against, and
    * writing to a NEW versioned path (never in place) keeps readers of
    * the old layout correct mid-rebuild; callers swap paths when the
    * build lands (the serving tier re-pins via IvfServing.refresh).
    */
  def recluster(threshold: Double, newPath: String,
      seed: Long = 42L): IvfIndex = {
    require(threshold >= 1.0, s"recluster: threshold=$threshold must be >= 1")
    if (populationSpread <= threshold) this
    else {
      val corpus = cells.drop("cell", "slot")
      val nlist = AnnTuner.ivfNlist(corpus.count())
      // maxIter pinned at the pre-round-15 5: this is the periodic
      // MAINTENANCE rebuild, where latency matters more than the last
      // 1.5 recall points buildWithKMeans's new default (25) buys —
      // callers wanting the deeper fit pass it explicitly
      // (round-15 advice: the default change silently ~5×'d this path)
      IvfIndex.buildWithKMeans(corpus, idCol, vecCol, nlist, newPath, seed,
        maxIter = 5)
    }
  }

  /** Per-cell population — the maintenance dashboard: population
    * spread says when the frozen centroids stopped fitting the data
    * (re-cluster), row counts per cell say when cells outgrow their
    * file budget (compact / raise filesPerCell).
    */
  def cellStats: DataFrame =
    cells.groupBy(col("cell")).agg(count(lit(1)).as("n_rows"))

  /** CORPUS-AS-QUERIES probe table: every layout row with the `np`
    * cells nearest its OWN vector — the ingest-side half of the
    * knn_join production path ([[knnJoinSelf]]). Like the layout, the
    * probe list is a property of the corpus version (it depends only
    * on the rows and this layout's centroids), so a standing pipeline
    * persists it once per ingest instead of re-bucketing the corpus
    * per run (the LSH knn_join re-derives planes + buckets every
    * call — fine as a one-shot, wasteful as a pipeline stage).
    *
    * Shape at 100 TB: the probe list is a NARROW MAP over the corpus
    * (graft.functions.expr.NearestCentroids — one codegen'd centroid
    * scan per row, no n×nlist crossJoin, no shuffle) followed by the
    * explode to exactly n×np rows. `keepCols` rides the block/filter
    * columns (e.g. label) into the artifact so the per-run join needs
    * no third table.
    */
  def selfProbeTable(np: Int, keepCols: Seq[String] = Nil): DataFrame =
    probeRows(cells, np, keepCols)

  /** Probe rows for ONE ingest batch — the incremental-maintenance
    * half of the self-probe artifact (round-13 verdict #5): [[append]]
    * maintains the cell layout per tick, and this computes the SAME
    * narrow NearestCentroids map over just the batch's rows so the
    * tick appends its probe rows into the probe parquet instead of
    * forcing a full [[selfProbeTable]] rebuild. Placement depends
    * ONLY on this layout's frozen centroids, so append ≡ rebuild by
    * construction (SelfProbeMaintenanceSpec property-checks it on
    * random corpus splits). Per-tick cost: one codegen'd centroid
    * scan per batch row + a parquet append — no corpus read, no
    * shuffle.
    */
  def selfProbeForBatch(batch: DataFrame, np: Int,
      keepCols: Seq[String] = Nil): DataFrame =
    probeRows(batch, np, keepCols)

  /** [[selfProbeForBatch]] + the append write — the probe-artifact
    * mirror of [[append]]'s layout maintenance, so one batch tick is
    * `idx.append(batch); idx.appendSelfProbe(batch, probePath, np,
    * keep)` and both standing artifacts stay consistent with a full
    * rebuild.
    */
  def appendSelfProbe(batch: DataFrame, probePath: String, np: Int,
      keepCols: Seq[String] = Nil): Unit =
    selfProbeForBatch(batch, np, keepCols)
      .write.mode(SaveMode.Append).parquet(probePath)

  private def probeRows(src: DataFrame, np: Int,
      keepCols: Seq[String]): DataFrame = {
    val kernel = Centroids.collect(centroids, "cell", "cv").probes(col(vecCol), np)
    // qn is the L2 norm, persisted so the per-run join scores with
    // cosinePreNorm — plain cosine recomputes BOTH self-dots per
    // candidate pair, 3× the pair flops (the v_topk_prenorm lesson;
    // sqrt(dotD(v,v)) here is the same fold, so scores stay
    // bit-identical)
    src
      .select(col(idCol).as("qid") +: col(vecCol).as("qv") +:
        normD(col(vecCol)).as("qn") +:
        keepCols.map(c => col(c).as(s"q_$c")) :+ kernel.as("_probes"): _*)
      .select(col("qid") +: col("qv") +: col("qn") +:
        keepCols.map(c => col(s"q_$c")) :+
        explode(col("_probes")).as("cell"): _*)
  }

  /** Corpus×corpus k-nearest-neighbors against this layout — the
    * PRODUCTION knn_join: `probes` is a (persisted) [[selfProbeTable]]
    * frame, candidates are the layout rows sharing a probed cell (and
    * every `blockCols` value), scores are exact cosines, top-k per
    * query via the bounded-heap TopKAgg. Output mirrors
    * Ann.knnJoinLsh: (qid, id, score, rk).
    *
    * Scale shape: both sides are corpus-sized, so the candidate join
    * shuffles both on (cell, blockCols) — the only shuffle. The
    * physical strategy is a SHUFFLED-HASH join with the LAYOUT as
    * the build side, not an SMJ: the probe side is np× the layout's
    * rows and each row carries the full query vector, so the SMJ's
    * sort of that side (plus sort-order-preserving row production
    * across a ~100-rows-per-key join amplification) dominated the
    * whole query — measured 10.6→6.5 s at the 100× corpus, np=16,
    * with np=3 flat (round-14 A/B). Build-side memory is bounded by
    * the same discipline as every shuffle: layout_rows/partitions per
    * task (the np× smaller side, and spillable in Spark 4). Per-key
    * groups are bounded by cell population (√n under the nlist rule)
    * intersected with the block; candidates per query =
    * np × |cell ∩ block|; the exact cosines feed TopKAgg directly
    * (map-side partial heaps — ≤ k rows per (query × partition)
    * reach the final shuffle), the round-12 lesson that a partial-agg
    * consumer makes the join itself optimal.
    */
  def knnJoinSelf(probes: DataFrame, blockCols: Seq[String], k: Int): DataFrame = {
    val blockCond = blockCols
      .map(c => col(c) === col(s"q_$c"))
      .foldLeft(col("cell") === col("_pcell"))(_ && _)
    val p = probes.select(
      col("qid") +: col("qv") +: col("qn") +: col("cell").as("_pcell") +:
        blockCols.map(c => col(s"q_$c")): _*)
    // member norms once per corpus row BEFORE the join (narrow map);
    // the probe side's came persisted — per pair the score is then
    // one dot + one multiply instead of three dots
    cells
      .withColumn("_nb", normD(col(vecCol)))
      .hint("shuffle_hash")
      .join(p, blockCond && col(idCol) =!= col("qid"))
      .withColumn("score_raw",
        cosinePreNorm(col(vecCol), col("_nb"), col("qv"), col("qn")))
      .groupBy(col("qid"))
      .agg(topK(col("score_raw"), col(idCol), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("_pos", "_t")))
      .select(col("qid"), col("_t.id").as(idCol),
        round(col("_t.score"), 6).as("score"),
        (col("_pos") + 1).cast("long").as("rk"))
  }

  /** Probe with a driver-known cell list — compiles to static
    * partition pruning (PartitionFilters in the scan).
    */
  def searchCells(cellIds: Seq[Long], query: DataFrame, qvecCol: String, k: Int): DataFrame = {
    val q = broadcast(query.select(col(qvecCol).as("qv")))
    cells
      .filter(col("cell").isin(cellIds: _*))
      .crossJoin(q)
      .withColumn("score_raw", cosine(col(vecCol), col("qv")))
      .orderBy(desc("score_raw"), col(idCol))
      .limit(k)
      .select(col(idCol), col("cell"), round(col("score_raw"), 6).as("score"))
  }
}

object IvfIndex {

  /** Rows a single cell file should hold before the layout splits the
    * cell across slot files (~64-dim float vectors + metadata ≈
    * 300 B/row → ~150 MB parquet, a healthy file grain).
    */
  val DefaultTargetRowsPerFile = 500000L

  /** Assign + write the cell-partitioned layout. `centroids` must have
    * (cid, cv) columns; rule of thumb nlist ≈ √n cells.
    *
    * The assigned frame is clustered on the partition key before the
    * partitioned write: without it every write task emits a file into
    * every cell directory it sees — tasks × nlist tiny files — and a
    * probe pays file-grain overhead (open + footer per fragment)
    * instead of data cost; measured 8-15s vs ~2s for an 8-query batch
    * probe on the 100× corpus (~32 fragments/cell).
    *
    * The partition key is COMPOSED — (cell, slot = pmod(hash(id),
    * filesPerCell)) — so a hot cell is never capped at one write task
    * and one parquet file (the Delta OPTIMIZE discipline): pruning
    * still prunes on the leading `cell` directory level, writes of a
    * big cell parallelize across its slots, and per-file rows stay
    * ~targetRowsPerFile. `filesPerCell` ≤ 0 sizes itself from the
    * MEAN rows/cell (corpus count ÷ nlist — both already known at
    * ingest); at bench scales that resolves to 1 slot per cell, i.e.
    * exactly the old one-file-per-cell layout plus one directory
    * level.
    */
  def build(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, cidCol: String, cvecCol: String, path: String,
      filesPerCell: Int = 0,
      targetRowsPerFile: Long = DefaultTargetRowsPerFile): IvfIndex = {
    val cents = centroids.select(col(cidCol).as("cell"), col(cvecCol).as("cv"))
    val fpc = resolveFilesPerCell(corpus, cents, filesPerCell, targetRowsPerFile)
    writeLayout(Ann.ivfAssign(corpus, idCol, vecCol, cents, "cell", "cv"),
      idCol, cents, fpc, path)
    new IvfIndex(corpus.sparkSession, path, idCol, vecCol)
  }

  /** The (cell, slot = pmod(hash(id), fpc)) partitioned write shared
    * by every layout writer (build, append, compact, IvfPqIndex.build),
    * clustered on the partition key first (see [[build]]).
    */
  private[ann] def writeCells(rows: DataFrame, idCol: String, fpc: Int,
      mode: SaveMode, dest: String): Unit =
    rows.withColumn("slot", pmod(hash(col(idCol)), lit(fpc)))
      .repartition(col("cell"), col("slot"))
      .write.mode(mode).partitionBy("cell", "slot").parquet(dest)

  /** A built layout: the assigned rows, then the (cell, cv) centroids
    * and the resolved slot count as one-file side frames — every later
    * centroid collect or meta read is a single-task job, and
    * append/compact reuse the build's slot count instead of a
    * caller-remembered constant.
    */
  private[ann] def writeLayout(assigned: DataFrame, idCol: String,
      cents: DataFrame, fpc: Int, path: String): Unit = {
    writeCells(assigned, idCol, fpc, SaveMode.Overwrite, s"$path/cells")
    cents.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/centroids")
    cents.sparkSession.range(1).select(lit(fpc).as("files_per_cell"))
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/meta")
  }

  /** Slot count from the mean cell population: max(1, ⌈(n/nlist) /
    * targetRowsPerFile⌉). Shared with IvfPqIndex.
    */
  private[ann] def resolveFilesPerCell(corpus: DataFrame, cents: DataFrame,
      filesPerCell: Int, targetRowsPerFile: Long): Int =
    if (filesPerCell > 0) filesPerCell
    else {
      require(targetRowsPerFile > 0, "targetRowsPerFile must be positive")
      val n = corpus.count()
      val nlist = math.max(1L, cents.count())
      math.max(1L, math.ceil(n.toDouble / nlist / targetRowsPerFile).toLong).toInt
    }

  def load(spark: SparkSession, path: String, idCol: String, vecCol: String): IvfIndex =
    new IvfIndex(spark, path, idCol, vecCol)

  /** buildWithKMeans with nlist from the √n rule (AnnTuner.ivfNlist) —
    * cell count grows with the corpus so probe cost (nprobe/nlist of
    * the data) stays a ~constant fraction.
    */
  def buildAuto(corpus: DataFrame, idCol: String, vecCol: String,
      path: String, seed: Long = 42L): IvfIndex = {
    val st = AnnTuner.stats(corpus, vecCol, None)
    buildWithKMeans(corpus, idCol, vecCol, AnnTuner.ivfNlist(st.n), path, seed)
  }

  /** Learn the `nlist` centroids with MLlib k-means (seeded → rerun-
    * reproducible) instead of taking seed rows — tighter cells mean a
    * given recall needs fewer probes, i.e. less of the corpus read.
    * The fitted centers come back as a small local array → a
    * broadcastable centroid DataFrame, then the layout build is
    * identical to `build`.
    *
    * Measured (BENCH_KMEANS_r15.json, KnnRecallCurve paired runs —
    * the same nlist, only the quantizer differs): on a 64-cluster
    * mixture-of-Gaussians corpus (the topical shape real embeddings
    * have) the learned quantizer needs HALF the probe width for
    * equal-or-better join recall at 20k (km np=8: 0.996 vs seed-row
    * np=16: 0.993) and at 200k lifts np=16 recall 0.939 → 0.968 with
    * 14% fewer candidate pairs; on the uniform sphere it is never
    * worse. The active ingredient is the k-means|| INIT, not the
    * refinement: Lloyd's from the seed rows plateaus at the seed
    * placement's recall (200k np=16: 0.929 — below the raw seed
    * rows), which is also why the SQL-oracled entries keep seed-row
    * centroids (the reference point an external engine can replay)
    * while the serving/streaming build path uses this. maxIter
    * default is 25, measured: 5 iters leaves recall at 0.953 on the
    * clustered-200k point where 25 reaches 0.968 at equal candidate
    * count.
    */
  def buildWithKMeans(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, path: String, seed: Long = 42L, maxIter: Int = 25): IvfIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = corpus.sparkSession
    import spark.implicits._
    val feats = corpus.select(
      col(idCol), array_to_vector(col(vecCol).cast("array<double>")).as("features"))
    val model = new KMeans()
      .setK(nlist).setSeed(seed).setMaxIter(maxIter)
      .fit(feats)
    val cents = model.clusterCenters.zipWithIndex
      .map { case (v, i) => (i.toLong, v.toArray) }.toSeq
      .toDF("cid", "cv")
    build(corpus, idCol, vecCol, cents, "cid", "cv", path)
  }
}
