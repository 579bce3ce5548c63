package graft.queries

import org.apache.spark.sql.functions._

import graft.ann.Ann
import QueryUtil._

/** ANN suite over the `embeddings` table — see graft.ann.Ann for the
  * operator semantics and the 100 TB pruning story. Query vectors are
  * always rows of the table itself (vec_id predicates) so the oracle
  * can reproduce them; the md5-derived LSH planes are likewise
  * engine-portable.
  */
object AnnQueries {

  private val Dim = 64

  /** DuckDB: cosine between two DOUBLE[] lists, with the SAME
    * zero-norm guard the Spark side applies (VectorFunctions.cosine /
    * cosinePreNorm map a zero-norm side to 0.0 — "no similarity" —
    * instead of dividing by zero). Without the mirror, a zero-norm
    * embedding would score NaN here and 0.0 on the Spark side; the
    * corpus-as-queries entries (knn_join*) exercise every row's norm,
    * so the guard is load-bearing, not cosmetic (round-13 advice).
    * Non-zero inputs are bit-identical to the unguarded form.
    */
  private def sqlCos(a: String, b: String): String =
    s"""(CASE WHEN sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)) = 0 THEN 0.0
       |ELSE list_dot_product($a, $b) /
       |(sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))) END)""".stripMargin

  /** Shared by ann_ivf and ann_ivf_persisted (same centroids, probe
    * geometry, and scoring — the persisted entry only changes where
    * the assigned cells are read from).
    */
  private lazy val IvfOracleSql: String =
    s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
       |m AS (SELECT GREATEST(1, CAST(FLOOR(SQRT(count(*))) AS BIGINT)) AS m FROM embeddings),
       |cent AS (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cv
       |         FROM embeddings, m WHERE vec_id % m = 0),
       |assign AS (
       |  SELECT vec_id, embedding, cell,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY list_distance(CAST(embedding AS DOUBLE[]), cv), cell) AS rn
       |  FROM embeddings, cent),
       |probe AS (SELECT cell FROM cent, q ORDER BY list_distance(cv, qv), cell LIMIT 3)
       |SELECT vec_id, cell, round(${sqlCos("CAST(embedding AS DOUBLE[])", "qv")}, 6) AS score
       |FROM assign JOIN probe USING (cell), q
       |WHERE rn = 1
       |ORDER BY ${sqlCos("CAST(embedding AS DOUBLE[])", "qv")} DESC, vec_id LIMIT 10""".stripMargin

  /** The shared persisted IVF layout (√n seed-row centroids — the
    * ann_ivf geometry): built once per JVM per corpus, probed by
    * ann_ivf_persisted AND knn_join_ivf — one index serving both the
    * point-query and the corpus-join workload, exactly how a
    * production pipeline amortizes the build.
    */
  private def ivfLayoutPath(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    persistedArtifact("ivf", dir) { p =>
      val emb = t(s, dir, "embeddings")
      val cent = seedCentroids(emb, graft.ann.AnnTuner.statsCached(
        s"$dir|embeddings", emb, "embedding", None).n)
      graft.ann.IvfIndex.build(emb, "vec_id", "embedding", cent, "cid", "cv", p)
      ()
    }

  val defs: Map[String, Q] = Map(
    "ann_brute_batch" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.bruteForceTopK(
          emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 8), "vec_id", "embedding", k = 5)
        .orderBy(col("qid"), col("rk"))
    }),

    "ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // √n centroid sizing (AnnTuner's IVF rule, seedCentroids): a
      // fixed modulus makes centroid count grow linearly with the
      // corpus and the assign crossJoin O(n²/M) — the 100× sweep
      // caught exactly that (a %50 literal meant 4000 centroids × 200k
      // vectors). n comes from the per-corpus-per-JVM stats cache
      // (AnnTuner.statsCached) — one planning count job per corpus,
      // not one per query build; an in-plan scalar subquery would cost
      // two broadcast-agg subplans and ~6s of fixed AQE latency.
      val cent = seedCentroids(emb, graft.ann.AnnTuner.statsCached(
        s"$dir|embeddings", t(s, dir, "embeddings"), "embedding", None).n)
      val assigned = Ann.ivfAssign(emb, "vec_id", "embedding", cent, "cid", "cv")
      Ann.ivfSearch(assigned, "vec_id", "embedding", cent, "cid", "cv",
          emb.filter(col("vec_id") === 0L).select(col("embedding").as("qv")), "qv",
          nprobe = 3, k = 10)
        .orderBy(desc("score"), col("vec_id"))
    }),

    "ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.lshSearch(
          emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 4), "vec_id", "embedding",
          nPlanes = 4, dim = Dim, k = 5)
        .orderBy(col("qid"), col("rk"))
    }),

    // The PERSISTED IVF path (reference: local_index.py:126-151 —
    // queries run against the LOADED index, not a rebuilt one): build
    // writes the corpus partitionBy(cell) once per JVM per corpus
    // (QueryUtil.persistedArtifact), then the query is IvfIndex.search
    // against the on-disk layout — the probe's cell join prunes to
    // nprobe of nlist partition directories. Same √n seed-row
    // centroids and probe geometry as ann_ivf, so search results (and
    // the oracle) are identical; what THIS entry checks is that the
    // save → load → partition-pruned-probe path preserves them.
    "ann_ivf_persisted" -> ((s, dir) => {
      graft.ann.IvfIndex.load(s, ivfLayoutPath(s, dir), "vec_id", "embedding")
        .search(
          t(s, dir, "embeddings").filter(col("vec_id") === 0L)
            .select(col("embedding").as("qv")),
          "qv", nprobe = 3, k = 10)
        // partition-column type inference reads cell back as int
        .select(col("vec_id"), col("cell").cast("long").as("cell"), col("score"))
        .orderBy(desc("score"), col("vec_id"))
    }),

    // INCREMENTALLY-MAINTAINED layout (IvfIndex.append): the index is
    // built on 90% of the corpus, then the remaining batch
    // (vec_id % 10 = 7) is assigned to the SAME frozen centroids and
    // appended into the cell directories — one narrow batch map + a
    // clustered append, no rebuild, no corpus read (the continuous-
    // ingestion shape for ANN, mirroring dd_incremental /
    // Dedup.mergeGroups on the dedup side). Assignment depends only
    // on the centroids, so the final layout holds exactly the rows a
    // full build would — the probe is row-identical to
    // ann_ivf_persisted and the oracle is shared verbatim.
    "ann_ivf_append" -> ((s, dir) => {
      val idxPath = persistedArtifact("ivfapp", dir) { p =>
        val emb = t(s, dir, "embeddings")
        val cent = seedCentroids(emb, graft.ann.AnnTuner.statsCached(
          s"$dir|embeddings", emb, "embedding", None).n)
        val idx = graft.ann.IvfIndex.build(
          emb.filter(pmod(col("vec_id"), lit(10)) =!= 7),
          "vec_id", "embedding", cent, "cid", "cv", p)
        idx.append(emb.filter(pmod(col("vec_id"), lit(10)) === 7))
      }
      graft.ann.IvfIndex.load(s, idxPath, "vec_id", "embedding")
        .search(
          t(s, dir, "embeddings").filter(col("vec_id") === 0L)
            .select(col("embedding").as("qv")),
          "qv", nprobe = 3, k = 10)
        .select(col("vec_id"), col("cell").cast("long").as("cell"), col("score"))
        .orderBy(desc("score"), col("vec_id"))
    }),

    // BATCHED probe against the SAME persisted layout
    // (IvfIndex.searchBatch): 8 query vectors in one plan — per-query
    // probe cells ranked in one bounded window, then the cells frame
    // joins the broadcast probe list ONCE (a cell probed by many
    // queries is read once and fanned in memory), top-k per query via
    // the bounded-heap TopKAgg. The batch-amortization shape that
    // justifies ANN in a batch engine: scan cost is |distinct probed
    // cells|, not nq × nprobe.
    "ann_ivf_batch" -> ((s, dir) => {
      graft.ann.IvfIndex.load(s, ivfLayoutPath(s, dir), "vec_id", "embedding")
        .searchBatch(
          t(s, dir, "embeddings").filter(col("vec_id") < 8),
          "vec_id", "embedding", nprobe = 3, k = 10)
        .orderBy(col("qid"), col("rk"))
    }),

    // metadata-FILTERED probe against the SAME persisted layout
    // (IvfIndex.searchWhere): top-k among rows with label = 1 inside
    // the probed cells. The label predicate lands in the cells scan
    // (PushedFilters) and composes with the cell partition pruning —
    // the batch-Spark answer to filtered ANN, which native indexes
    // post-filter (scan until k survivors). k is exact over the
    // filtered probe set; probe geometry (nprobe cells nearest the
    // query) is unchanged by the filter.
    "ann_ivf_filtered" -> ((s, dir) => {
      graft.ann.IvfIndex.load(s, ivfLayoutPath(s, dir), "vec_id", "embedding")
        .searchWhere(
          t(s, dir, "embeddings").filter(col("vec_id") === 0L)
            .select(col("embedding").as("qv")),
          "qv", nprobe = 3, k = 10,
          pred = col("label") === 1, keepCols = Seq("label"))
        .select(col("vec_id"), col("cell").cast("long").as("cell"),
          col("label"), col("score"))
        .orderBy(desc("score"), col("vec_id"))
    }),

    // recall@5 of the LSH index against exact brute-force ground
    // truth — the index-quality metric that decides plane counts /
    // probe budgets in production. Composes the two already-oracled
    // plans; the oracle nests both queries' SQL verbatim.
    "ann_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 4)
      val brute = Ann.bruteForceTopK(emb, "vec_id", "embedding",
          qs, "vec_id", "embedding", k = 5)
        .select(col("qid"), col("vec_id"))
      val lsh = Ann.lshSearch(emb, "vec_id", "embedding",
          qs, "vec_id", "embedding", nPlanes = 4, dim = Dim, k = 5)
        .select(col("qid"), col("vec_id"))
      // both sides are ≤ nQueries×k rows by construction — broadcast
      // (the planner's stats can't see that through the topK aggs)
      val hits = brute.join(broadcast(lsh), Seq("qid", "vec_id"), "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).as("n_hits"))
      brute.select(col("qid")).distinct()
        .join(broadcast(hits), Seq("qid"), "left")
        .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
        .withColumn("recall", round(col("n_hits") / 5.0, 6))
        .orderBy(col("qid"))
    }),

    // product quantization (graft.ann.Pq): 8 subspace codebooks of
    // ~32 codewords (deterministic n/K seed rule, one decimal-exact
    // Lloyd update), byte-sized codes, ADC top-100 candidates read
    // from the code columns only, exact rerank to 10 (FAISS's refine
    // shape); exact_score vs adc surfaces the quantization error.
    // Pq.fit materializes the codebooks driver-side (one merged Lloyd
    // pass), so encode and the ADC tables consume local relations.
    "ann_pq" -> ((s, dir) => pqTopK(s, dir)),

    // recall@9 of the PQ index against exact brute-force ground truth
    // (the self-hit is excluded on both sides) — the quality dial for
    // (nSub, K, iters), same role ann_recall plays for the LSH index.
    // Oracle nests the ann_pq oracle verbatim plus its own brute CTE.
    "ann_pq_recall" -> ((s, dir) => recallAt9(s, dir, pqPersistedTopK(s, dir))),

    // IVF×PQ — the production composition (FAISS's IVFPQ shape): the
    // IVF coarse layer prunes the scan to nprobe cells (on a
    // partitionBy(cell) layout that is partition pruning on disk),
    // then PQ's ADC ranks inside them reading only the byte codes.
    // At 100 TB: nprobe/nlist of the data touched, 4 bytes per
    // touched row. The probe-set selection runs driver-side over the
    // bounded centroid frame with the SAME d² fold and (d², cell)
    // tiebreak the oracle's probe CTE orders by.
    "ann_ivf_pq" -> ((s, dir) => ivfPqTopK(s, dir)),

    // recall@9 of the composed IVF×PQ index against exact brute-force
    // ground truth (self-hit excluded both sides) — the quality dial
    // for (nlist, nprobe) × (nSub, K, candidates) on the PRODUCTION
    // index shape: unlike ann_pq_recall it also charges the coarse
    // layer's misses (a true neighbor in an unprobed cell can never
    // be recalled, whatever the code budget). Candidate side probes
    // the PERSISTED layout (a production eval job measures the served
    // index; the shared oracle pins it row-identical to the chain).
    // Oracle nests the ann_ivf_pq oracle verbatim plus its own brute
    // CTE.
    "ann_ivf_pq_recall" -> ((s, dir) => recallAt9(s, dir, ivfPqPersistedTopK(s, dir))),

    // Recall DECOMPOSITION for the composed index — the evidence dial
    // residual encoding makes readable: coarse_hits = how many of the
    // true top-9 live in the probed nprobe cells (the coarse layer's
    // CEILING — no code scheme recovers a neighbor in an unprobed
    // cell), pq_hits = how many the full residual-ADC chain returned,
    // recall_within_probe = pq_hits/coarse_hits. Residual encoding
    // (FAISS IVFPQ, Jégou §IV.A) makes the within-probe term 1.0 on
    // the synthetic sphere: every recallable neighbor IS recalled, so
    // the composed index's total recall equals the coarse ceiling —
    // and raising it is a (nlist, nprobe) decision, not a code-budget
    // one. (Flat PQ at a full scan measures 8/9 — raw-vector ADC
    // loses a neighbor to quantization that residual ADC does not.)
    "ann_ivf_pq_coarse" -> ((s, dir) => {
      // coarse side from the PERSISTED layout (round 13, the recall-
      // entry move): the cells frame's partition column IS the
      // assignment the chain's _ivf_cell carried (same NearestCentroid
      // kernel at build; the shared ann_ivf_pq oracle pins the layout
      // row-identical), so the decomposition reads (vec_id, cell) off
      // the layout instead of re-running fit + assign + encode
      val idx = ivfPqPersistedIndex(s, dir)
      val qvArr = queryVec0(s, dir)
      val probed = idx.probeCells(qvArr, nprobe = IvfPqProbe)
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") === 0L)
      val brute = Ann.bruteForceTopK(emb, "vec_id", "embedding",
          qs, "vec_id", "embedding", k = 9)
        .select(col("vec_id"))
      val coarse = idx.cells
        .select(col("vec_id"), col("cell").cast("long").as("cell"))
        .join(broadcast(brute), Seq("vec_id"), "left_semi")
        .filter(col("cell").isin(probed: _*))
        .agg(count(lit(1)).as("coarse_hits"))
      val ivfpq = idx.searchCells(probed, qvArr, k = 10, candidates = PqRerank)
        .filter(col("vec_id") =!= 0L)
        .select(col("vec_id"))
      val pqHits = brute.join(broadcast(ivfpq), Seq("vec_id"), "left_semi")
        .agg(count(lit(1)).as("pq_hits"))
      coarse.crossJoin(pqHits)
        .select(col("coarse_hits"), col("pq_hits"),
          round(col("pq_hits") / col("coarse_hits"), 6).as("recall_within_probe"))
    }),

    // The PERSISTED IVF×PQ path — the production shape the in-query
    // ann_ivf_pq entry documents: fit + assign + encode paid ONCE at
    // ingest (QueryUtil.persistedArtifact), the layout written
    // partitionBy(cell) with the byte codes alongside, and the query
    // is probeCells (driver-side, same d² fold + tiebreak as the
    // oracle) + searchCells — static partition pruning into an ADC
    // scan that reads only the code columns. Same centroids, books,
    // and probe geometry as ann_ivf_pq, so results (and the oracle)
    // are identical; what THIS entry checks is that save → load →
    // pruned-probe preserves them.
    "ann_ivf_pq_persisted" -> ((s, dir) => ivfPqPersistedTopK(s, dir)),

    // The PERSISTED flat-PQ path — the production shape for the plain
    // ann_pq entry, closing the loop ann_ivf_pq_persisted closed for
    // the composed index: the Lloyd fit + encode (which dominate
    // ann_pq's in-query wall clock at scale) are paid ONCE at ingest
    // (QueryUtil.persistedArtifact), the layout is one parquet of
    // (id, vector, byte codes) + tiny codebook parquets, and the
    // query's candidate pass reads ONLY the code columns off disk
    // (columnar projection — nSub bytes/row, not dim×4; asserted by
    // PqIndexSpec) before the bounded exact rerank. Same books and
    // geometry as ann_pq, so results (and the oracle) are identical;
    // what THIS entry checks is that save → load → code-only-scan
    // preserves them.
    "ann_pq_persisted" -> ((s, dir) => pqPersistedTopK(s, dir)),

    // SQ8 scalar quantization (graft.ann.Sq) — the first rung of the
    // compression ladder: per-dimension min/max grid (ONE partial-agg
    // fit pass, no training), dim uint8 codes in a single binary
    // column (4× I/O cut), asymmetric-distance candidate scan
    // (codegen'd SqAdc kernel over the byte codes) + exact rerank.
    "ann_sq" -> ((s, dir) => sqTopK(s, dir)),

    // recall@9 of the SQ8 index vs exact ground truth (self-hit
    // excluded both sides) — the quality dial for `candidates` on the
    // 8-bit grid; with 256 levels per dimension the quantization error
    // is tiny, so SQ8's recall ceiling sits above PQ's at 4× (vs 32×)
    // compression — exactly the trade the ladder documents.
    "ann_sq_recall" -> ((s, dir) => recallAt9(s, dir, sqPersistedTopK(s, dir))),

    // The PERSISTED SQ8 path (graft.ann.CodedIndex): fit + encode paid
    // once at ingest, layout = (id, vector, codes[binary]) parquet +
    // a 2-row grid parquet; the query's candidate pass reads ONLY the
    // (id, codes) columns — dim bytes/row, asserted by SqIndexSpec —
    // before the bounded exact rerank. Same grid and geometry as
    // ann_sq, so results (and the oracle) are identical; what THIS
    // entry checks is that save → load → code-only-scan preserves
    // them.
    "ann_sq_persisted" -> ((s, dir) => sqPersistedTopK(s, dir)),

    // 1-bit binary quantization (graft.ann.Bq) — the BOTTOM rung of
    // the compression ladder (64 dims → 8 bytes, 32× less candidate
    // I/O than the float scan): midpoint sign bits (one min/max fit
    // pass, no training), XOR+popcount Hamming candidate scan
    // (codegen'd BqHamming over the packed codes — integer, so the
    // candidate ordering has no float surface), exact rerank. The
    // production role is the cheapest first-pass filter in front of
    // a finer index at 100 TB.
    "ann_bq" -> ((s, dir) => bqTopK(s, dir)),

    // recall@9 of the 1-bit index vs exact ground truth (self-hit
    // excluded both sides) — quantifies what 1 bit/dim loses vs SQ8
    // (ann_sq_recall) and PQ (ann_pq_recall) at the SAME candidate
    // budget: the quality dial for the ladder's cheapest rung.
    "ann_bq_recall" -> ((s, dir) => recallAt9(s, dir, bqPersistedTopK(s, dir))),

    // The PERSISTED 1-bit path (graft.ann.CodedIndex): fit + encode paid
    // once at ingest, layout = (id, vector, bcodes[binary]) parquet +
    // a 1-row thresholds parquet; the query's candidate pass reads
    // ONLY the (id, bcodes) columns — ceil(dim/8) bytes/row, asserted
    // by BqSpec — before the bounded exact rerank. Same thresholds
    // and geometry as ann_bq, so results (and the oracle) are
    // identical; what THIS entry checks is that save → load →
    // code-only-scan preserves them.
    "ann_bq_persisted" -> ((s, dir) => bqPersistedTopK(s, dir)),

    // approximate kNN: (label × LSH bucket) blocking, multi-probe
    // hamming-1 — the exact label-blocked join is quadratic in block
    // size (162s at a 10× scale-up). The plane count comes from
    // AnnTuner's bucket-geometry rule (smallest p with
    // maxBlock·(p+1)/2^p ≤ 64) so per-vector candidates stay bounded
    // as blocks grow — a FIXED plane count re-creates the quadratic
    // join one scale-up later (the ann_ivf %50 lesson). The oracle
    // computes the identical p from the same corpus stats.
    "knn_join" -> ((s, dir) => {
      Ann.knnJoinLshTuned(t(s, dir, "embeddings"), "vec_id", "embedding",
          blockCol = "label", k = 3, targetCandidates = 64,
          statsKey = Some(s"$dir|embeddings"))
        .orderBy(col("vec_id"), col("rk"))
    }),

    // The INDEX-PROBED production twin of knn_join (round-12 verdict
    // #1): a standing pipeline runs corpus×corpus kNN against the
    // persisted IVF layout instead of re-bucketing the corpus per run.
    // Ingest side: the SAME layout artifact ann_ivf_persisted probes
    // (√n seed-row centroids) plus a persisted self-probe table —
    // each vector's nprobe nearest cells via the NearestCentroids
    // narrow map (no n×nlist crossJoin; the probe list is a property
    // of the corpus version like every other ingest artifact). Per
    // run: one big-big shuffled-hash join of probes against the
    // layout on (cell, label) feeding exact cosines straight into the
    // bounded-heap TopKAgg. Probe width = [[KnnJoinProbe]] — the
    // measured operating point (see the constant's curve). Semantics
    // are its OWN oracle below (IVF-probed label-blocked kNN replayed
    // in SQL — assignment, probe ranking, tie orders, all bit-
    // pinned); knn_join stays the recall-measured one-shot parent.
    "knn_join_ivf" -> ((s, dir) => {
      val idx = graft.ann.IvfIndex.load(s, ivfLayoutPath(s, dir),
        "vec_id", "embedding")
      val probes = persistedTable(s, "ivfknnprobe", dir) { p =>
        idx.selfProbeTable(np = KnnJoinProbe, keepCols = Seq("label"))
          .write.mode("overwrite").parquet(p)
      }
      idx.knnJoinSelf(probes, Seq("label"), k = 3)
        .select(col("qid").as("vec_id"), col("vec_id").as("nbr_id"),
          col("score"), col("rk"))
        .orderBy(col("vec_id"), col("rk"))
    }),

    // recall@3 of the IVF-probed knn join against the EXACT
    // label-blocked kNN ground truth for a fixed query subset
    // (vec_id < 8, self excluded both sides) — the quality dial for
    // the (nlist, nprobe) coarse geometry on the corpus-join
    // workload, the role ann_ivf_pq_recall plays for the point-query
    // index. Measures 23/24 at the shipped [[KnnJoinProbe]] width on
    // the synthetic near-uniform sphere — the coarse layer's
    // documented worst case (nothing clusters, so recall grows
    // ~linearly with the probed fraction; the full measured curve
    // lives at the constant). The truth side is 8 queries × their
    // label's corpus share (bounded-heap TopKAgg, never a
    // corpus×corpus brute). Oracle nests the knn_join_ivf oracle
    // verbatim plus the exact CTE.
    "knn_join_ivf_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      import graft.functions.VectorFunctions.{cosine, topK}
      val qs = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          col("label").as("qlab"))
      val truth = emb.join(broadcast(qs),
          col("label") === col("qlab") && col("vec_id") =!= col("qid"))
        .withColumn("_s", cosine(col("embedding"), col("qv")))
        .groupBy(col("qid"))
        .agg(topK(col("_s"), col("vec_id"), 3).as("top"))
        .select(col("qid"), explode(col("top.id")).as("nbr_id"))
      val idx = graft.ann.IvfIndex.load(s, ivfLayoutPath(s, dir),
        "vec_id", "embedding")
      val probes = persistedTable(s, "ivfknnprobe", dir) { p =>
        idx.selfProbeTable(np = KnnJoinProbe, keepCols = Seq("label"))
          .write.mode("overwrite").parquet(p)
      }
      val got = idx.knnJoinSelf(probes.filter(col("qid") < 8),
          Seq("label"), k = 3)
        .select(col("qid"), col("vec_id").as("nbr_id"))
      truth.join(broadcast(got), Seq("qid", "nbr_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(col("n_hits"), round(col("n_hits") / 24.0, 6).as("recall"))
    }),

    // The CODES-based corpus kNN join, PQ rung (round-13 verdict #4):
    // same IVF coarse blocking as knn_join_ivf (shared layout, same
    // np probe geometry), but the candidate join carries the flat-PQ
    // codes PACKED INTO ONE LONG (8 bytes per side vs the
    // np-replicated 256-byte float vectors), scores pairs with the
    // PqSdc lookup kernel (8 codeword-table lookups — no vector
    // arithmetic), cuts to KnnJoinRerankPq candidates per query, and
    // only then pays exact cosines over the bounded survivor set
    // (FAISS's refine shape at join scale). Flat codes — not the
    // residual IvfPqIndex ones — because SDC needs both sides in ONE
    // coordinate frame (see CodedKnnJoin scaladoc). The codebooks are
    // the SAME fit the ann_pq family persists (one artifact, point
    // queries + corpus join); the coded probe table is one narrow
    // ingest artifact whose rank-1 rows double as the members side.
    // Own oracle: the knn_join_ivf assignment/probe CTEs + the ann_pq
    // fit replay + flattened per-subspace SDC tables + the candidate
    // cut + exact rerank, tie orders bit-pinned at every stage.
    "knn_join_ivfpq" -> ((s, dir) => {
      codedKnnJoin(s, dir, "pqknnprobe", pqIndex(s, dir).model, KnnJoinRerankPq)
        .select(col("qid").as("vec_id"), col("vec_id").as("nbr_id"),
          col("score"), col("rk"))
        .orderBy(col("vec_id"), col("rk"))
    }),

    // recall@3 of the PQ-coded join against the SAME exact
    // label-blocked truth knn_join_ivf_recall charges (fixed 8-query
    // subset, self excluded) — measures what the SDC candidate cut
    // loses ON TOP of the shared coarse ceiling (a true neighbor in a
    // probed cell can still miss if its two-sided code distance falls
    // outside the KnnJoinRerankPq cut). Oracle nests the
    // knn_join_ivfpq chain restricted to qid < 8 plus the exact CTE.
    "knn_join_ivfpq_recall" -> ((s, dir) => {
      val got = codedKnnJoin(s, dir, "pqknnprobe", pqIndex(s, dir).model, KnnJoinRerankPq,
          queryPred = col("qid") < 8)
        .select(col("qid"), col("vec_id").as("nbr_id"))
      knnRecallVsTruth(s, dir, got)
    }),

    // The CODES-based corpus kNN join, SQ8 rung — the SHIPPED
    // production twin: the candidate join carries the dim-byte SQ8
    // codes (64 B per side — 4× under float, one global grid so SDC
    // is valid corpus-wide), scores pairs with the SqSdc
    // dequantized-gap kernel, and cuts to just KnnJoinRerankSq = 6
    // candidates before the exact rerank — measured to reproduce the
    // np=16 coarse ceiling EXACTLY on the gate corpus (256 levels/dim
    // track exact ordering; see the constants' curve), so the bounded
    // rerank moves 6n vector rows where knn_join_ivf's exact join
    // moves 16n. The grid is the SAME fit the ann_sq family persists.
    // Own oracle: IVF chain + the ann_sq grid/encode replay + the
    // per-pair d-ordered SDC fold + cut + exact rerank.
    "knn_join_ivfsq" -> ((s, dir) => {
      codedKnnJoin(s, dir, "sqknnprobe", sqIndex(s, dir).model, KnnJoinRerankSq)
        .select(col("qid").as("vec_id"), col("vec_id").as("nbr_id"),
          col("score"), col("rk"))
        .orderBy(col("vec_id"), col("rk"))
    }),

    // recall@3 of the SQ8-coded join vs the same exact truth — the
    // quality evidence that candidates = 6 holds the coarse ceiling
    // (23/24 at the gate, equal to knn_join_ivf's np=16 exact join).
    // Oracle nests the knn_join_ivfsq chain restricted to qid < 8
    // plus the exact CTE.
    "knn_join_ivfsq_recall" -> ((s, dir) => {
      val got = codedKnnJoin(s, dir, "sqknnprobe", sqIndex(s, dir).model, KnnJoinRerankSq,
          queryPred = col("qid") < 8)
        .select(col("qid"), col("vec_id").as("nbr_id"))
      knnRecallVsTruth(s, dir, got)
    }))

  /** The coded corpus kNN join (k = 3, label-blocked) over the shared
    * IVF layout: the coded self-probe artifact `kind` is built once per
    * JVM per corpus with `q`'s pair code, then joined per run.
    */
  private def codedKnnJoin(s: org.apache.spark.sql.SparkSession, dir: String,
      kind: String, q: graft.ann.PairQuantizer, candidates: Int,
      queryPred: org.apache.spark.sql.Column = lit(true))
      : org.apache.spark.sql.DataFrame = {
    val idx = graft.ann.IvfIndex.load(s, ivfLayoutPath(s, dir),
      "vec_id", "embedding")
    val probes = persistedTable(s, kind, dir) { p =>
      graft.ann.CodedKnnJoin.buildProbeTable(idx, q,
          np = KnnJoinProbe, blockCols = Seq("label"))
        .write.mode("overwrite").parquet(p)
    }
    graft.ann.CodedKnnJoin.knnJoinSelf(idx, probes, q, Seq("label"),
      k = 3, candidates = candidates, queryPred = queryPred)
  }

  /** The vec_id 0 query vector every point-query ANN entry searches
    * with (one driver collect).
    */
  private def queryVec0(s: org.apache.spark.sql.SparkSession,
      dir: String): Array[Double] =
    t(s, dir, "embeddings").filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray

  /** recall@9 of a vec_id 0 top-k against exact brute-force ground
    * truth, the self-hit excluded on both sides — shared by the
    * ann_pq / ann_ivf_pq / ann_sq / ann_bq recall entries, which differ
    * only in the persisted top-k they score.
    */
  private def recallAt9(s: org.apache.spark.sql.SparkSession, dir: String,
      got: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val emb = t(s, dir, "embeddings")
    val qs = emb.filter(col("vec_id") === 0L)
    val brute = Ann.bruteForceTopK(emb, "vec_id", "embedding",
        qs, "vec_id", "embedding", k = 9)
      .select(col("vec_id"))
    val hits = got.filter(col("vec_id") =!= 0L).select(col("vec_id"))
    brute.join(broadcast(hits), Seq("vec_id"), "left_semi")
      .agg(count(lit(1)).as("n_hits"))
      .select(col("n_hits"), round(col("n_hits") / 9.0, 6).as("recall"))
  }

  /** recall@3 vs the exact label-blocked truth for the fixed 8-query
    * subset — shared by the three knn-join recall entries (the truth
    * side is 8 queries × their label's corpus share via the
    * bounded-heap TopKAgg, never a corpus×corpus brute).
    */
  private def knnRecallVsTruth(s: org.apache.spark.sql.SparkSession,
      dir: String, got: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val emb = t(s, dir, "embeddings")
    import graft.functions.VectorFunctions.{cosine, topK}
    val qs = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("label").as("qlab"))
    val truth = emb.join(broadcast(qs),
        col("label") === col("qlab") && col("vec_id") =!= col("qid"))
      .withColumn("_s", cosine(col("embedding"), col("qv")))
      .groupBy(col("qid"))
      .agg(topK(col("_s"), col("vec_id"), 3).as("top"))
      .select(col("qid"), explode(col("top.id")).as("nbr_id"))
    truth.join(broadcast(got), Seq("qid", "nbr_id"), "left_semi")
      .agg(count(lit(1)).as("n_hits"))
      .select(col("n_hits"), round(col("n_hits") / 24.0, 6).as("recall"))
  }

  private lazy val LshOracleSql: String =
    s"""WITH planes AS (
       |  SELECT p, [(((('0x'||substr(md5(p::VARCHAR||','||j::VARCHAR), 1, 15))::BIGINT % 2001) - 1000) / 1000.0)
       |             for j in range(0, $Dim)] AS plane
       |  FROM range(0, 4) AS rp(p)),
       |bucketed AS (
       |  SELECT vec_id, v,
       |    string_agg(
       |      CASE WHEN list_reduce(
       |        list_prepend(0.0, [v[j+1] * plane[j+1] for j in range(0, $Dim)]),
       |        (a, b) -> a + b) >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
       |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), planes
       |  GROUP BY vec_id, v),
       |qs AS (SELECT b.vec_id AS qid, b.v AS qv, b.bucket FROM bucketed b WHERE b.vec_id < 4),
       |cand AS (
       |  SELECT qs.qid, c.vec_id, qs.bucket,
       |    ${sqlCos("c.v", "qs.qv")} AS score_raw
       |  FROM bucketed c JOIN qs ON c.bucket = qs.bucket AND c.vec_id <> qs.qid)
       |SELECT qid, vec_id, bucket, round(score_raw, 6) AS score,
       |  CAST(row_number() OVER (PARTITION BY qid ORDER BY score_raw DESC, vec_id) AS BIGINT) AS rk
       |FROM cand QUALIFY rk <= 5 ORDER BY qid, rk""".stripMargin

  private lazy val BruteOracleSql: String =
    s"""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
       |           FROM embeddings WHERE vec_id < 8),
       |scored AS (
       |  SELECT qid, vec_id,
       |    ${sqlCos("CAST(embedding AS DOUBLE[])", "qv")} AS score_raw
       |  FROM embeddings, q WHERE vec_id <> qid)
       |SELECT qid, vec_id, round(score_raw, 6) AS score,
       |  CAST(row_number() OVER (PARTITION BY qid ORDER BY score_raw DESC, vec_id) AS BIGINT) AS rk
       |FROM scored QUALIFY rk <= 5 ORDER BY qid, rk""".stripMargin

  /** PQ geometry: 8 subspaces × ~32 codewords (Dim 64 → subDim 8;
    * 8 byte-sized codes per vector = 32× compression of the float
    * corpus) and an exact rerank over the ADC top-100. The near-
    * uniform synthetic sphere is PQ's worst case (nothing to
    * quantize toward): 4×16 codes put only ~5 of the true top-9 in
    * any 10%-of-corpus candidate set; 8×32 + rerank measures 8/9
    * (ann_pq_recall). Real clustered embeddings need far fewer bits
    * (PqSpec's separable corpus retrieves perfectly at 2×~4).
    */
  private val PqSub = 8
  private val PqK = 32
  private val PqRerank = 100

  /** IVF×PQ probe width. The coarse ceiling is the composed index's
    * only recall loss (residual ADC is lossless inside the probe set —
    * ann_ivf_pq_coarse), so nprobe is the recall dial: at nprobe=3 the
    * sf0.01 sphere's true top-9 has cells at probe ranks {1,8,15} and
    * recall caps at 7/9; 16 covers them all → 9/9, BEATING flat PQ's
    * full-scan 8/9 (residual codes quantize tighter than raw-vector
    * codes). 16 of √n cells is the standard FAISS operating point
    * (~11% of corpus at sf0.01, 3.6% at 100×, nprobe/nlist → 0 as the
    * corpus grows at fixed probe width).
    */
  private val IvfPqProbe = 16

  /** knn_join_ivf probe width — the measured operating point of the
    * recall/cost curve (graft.KnnRecallCurve, round-14; the round-13
    * default np=3 shipped with recall 8/24 — correct but not
    * production quality). On the near-uniform synthetic sphere —
    * the coarse layer's worst case, where recall grows ~linearly
    * with the probed fraction because nothing clusters —
    * the measured curve at sf0.01 (nlist 23, the correctness gate) is
    * np 3/8/12/16 → recall@3 0.29/0.56/0.73/0.85 full-corpus and
    * 0.33/0.63/0.88/0.96 on the oracled 8-query subset; 100× join
    * time (200k vectors, nlist 445, warm quiet host) 3.4/5.3/6.5/7.4 s
    * vs the LSH knn_join's 5.0 s on the same host. np=16 is the same
    * operating point ann_ivf_pq ships (IvfPqProbe): recall ≥ 0.85
    * at the gate for ~1.5× the one-shot join's quiet cost — and the
    * probed fraction (np/√n) shrinks as the corpus grows, so at
    * 100 TB the same width reads a vanishing corpus share while real
    * clustered embeddings sit far above the sphere's recall floor.
    *
    * Round-15 size curve (KnnRecallCurve, uniform sphere, 512-query
    * truth): recall@3 at np=8 is 0.56 / 0.976 / 0.976 at n = 2k /
    * 20k / 200k — fixed-np recall RISES with corpus size (nlist = √n
    * grows, cells tighten), so np=8 would suffice on the uniform
    * bench corpora above the gate. np=16 stays shipped anyway
    * because the CLUSTERED corpora (BENCH_CLUSTERED_r15.json — the
    * shape real embeddings have) measure np=8 at only 0.868 recall
    * at 200k vs np=16's 0.939: halving the width would tune the
    * operator to the synthetic sphere at the expense of realistic
    * data. On clustered corpora the bigger lever is the quantizer,
    * not the width: the learned-init k-means layout
    * (IvfIndex.buildWithKMeans — the serving/streaming build path)
    * reaches 0.968 at np=16 with 14% fewer candidate pairs
    * (BENCH_KMEANS_r15.json); this oracled entry keeps seed-row
    * centroids because kmeans|| init is not SQL-replayable and the
    * replayable Lloyd refinement measurably cannot close the gap.
    */
  private val KnnJoinProbe = 16

  /** Per-query SDC-candidate depths before the coded joins' exact
    * rerank (k = 3 underneath). The dial trades rerank vector bytes
    * (n × candidates pairs move one float vector each) against the
    * SDC cut's recall loss on top of the shared coarse ceiling —
    * measured on the sf0.01 gate corpus (KnnRecallCurve coded mode,
    * round 14): PQ-SDC (two codebook quantizations of noise) needs
    * C = 32 to reach the np=16 ceiling (C 8/12/16/24/32 → full recall
    * 0.49/0.61/0.69/0.80/0.845 vs ceiling 0.853); SQ8-SDC (256
    * levels/dim) reproduces the ceiling EXACTLY at C = 6 — the
    * numerically finer code buys a 5× smaller rerank, which is why
    * the SQ rung is the shipped production twin.
    */
  private val KnnJoinRerankPq = 32
  private val KnnJoinRerankSq = 6

  /** [[ivfPqTopK]] plus the barriered residual frame it scored and
    * the probed cells — shared so evidence entries
    * (ann_ivf_pq_coarse) count coarse hits off the SAME materialized
    * assignment instead of paying a second corpus × centroids
    * NearestCentroid pass (the 100× sweep charged that second pass
    * ~10s).
    */
  private def ivfPqChain(s: org.apache.spark.sql.SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
         Seq[Long]) = {
    // the IVF×PQ geometry: √n seed-row centroids, query = vec 0,
    // nprobe = IvfPqProbe driver-side probe with the oracle's raw-d²
    // fold and (d², cell) tiebreak
    val emb = t(s, dir, "embeddings")
    val n = graft.ann.AnnTuner.statsCached(s"$dir|embeddings",
      emb, "embedding", None).n
    val cent = seedCentroids(emb, n)
    val qv = queryVec0(s, dir)
    val coarse = graft.ann.Centroids.collect(cent, "cid", "cv")
    val probed = coarse.nearest(qv, IvfPqProbe)
    // RESIDUAL encode (FAISS IVFPQ): fit + codes over x − centroid(cell).
    // BARRIER the residual frame: its lineage (crossJoin cell assignment
    // + zip_with residuals over the corpus) is otherwise RECOMPUTED by
    // every downstream pass — Pq.fit's seed collect, the merged Lloyd
    // update, the encode scan, and the rerank's vector fetch (~5 full
    // assignment passes; the 100× sweep measured 56s vs 20s for the
    // raw-vector plan this replaced). One eager materialization makes
    // every pass read the assigned+residual rows instead. Production
    // flip per Barrier scaladoc: the persisted twin (IvfPqIndex.build)
    // IS that flip — assignment paid once at ingest into the layout.
    val withRes = graft.Barrier.checkpoint(
      graft.ann.IvfPqIndex.residualFrame(
        emb, "vec_id", "embedding", cent, "cid", "cv"))
    val books = graft.ann.Pq.fit(withRes, "vec_id", "_res",
        dim = Dim, nSub = PqSub, seedMod = math.max(1L, n / PqK), iters = 1)
    val enc = books.encode(withRes, "_res")
      .withColumnRenamed("_ivf_cell", "ivf_cell")
    val topk = graft.ann.Quantizer.candidateTopK(
        enc.filter(col("ivf_cell").isin(probed: _*)), "vec_id", "embedding",
        books.perCell("ivf_cell", coarse.only(probed)), qv,
        k = 10, candidates = PqRerank, carryCols = Seq("ivf_cell"))
      .withColumnRenamed("ivf_cell", "cell")
    (topk, withRes, probed)
  }

  /** The ann_ivf_pq plan (√n IVF coarse layer pruning to
    * [[IvfPqProbe]] cells, residual PQ ADC + exact rerank inside
    * them) — shared by the ann_ivf_pq entry and
    * ann_ivf_pq_recall's candidate side.
    */
  private def ivfPqTopK(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = ivfPqChain(s, dir)._1

  /** The ann_pq plan (fit → encode → ADC top-PqRerank candidates for
    * vec_id 0 → exact rerank to 10) — the in-query transparency
    * chain; the recall entry's candidate side probes the persisted
    * layout ([[pqPersistedTopK]], row-identical by the shared oracle).
    */
  private def pqTopK(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val emb = t(s, dir, "embeddings")
    val n = graft.ann.AnnTuner.statsCached(s"$dir|embeddings",
      emb, "embedding", None).n
    val books = graft.ann.Pq.fit(emb, "vec_id", "embedding",
        dim = Dim, nSub = PqSub, seedMod = math.max(1L, n / PqK), iters = 1)
    graft.ann.Quantizer.candidateTopK(books.encode(emb, "embedding"),
      "vec_id", "embedding", books, queryVec0(s, dir), k = 10, candidates = PqRerank)
  }

  /** SQ8 rerank depth — same candidate budget as PQ so the recall
    * entries compare the two code geometries at equal scan cost.
    */
  private val SqRerank = 100

  /** The ann_sq plan (min/max grid fit → byte-encode → ADC
    * top-SqRerank candidates for vec_id 0 → exact rerank to 10) —
    * the in-query transparency chain (ann_sq); ann_sq_recall probes
    * the persisted layout.
    */
  private def sqTopK(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val emb = t(s, dir, "embeddings")
    val grid = graft.ann.Sq.fit(emb, "embedding", Dim)
    graft.ann.Quantizer.candidateTopK(grid.encode(emb, "embedding"),
      "vec_id", "embedding", grid, queryVec0(s, dir), k = 10, candidates = SqRerank)
  }

  /** 1-bit rerank depth — same candidate budget as PQ/SQ8 so the
    * recall entries compare the three code geometries at equal scan
    * cost.
    */
  private val BqRerank = 100

  /** The ann_bq plan (midpoint fit → sign-bit encode → Hamming
    * top-BqRerank candidates for vec_id 0 → exact rerank to 10) —
    * the in-query transparency chain (ann_bq); ann_bq_recall probes
    * the persisted layout.
    */
  private def bqTopK(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val emb = t(s, dir, "embeddings")
    val th = graft.ann.Bq.fit(emb, "embedding", Dim)
    graft.ann.Quantizer.candidateTopK(th.encode(emb, "embedding"),
      "vec_id", "embedding", th, queryVec0(s, dir), k = 10, candidates = BqRerank)
  }

  /** PERSISTED-layout searches — the candidate sides of the recall
    * entries (round 13): a production eval job measures recall
    * against the SERVED index, not a chain re-fitted in the eval
    * query, and the persisted entries' shared oracles already pin
    * load-path results row-identical to the in-query chains — so the
    * recall entries probe the layouts and skip the per-run fit +
    * encode cost entirely. The in-query parents (ann_pq / ann_sq /
    * ann_bq / ann_ivf_pq) remain the transparency documentation of
    * the chains themselves. Each flat layout (CodedIndex: codes +
    * model) is built once per JVM per corpus from `fit` and loaded
    * once per session.
    */
  private def codedIndex[Q <: graft.ann.Quantizer](
      s: org.apache.spark.sql.SparkSession, dir: String, kind: String,
      readModel: (org.apache.spark.sql.SparkSession, String) => Q)(
      fit: org.apache.spark.sql.DataFrame => Q): graft.ann.CodedIndex[Q] = {
    val path = persistedArtifact(kind, dir) { p =>
      val emb = t(s, dir, "embeddings")
      graft.ann.CodedIndex.build(emb, "embedding", fit(emb), p)
    }
    cachedIndex(s, s"${kind}idx", dir)(
      graft.ann.CodedIndex.load(s, path, "vec_id", "embedding", readModel))
  }

  /** The shared flat-PQ layout (ann_pq geometry): probed by
    * ann_pq_persisted / ann_pq_recall AND — its codebooks — by
    * knn_join_ivfpq's SDC tables: one fit serving both the point-query
    * and the corpus-join workload.
    */
  private def pqIndex(s: org.apache.spark.sql.SparkSession, dir: String) =
    codedIndex(s, dir, "pq", graft.ann.Pq.Books.load(PqSub)) { emb =>
      val n = graft.ann.AnnTuner.statsCached(s"$dir|embeddings",
        emb, "embedding", None).n
      graft.ann.Pq.fit(emb, "vec_id", "embedding",
        dim = Dim, nSub = PqSub, seedMod = math.max(1L, n / PqK), iters = 1)
    }

  private def pqPersistedTopK(s: org.apache.spark.sql.SparkSession, dir: String) =
    pqIndex(s, dir).search(queryVec0(s, dir), k = 10, candidates = PqRerank)

  /** The shared SQ8 layout (ann_sq geometry): probed by
    * ann_sq_persisted / ann_sq_recall AND — its grid — by
    * knn_join_ivfsq's SDC scoring: one fit serving both the
    * point-query and the corpus-join workload.
    */
  private def sqIndex(s: org.apache.spark.sql.SparkSession, dir: String) =
    codedIndex(s, dir, "sq8", graft.ann.Sq.Grid.load)(
      graft.ann.Sq.fit(_, "embedding", Dim))

  private def sqPersistedTopK(s: org.apache.spark.sql.SparkSession, dir: String) =
    sqIndex(s, dir).search(queryVec0(s, dir), k = 10, candidates = SqRerank)

  private def bqPersistedTopK(s: org.apache.spark.sql.SparkSession, dir: String) =
    codedIndex(s, dir, "bq1", graft.ann.Bq.Thresholds.load)(
        graft.ann.Bq.fit(_, "embedding", Dim))
      .search(queryVec0(s, dir), k = 10, candidates = BqRerank)

  private def ivfPqPersistedIndex(s: org.apache.spark.sql.SparkSession,
      dir: String): graft.ann.IvfPqIndex = {
    val idxPath = persistedArtifact("ivfpq", dir) { p =>
      val emb = t(s, dir, "embeddings")
      val n = graft.ann.AnnTuner.statsCached(s"$dir|embeddings",
        emb, "embedding", None).n
      val cent = seedCentroids(emb, n)
      val withRes = graft.ann.IvfPqIndex.residualFrame(
        emb, "vec_id", "embedding", cent, "cid", "cv")
      val books = graft.ann.Pq.fit(withRes, "vec_id", "_res",
          dim = Dim, nSub = PqSub, seedMod = math.max(1L, n / PqK), iters = 1)
      graft.ann.IvfPqIndex.build(emb, "vec_id", "embedding",
        cent, "cid", "cv", books, p)
      ()
    }
    cachedIndex(s, "ivfpqidx", dir)(
      graft.ann.IvfPqIndex.load(s, idxPath, "vec_id", "embedding", PqSub))
  }

  private def ivfPqPersistedTopK(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val idx = ivfPqPersistedIndex(s, dir)
    val qv = queryVec0(s, dir)
    val probed = idx.probeCells(qv, nprobe = IvfPqProbe)
    idx.searchCells(probed, qv, k = 10, candidates = PqRerank)
      // partition-column type inference reads cell back as int
      .withColumn("cell", col("cell").cast("long"))
  }

  /** Bit-for-bit replay of Bq.fit + BqEncode + BqHamming: midpoint
    * thresholds from the same order-free min/max, bits as the same
    * strict x > mid comparison (replayed on UNPACKED bits — hamming
    * over packed bytes ≡ count of differing bits by construction),
    * integer hamming candidate ordering (no float surface), then the
    * exact-cosine rerank.
    */
  private lazy val BqOracleSql: String =
    s"""WITH vv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT v AS qv FROM vv WHERE vec_id = 0),
       |grid AS (
       |  SELECT d, (min(v[d]) + max(v[d])) * 0.5 AS mid
       |  FROM vv, range(1, ${Dim + 1}) r(d) GROUP BY d),
       |bits AS (
       |  SELECT vv.vec_id, g.d,
       |    CASE WHEN vv.v[g.d] > g.mid THEN 1 ELSE 0 END AS b
       |  FROM vv, grid g),
       |qbits AS (
       |  SELECT g.d, CASE WHEN q.qv[g.d] > g.mid THEN 1 ELSE 0 END AS b
       |  FROM grid g, q),
       |ham AS (
       |  SELECT bits.vec_id,
       |    CAST(sum(CASE WHEN bits.b <> qb.b THEN 1 ELSE 0 END) AS INT) AS hamming
       |  FROM bits JOIN qbits qb USING (d) GROUP BY bits.vec_id),
       |cands AS (SELECT * FROM ham ORDER BY hamming, vec_id LIMIT $BqRerank)
       |SELECT c.vec_id, c.hamming,
       |  round(${sqlCos("vv.v", "q.qv")}, 6) AS exact_score
       |FROM cands c JOIN vv USING (vec_id), q
       |ORDER BY ${sqlCos("vv.v", "q.qv")} DESC, c.vec_id LIMIT 10""".stripMargin

  /** Bit-for-bit replay of Sq.fit + SqEncode + the SqAdc fold (see
    * the SqKernel scaladoc for the exact op sequences): per-dimension
    * min/max grid, uint8 encode with the same step==0 guard and
    * clamp, qadj = (q − lo) − 0.5·step precomputed per dimension, and
    * the per-vector ADC as the same left-to-right d-ordered fold —
    * candidates ordered by the RAW sum so last-ulp ties resolve
    * identically, then the exact-cosine rerank.
    */
  private lazy val SqOracleSql: String =
    s"""WITH vv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT v AS qv FROM vv WHERE vec_id = 0),
       |grid AS (
       |  SELECT d, min(v[d]) AS lo, (max(v[d]) - min(v[d])) / 256.0 AS step
       |  FROM vv, range(1, ${Dim + 1}) r(d) GROUP BY d),
       |enc AS (
       |  SELECT vv.vec_id, g.d, g.lo, g.step,
       |    CASE WHEN g.step = 0 THEN 0.0
       |         ELSE GREATEST(0.0, LEAST(255.0, FLOOR((vv.v[g.d] - g.lo) / g.step))) END AS c
       |  FROM vv, grid g),
       |terms AS (
       |  SELECT e.vec_id, e.d,
       |    (((q.qv[e.d] - e.lo) - 0.5 * e.step) - e.c * e.step) AS diff
       |  FROM enc e, q),
       |adc AS (
       |  SELECT vec_id,
       |    list_reduce(list_prepend(0.0, list(diff * diff ORDER BY d)),
       |      (x, y) -> x + y) AS adc_raw
       |  FROM terms GROUP BY vec_id),
       |cands AS (SELECT * FROM adc ORDER BY adc_raw, vec_id LIMIT $SqRerank)
       |SELECT s.vec_id, round(s.adc_raw, 6) AS adc,
       |  round(${sqlCos("vv.v", "q.qv")}, 6) AS exact_score
       |FROM cands s JOIN vv USING (vec_id), q
       |ORDER BY ${sqlCos("vv.v", "q.qv")} DESC, s.vec_id LIMIT 10""".stripMargin

  /** Bit-for-bit replay of Pq.fit + encode + ADC (see Pq scaladoc):
    * per subspace — slice, relabeled seeds by the same n/K modulus,
    * one decimal-exact Lloyd update (the dd_semantic CTE shapes on
    * 16-dim slices), final assignment = codes, query distance table —
    * then the ADC add chain in subspace order, ordered by the RAW sum
    * so last-ulp ties resolve identically.
    */
  /** DuckDB: the exact left-to-right squared-L2 fold the
    * NearestCentroid kernel and Pq's driver-side tables use.
    */
  private def sqlD2(n: Int)(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0, [($a[j+1]-$b[j+1])*($a[j+1]-$b[j+1]) " +
      s"for j in range(0, $n)]), (x, y) -> x + y)"

  /** The per-subspace PQ fit+encode CTE chain over source CTE `src`
    * (vec_id, v) — raw vectors for flat PQ (`vv`), per-row IVF
    * residuals for the composed index (`rv`). Expects `md` (m — the
    * seed modulus) upstream.
    */
  private def pqFitCtes(src: String): String = {
    val subDim = Dim / PqSub
    val d2 = sqlD2(subDim) _
    (0 until PqSub).map { s =>
      val lo = s * subDim + 1
      val hi = (s + 1) * subDim
      s"""sub$s AS (SELECT vec_id, v[$lo:$hi] AS sv FROM $src),
         |sd$s AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, sv AS cv
         |  FROM sub$s, md WHERE vec_id % md.m = 0),
         |a$s AS (
         |  SELECT vec_id, sv, cid AS cell FROM (
         |    SELECT t.vec_id, t.sv, c.cid,
         |      row_number() OVER (PARTITION BY t.vec_id
         |        ORDER BY ${d2("t.sv", "c.cv")}, c.cid) AS rn
         |    FROM sub$s t, sd$s c) WHERE rn = 1),
         |c$s AS (
         |  SELECT cell AS cid, list(m ORDER BY j) AS cv FROM (
         |    SELECT cell, j,
         |      round(CAST(sum(CAST(sv[j+1] AS DECIMAL(28,10))) AS DOUBLE) / count(*), 9) AS m
         |    FROM a$s, range(0, $subDim) r(j) GROUP BY cell, j)
         |  GROUP BY cell),
         |e$s AS (
         |  SELECT vec_id, cid AS code FROM (
         |    SELECT t.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY t.vec_id
         |        ORDER BY ${d2("t.sv", "c.cv")}, c.cid) AS rn
         |    FROM sub$s t, c$s c) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
  }

  /** Flat-PQ query distance tables: one table per subspace against
    * the RAW query slice (expects `q` (qv) upstream).
    */
  private def pqQueryTabCtes: String = {
    val subDim = Dim / PqSub
    val d2 = sqlD2(subDim) _
    (0 until PqSub).map { s =>
      val lo = s * subDim + 1
      val hi = (s + 1) * subDim
      s"""t$s AS (SELECT cid, ${d2(s"(q.qv[$lo:$hi])", "cv")} AS d FROM c$s c, q)"""
    }.mkString(",\n")
  }

  /** Residual-PQ query distance tables (FAISS IVFPQ): one table per
    * (probed cell × subspace) against the per-cell QUERY RESIDUAL
    * slice (expects `qr` (cell, qv = q − centroid) upstream).
    */
  private def pqResidualTabCtes: String = {
    val subDim = Dim / PqSub
    val d2 = sqlD2(subDim) _
    (0 until PqSub).map { s =>
      val lo = s * subDim + 1
      val hi = (s + 1) * subDim
      s"""t$s AS (SELECT qr.cell, c.cid, ${d2(s"(qr.qv[$lo:$hi])", "c.cv")} AS d FROM c$s c, qr)""".stripMargin
    }.mkString(",\n")
  }

  /** The flat-PQ chain (raw-vector fit + raw-query tables) — the
    * ann_pq / ann_pq_persisted oracles.
    */
  private def pqSubCtes: String =
    pqFitCtes("vv") + ",\n" + pqQueryTabCtes

  private val PqCodeCols = (0 until PqSub).map(s => s"e$s.code AS code$s").mkString(", ")
  private val PqCodeNames = (0 until PqSub).map(s => s"code$s").mkString(", ")
  private val PqEncJoins = (1 until PqSub).map(s => s"JOIN e$s USING (vec_id)").mkString(" ")
  private val PqTabJoins = (0 until PqSub).map(s => s"JOIN t$s ON e$s.code = t$s.cid").mkString(" ")
  private val PqAdcSum = (0 until PqSub).map(s => s"t$s.d").mkString(" + ")

  private lazy val PqOracleSql: String =
    s"""WITH vv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |md AS (SELECT GREATEST(1, CAST(FLOOR(count(*) / $PqK) AS BIGINT)) AS m FROM embeddings),
       |q AS (SELECT v AS qv FROM vv WHERE vec_id = 0),
       |$pqSubCtes,
       |scored AS (
       |  SELECT e0.vec_id, $PqCodeCols, $PqAdcSum AS adc_raw
       |  FROM e0 $PqEncJoins $PqTabJoins),
       |cands AS (
       |  SELECT * FROM scored ORDER BY adc_raw, vec_id LIMIT $PqRerank)
       |SELECT s.vec_id, $PqCodeNames,
       |  round(adc_raw, 6) AS adc,
       |  round(${sqlCos("vv.v", "q.qv")}, 6) AS exact_score
       |FROM cands s JOIN vv USING (vec_id), q
       |ORDER BY ${sqlCos("vv.v", "q.qv")} DESC, s.vec_id LIMIT 10""".stripMargin

  /** ann_ivf_pq: the IVF coarse layer (√n seed-row centroids, same
    * geometry as IvfOracleSql but ordered by the raw d² fold the
    * Spark side's driver probe uses) pruning to nprobe cells, with
    * RESIDUAL PQ inside them (FAISS IVFPQ): the fit/encode chain runs
    * over `rv` (per-row x − centroid(cell)), and the query tables are
    * per probed cell against the query residual `qr` — the ADC join
    * therefore keys on (code, cell).
    */
  private lazy val IvfPqOracleSql: String = {
    val d2full = sqlD2(Dim) _
    val resTabJoins = (0 until PqSub)
      .map(s => s"JOIN t$s ON e$s.code = t$s.cid AND t$s.cell = cells.cell")
      .mkString(" ")
    s"""WITH vv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |md AS (SELECT GREATEST(1, CAST(FLOOR(count(*) / $PqK) AS BIGINT)) AS m FROM embeddings),
       |q AS (SELECT v AS qv FROM vv WHERE vec_id = 0),
       |mivf AS (SELECT GREATEST(1, CAST(FLOOR(SQRT(count(*))) AS BIGINT)) AS m FROM embeddings),
       |cent AS (SELECT vec_id AS cell, v AS cv FROM vv, mivf WHERE vec_id % mivf.m = 0),
       |cells AS MATERIALIZED (
       |  SELECT vec_id, cell FROM (
       |    SELECT t.vec_id, c.cell,
       |      row_number() OVER (PARTITION BY t.vec_id
       |        ORDER BY ${d2full("t.v", "c.cv")}, c.cell) AS rn
       |    FROM vv t, cent c) WHERE rn = 1),
       |rv AS MATERIALIZED (
       |  SELECT vv.vec_id, [vv.v[j+1] - c.cv[j+1] for j in range(0, $Dim)] AS v
       |  FROM vv JOIN cells USING (vec_id) JOIN cent c USING (cell)),
       |probe AS (
       |  SELECT cell FROM cent, q ORDER BY ${d2full("cv", "q.qv")}, cell LIMIT $IvfPqProbe),
       |qr AS MATERIALIZED (
       |  SELECT p.cell, [q.qv[j+1] - c.cv[j+1] for j in range(0, $Dim)] AS qv
       |  FROM probe p JOIN cent c USING (cell), q),
       |${pqFitCtes("rv")},
       |$pqResidualTabCtes,
       |scored AS (
       |  SELECT e0.vec_id, cells.cell, $PqCodeCols, $PqAdcSum AS adc_raw
       |  FROM e0 $PqEncJoins
       |    JOIN cells ON e0.vec_id = cells.vec_id
       |    JOIN probe USING (cell)
       |    $resTabJoins),
       |cands AS (
       |  SELECT * FROM scored ORDER BY adc_raw, vec_id LIMIT $PqRerank)
       |SELECT s.vec_id, s.cell, $PqCodeNames,
       |  round(adc_raw, 6) AS adc,
       |  round(${sqlCos("vv.v", "q.qv")}, 6) AS exact_score
       |FROM cands s JOIN vv USING (vec_id), q
       |ORDER BY ${sqlCos("vv.v", "q.qv")} DESC, s.vec_id LIMIT 10""".stripMargin
  }

  /** The IVF assignment + probe-list + member/probe CTE pair every
    * knn-join oracle shares (members = rn 1, probes = rn <= np), plus
    * the exact-rerank CTE applied to a `cand (qid, nbr_id)` CTE
    * defined by the caller. `restrictQ` narrows the probe side to the
    * recall entries' fixed qid < 8 subset (members stay full).
    */
  private def knnIvfBlockCtes(restrictQ: Boolean): String = {
    val d2full = sqlD2(Dim) _
    val qFilter = if (restrictQ) " AND vec_id < 8" else ""
    s"""mivf AS (SELECT GREATEST(1, CAST(FLOOR(SQRT(count(*))) AS BIGINT)) AS m FROM embeddings),
       |cent AS (SELECT vec_id AS cell, v AS cv FROM vv, mivf WHERE vec_id % mivf.m = 0),
       |assign AS MATERIALIZED (
       |  SELECT t.vec_id, t.label, t.cell, t.rn FROM (
       |    SELECT vv.vec_id, e.label, c.cell,
       |      row_number() OVER (PARTITION BY vv.vec_id
       |        ORDER BY ${d2full("vv.v", "c.cv")}, c.cell) AS rn
       |    FROM vv JOIN embeddings e USING (vec_id), cent c) t
       |  WHERE t.rn <= $KnnJoinProbe),
       |members AS (SELECT vec_id, label, cell FROM assign WHERE rn = 1),
       |probes AS (SELECT vec_id AS qid, label AS qlab, cell
       |           FROM assign WHERE rn >= 1$qFilter)""".stripMargin
  }

  private def knnRerankCte(depth: Int): String =
    s"""cand AS (
       |  SELECT qid, nbr_id FROM (
       |    SELECT qid, nbr_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY sdc_raw, nbr_id) AS crk
       |    FROM sdcscored) WHERE crk <= $depth),
       |reranked AS (
       |  SELECT c.qid, c.nbr_id,
       |    round(${sqlCos("nv.v", "qv2.v")}, 6) AS score,
       |    CAST(row_number() OVER (PARTITION BY c.qid
       |      ORDER BY ${sqlCos("nv.v", "qv2.v")} DESC, c.nbr_id) AS BIGINT) AS rk
       |  FROM cand c JOIN vv nv ON nv.vec_id = c.nbr_id
       |    JOIN vv qv2 ON qv2.vec_id = c.qid)""".stripMargin

  /** The knn_join_ivfpq chain replayed in SQL: the shared IVF block
    * CTEs + the ann_pq fit replay (pqFitCtes over raw vectors — flat
    * codes, the SDC requirement) + per-subspace codeword×codeword SDC
    * tables FLATTENED to one ordered list each (indexed ca·K + cb —
    * a positional lookup instead of an 8-way join, which DuckDB's
    * optimizer cannot misplan into a cross-product; the first draft's
    * join form spilled to disk exhaustion) + the (sdc asc, id asc)
    * candidate cut + the exact-cosine rerank. Heavily-reused CTEs are
    * MATERIALIZED — `codes` is referenced twice (query and member
    * side) and each reference would otherwise re-run the whole
    * replayed fit.
    */
  private def knnIvfPqChainSql(restrictQ: Boolean): String = {
    val subDim = Dim / PqSub
    val d2sub = sqlD2(subDim) _
    val codeCols = (0 until PqSub).map(s => s"e$s.code AS c$s").mkString(", ")
    val sdcCtes = (0 until PqSub).map { s =>
      s"""sdc$s AS MATERIALIZED (
         |  SELECT list(d ORDER BY ca, cb) AS l FROM (
         |    SELECT x.cid AS ca, y.cid AS cb, ${d2sub("x.cv", "y.cv")} AS d
         |    FROM c$s x, c$s y))""".stripMargin
    }.mkString(",\n")
    val sdcTabs = (0 until PqSub).map(s => s"sdc$s").mkString(", ")
    val sdcSum = (0 until PqSub)
      .map(s => s"sdc$s.l[cc.c$s * kk.k + qc.c$s + 1]").mkString(" + ")
    s"""vv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |md AS (SELECT GREATEST(1, CAST(FLOOR(count(*) / $PqK) AS BIGINT)) AS m FROM embeddings),
       |${pqFitCtes("vv")},
       |codes AS MATERIALIZED (SELECT e0.vec_id, $codeCols FROM e0 $PqEncJoins),
       |kk AS (SELECT count(*) AS k FROM c0),
       |$sdcCtes,
       |${knnIvfBlockCtes(restrictQ)},
       |sdcscored AS (
       |  SELECT p.qid, mm.vec_id AS nbr_id, $sdcSum AS sdc_raw
       |  FROM probes p
       |  JOIN members mm ON mm.cell = p.cell AND mm.label = p.qlab
       |    AND mm.vec_id <> p.qid
       |  JOIN codes qc ON qc.vec_id = p.qid
       |  JOIN codes cc ON cc.vec_id = mm.vec_id, $sdcTabs, kk),
       |${knnRerankCte(KnnJoinRerankPq)}""".stripMargin
  }

  /** The knn_join_ivfsq chain: the shared IVF block CTEs + the ann_sq
    * grid/encode replay (same CTE shapes as SqOracleSql) + the
    * per-pair d-ordered SDC fold ((cA − cB)·step squared, list-folded
    * so addition order matches the SqSdc kernel) + cut + rerank.
    */
  private def knnIvfSqChainSql(restrictQ: Boolean): String =
    s"""vv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |grid AS MATERIALIZED (
       |  SELECT d, min(v[d]) AS lo, (max(v[d]) - min(v[d])) / 256.0 AS step
       |  FROM vv, range(1, ${Dim + 1}) r(d) GROUP BY d),
       |enc AS MATERIALIZED (
       |  SELECT vv.vec_id, g.d, g.step,
       |    CASE WHEN g.step = 0 THEN 0.0
       |         ELSE GREATEST(0.0, LEAST(255.0, FLOOR((vv.v[g.d] - g.lo) / g.step))) END AS c
       |  FROM vv, grid g),
       |${knnIvfBlockCtes(restrictQ)},
       |pairs AS (
       |  SELECT p.qid, mm.vec_id AS nbr_id
       |  FROM probes p
       |  JOIN members mm ON mm.cell = p.cell AND mm.label = p.qlab
       |    AND mm.vec_id <> p.qid),
       |sdcscored AS (
       |  SELECT pr.qid, pr.nbr_id,
       |    list_reduce(list_prepend(0.0,
       |      list(((qa.c - cb.c) * (qa.c - cb.c)) * (qa.step * qa.step) ORDER BY qa.d)),
       |      (x, y) -> x + y) AS sdc_raw
       |  FROM pairs pr
       |  JOIN enc qa ON qa.vec_id = pr.qid
       |  JOIN enc cb ON cb.vec_id = pr.nbr_id AND cb.d = qa.d
       |  GROUP BY pr.qid, pr.nbr_id),
       |${knnRerankCte(KnnJoinRerankSq)}""".stripMargin

  val oracles: Map[String, String] = Map(
    "ann_brute_batch" -> BruteOracleSql,

    "ann_ivf" -> IvfOracleSql,

    "ann_pq" -> PqOracleSql,

    // identical semantics to ann_pq (same books, candidates, rerank)
    // — the entry pins the save→load→code-only-scan path to the same
    // rows, exactly as ann_ivf_pq_persisted does for the composed
    // layout
    "ann_pq_persisted" -> PqOracleSql,

    "ann_bq" -> BqOracleSql,

    // identical semantics to ann_bq (same thresholds, candidates,
    // rerank) — the entry pins the save→load→code-only-scan path to
    // the same rows, exactly as ann_sq_persisted does for SQ8
    "ann_bq_persisted" -> BqOracleSql,

    // the ann_bq oracle nested verbatim vs the 9-deep exact-cosine
    // CTE (self-hit excluded both sides) — the 1-bit twin of
    // ann_sq_recall / ann_pq_recall
    "ann_bq_recall" ->
      s"""WITH bqc AS (
         |  SELECT vec_id FROM ($BqOracleSql) WHERE vec_id <> 0),
         |bq AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
         |brute AS (
         |  SELECT vec_id FROM (
         |    SELECT vec_id,
         |      ${sqlCos("CAST(embedding AS DOUBLE[])", "qv")} AS score_raw
         |    FROM embeddings, bq WHERE vec_id <> 0)
         |  ORDER BY score_raw DESC, vec_id LIMIT 9)
         |SELECT CAST(count(*) AS BIGINT) AS n_hits,
         |  round(count(*) / 9.0, 6) AS recall
         |FROM brute JOIN bqc USING (vec_id)""".stripMargin,

    "ann_sq" -> SqOracleSql,

    // identical semantics to ann_sq (same grid, candidates, rerank) —
    // the entry pins the save→load→code-only-scan path to the same
    // rows, exactly as ann_pq_persisted does for the PQ layout
    "ann_sq_persisted" -> SqOracleSql,

    // the ann_sq oracle nested verbatim vs the 9-deep exact-cosine CTE
    // (self-hit excluded both sides) — the SQ8 twin of ann_pq_recall
    "ann_sq_recall" ->
      s"""WITH sq AS (
         |  SELECT vec_id FROM ($SqOracleSql) WHERE vec_id <> 0),
         |bq AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
         |brute AS (
         |  SELECT vec_id FROM (
         |    SELECT vec_id,
         |      ${sqlCos("CAST(embedding AS DOUBLE[])", "qv")} AS score_raw
         |    FROM embeddings, bq WHERE vec_id <> 0)
         |  ORDER BY score_raw DESC, vec_id LIMIT 9)
         |SELECT CAST(count(*) AS BIGINT) AS n_hits,
         |  round(count(*) / 9.0, 6) AS recall
         |FROM brute JOIN sq USING (vec_id)""".stripMargin,

    "ann_ivf_pq" -> IvfPqOracleSql,

    // identical semantics to ann_ivf_pq (same centroids, books, probe
    // geometry) — the entry exists to pin the save→load→pruned-probe
    // path to the same rows, exactly as ann_ivf_persisted does for
    // the plain IVF layout
    "ann_ivf_pq_persisted" -> IvfPqOracleSql,

    // the ann_ivf_pq oracle nested verbatim vs a 9-deep exact-cosine
    // CTE (self-hit excluded both sides) — the composed-index twin of
    // ann_pq_recall; it additionally charges coarse-layer misses
    "ann_ivf_pq_recall" ->
      s"""WITH pq AS (
         |  SELECT vec_id FROM ($IvfPqOracleSql) WHERE vec_id <> 0),
         |bq AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
         |brute AS (
         |  SELECT vec_id FROM (
         |    SELECT vec_id,
         |      ${sqlCos("CAST(embedding AS DOUBLE[])", "qv")} AS score_raw
         |    FROM embeddings, bq WHERE vec_id <> 0)
         |  ORDER BY score_raw DESC, vec_id LIMIT 9)
         |SELECT CAST(count(*) AS BIGINT) AS n_hits,
         |  round(count(*) / 9.0, 6) AS recall
         |FROM brute JOIN pq USING (vec_id)""".stripMargin,

    // the ann_ivf_pq oracle nested verbatim, decomposed against the
    // coarse layer: replays the cell assignment + probe to count the
    // true top-9 inside probed cells (the ceiling), then the full
    // chain's hits — recall_within_probe isolates what the code
    // budget loses (1.0 = residual ADC is lossless inside the probe)
    "ann_ivf_pq_coarse" -> {
      val d2full = sqlD2(Dim) _
      s"""WITH pq AS (
         |  SELECT vec_id FROM ($IvfPqOracleSql) WHERE vec_id <> 0),
         |vv2 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q2 AS (SELECT v AS qv FROM vv2 WHERE vec_id = 0),
         |mivf2 AS (SELECT GREATEST(1, CAST(FLOOR(SQRT(count(*))) AS BIGINT)) AS m FROM embeddings),
         |cent2 AS (SELECT vec_id AS cell, v AS cv FROM vv2, mivf2 WHERE vec_id % mivf2.m = 0),
         |cells2 AS MATERIALIZED (
         |  SELECT vec_id, cell FROM (
         |    SELECT t.vec_id, c.cell,
         |      row_number() OVER (PARTITION BY t.vec_id
         |        ORDER BY ${d2full("t.v", "c.cv")}, c.cell) AS rn
         |    FROM vv2 t, cent2 c) WHERE rn = 1),
         |probe2 AS (
         |  SELECT cell FROM cent2, q2 ORDER BY ${d2full("cv", "q2.qv")}, cell LIMIT $IvfPqProbe),
         |brute AS (
         |  SELECT vec_id FROM (
         |    SELECT vec_id,
         |      ${sqlCos("v", "qv")} AS score_raw
         |    FROM vv2, q2 WHERE vec_id <> 0)
         |  ORDER BY score_raw DESC, vec_id LIMIT 9),
         |agg AS (
         |  SELECT
         |    CAST((SELECT count(*) FROM brute b JOIN cells2 c USING (vec_id)
         |          JOIN probe2 USING (cell)) AS BIGINT) AS coarse_hits,
         |    CAST((SELECT count(*) FROM brute b JOIN pq USING (vec_id)) AS BIGINT) AS pq_hits)
         |SELECT coarse_hits, pq_hits,
         |  round(CAST(pq_hits AS DOUBLE) / coarse_hits, 6) AS recall_within_probe
         |FROM agg""".stripMargin
    },

    // the ann_pq oracle nested verbatim vs a 9-deep exact-cosine CTE
    // (self-hit excluded both sides) — composition can only pass if
    // both parents' semantics hold
    "ann_pq_recall" ->
      s"""WITH pq AS (
         |  SELECT vec_id FROM ($PqOracleSql) WHERE vec_id <> 0),
         |bq AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
         |brute AS (
         |  SELECT vec_id FROM (
         |    SELECT vec_id,
         |      ${sqlCos("CAST(embedding AS DOUBLE[])", "qv")} AS score_raw
         |    FROM embeddings, bq WHERE vec_id <> 0)
         |  ORDER BY score_raw DESC, vec_id LIMIT 9)
         |SELECT CAST(count(*) AS BIGINT) AS n_hits,
         |  round(count(*) / 9.0, 6) AS recall
         |FROM brute JOIN pq USING (vec_id)""".stripMargin,

    // recall@5 of the LSH index against the exact ground truth — both
    // sides are the already-oracled queries nested as subqueries, so
    // this entry can only pass if the composition semantics match too
    "ann_recall" ->
      s"""WITH brute AS (
         |  SELECT qid, vec_id FROM ($BruteOracleSql) WHERE qid < 4),
         |lsh AS (
         |  SELECT qid, vec_id FROM ($LshOracleSql)),
         |hits AS (
         |  SELECT b.qid, count(*) AS n
         |  FROM brute b JOIN lsh l ON b.qid = l.qid AND b.vec_id = l.vec_id
         |  GROUP BY 1)
         |SELECT q.qid, CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
         |  round(coalesce(h.n, 0) / 5.0, 6) AS recall
         |FROM (SELECT DISTINCT qid FROM brute) q LEFT JOIN hits h USING (qid)
         |ORDER BY qid""".stripMargin,

    // identical search semantics by construction — the entry differs
    // only in WHERE the cells live (loaded partitioned parquet vs the
    // in-plan assignment), which SQL cannot observe
    "ann_ivf_persisted" -> IvfOracleSql,
    // append assigns against the same frozen centroids, so the
    // maintained layout holds exactly the full build's rows
    "ann_ivf_append" -> IvfOracleSql,

    // the IVF assign CTEs with a PER-QUERY probe ranking (row_number
    // over cells per qid) and per-query top-k — the batched twin of
    // the ann_ivf oracle
    "ann_ivf_batch" ->
      s"""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
         |           FROM embeddings WHERE vec_id < 8),
         |m AS (SELECT GREATEST(1, CAST(FLOOR(SQRT(count(*))) AS BIGINT)) AS m FROM embeddings),
         |cent AS (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cv
         |         FROM embeddings, m WHERE vec_id % m = 0),
         |assign AS (
         |  SELECT vec_id, embedding, cell,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY list_distance(CAST(embedding AS DOUBLE[]), cv), cell) AS rn
         |  FROM embeddings, cent),
         |probe AS (
         |  SELECT qid, cell FROM (
         |    SELECT q.qid, cent.cell,
         |      row_number() OVER (PARTITION BY q.qid
         |        ORDER BY list_distance(cv, qv), cell) AS prn
         |    FROM cent, q)
         |  WHERE prn <= 3),
         |scored AS (
         |  SELECT p.qid, a.vec_id,
         |    ${sqlCos("CAST(a.embedding AS DOUBLE[])", "q.qv")} AS score_raw
         |  FROM assign a JOIN probe p USING (cell) JOIN q ON q.qid = p.qid
         |  WHERE a.rn = 1)
         |SELECT qid, vec_id, round(score_raw, 6) AS score,
         |  CAST(row_number() OVER (PARTITION BY qid ORDER BY score_raw DESC, vec_id) AS BIGINT) AS rk
         |FROM scored QUALIFY rk <= 10 ORDER BY qid, rk""".stripMargin,

    // the IVF oracle with the label predicate applied to the assigned
    // rows (probe selection unchanged): top-k among label=1 rows
    // inside the probed cells
    "ann_ivf_filtered" ->
      s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
         |m AS (SELECT GREATEST(1, CAST(FLOOR(SQRT(count(*))) AS BIGINT)) AS m FROM embeddings),
         |cent AS (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cv
         |         FROM embeddings, m WHERE vec_id % m = 0),
         |assign AS (
         |  SELECT vec_id, embedding, label, cell,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY list_distance(CAST(embedding AS DOUBLE[]), cv), cell) AS rn
         |  FROM embeddings, cent),
         |probe AS (SELECT cell FROM cent, q ORDER BY list_distance(cv, qv), cell LIMIT 3)
         |SELECT vec_id, cell, label, round(${sqlCos("CAST(embedding AS DOUBLE[])", "qv")}, 6) AS score
         |FROM assign JOIN probe USING (cell), q
         |WHERE rn = 1 AND label = 1
         |ORDER BY ${sqlCos("CAST(embedding AS DOUBLE[])", "qv")} DESC, vec_id LIMIT 10""".stripMargin,

    "ann_lsh" -> LshOracleSql,

    "knn_join" ->
      s"""WITH mb AS (
         |  SELECT MAX(c)::DOUBLE AS mb
         |  FROM (SELECT count(*) AS c FROM embeddings GROUP BY label)),
         |np AS (
         |  SELECT COALESCE(MIN(p), 24) AS np FROM range(2, 25) t(p), mb
         |  WHERE mb.mb * (p+1) / POW(2.0, p) <= 64),
         |planes AS (
         |  SELECT p, [(((('0x'||substr(md5(p::VARCHAR||','||j::VARCHAR), 1, 15))::BIGINT % 2001) - 1000) / 1000.0)
         |             for j in range(0, $Dim)] AS plane
         |  FROM range(0, 24) AS rp(p), np WHERE p < np),
         |bucketed AS (
         |  SELECT vec_id, label, v,
         |    string_agg(
         |      CASE WHEN list_reduce(
         |        list_prepend(0.0, [v[j+1] * plane[j+1] for j in range(0, $Dim)]),
         |        (a, b) -> a + b) >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
         |  FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), planes
         |  GROUP BY vec_id, label, v),
         |probes AS (
         |  SELECT vec_id, label, v,
         |    unnest(list_prepend(bucket,
         |      [substr(bucket, 1, p) ||
         |         (CASE WHEN substr(bucket, p+1, 1) = '1' THEN '0' ELSE '1' END) ||
         |         substr(bucket, p+2, np-1-p)
         |       for p in range(0, np)])) AS pb
         |  FROM bucketed, np),
         |scored AS (
         |  SELECT a.vec_id, b.vec_id AS nbr_id,
         |    ${sqlCos("a.v", "b.v")} AS score_raw
         |  FROM probes a JOIN bucketed b
         |    ON b.bucket = a.pb AND b.label = a.label AND b.vec_id <> a.vec_id)
         |SELECT vec_id, nbr_id, round(score_raw, 6) AS score,
         |  CAST(row_number() OVER (PARTITION BY vec_id ORDER BY score_raw DESC, nbr_id) AS BIGINT) AS rk
         |FROM scored QUALIFY rk <= 3 ORDER BY vec_id, rk""".stripMargin,

    // IVF-probed label-blocked kNN replayed in SQL: the ann_ivf
    // assignment CTE (√n seed-row centroids, (distance, cell) tie
    // order) extended per-vector — rn = 1 is the member cell (the
    // layout), rn <= 3 the probe list (NearestCentroids' ordering) —
    // then candidates share a probed cell and the label, exact
    // cosines, top-3 by (score desc, nbr_id) exactly as TopKAgg.
    "knn_join_ivf" ->
      s"""WITH m AS (SELECT GREATEST(1, CAST(FLOOR(SQRT(count(*))) AS BIGINT)) AS m FROM embeddings),
         |cent AS (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cv
         |         FROM embeddings, m WHERE vec_id % m = 0),
         |assign AS (
         |  SELECT vec_id, label, v, cell,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY list_distance(v, cv), cell) AS rn
         |  FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), cent),
         |members AS (SELECT vec_id, label, v, cell FROM assign WHERE rn = 1),
         |probes AS (SELECT vec_id AS qid, label AS qlab, v AS qv, cell
         |           FROM assign WHERE rn <= $KnnJoinProbe),
         |scored AS (
         |  SELECT p.qid AS vec_id, c.vec_id AS nbr_id,
         |    ${sqlCos("c.v", "p.qv")} AS score_raw
         |  FROM probes p JOIN members c
         |    ON c.cell = p.cell AND c.label = p.qlab AND c.vec_id <> p.qid)
         |SELECT vec_id, nbr_id, round(score_raw, 6) AS score,
         |  CAST(row_number() OVER (PARTITION BY vec_id ORDER BY score_raw DESC, nbr_id) AS BIGINT) AS rk
         |FROM scored QUALIFY rk <= 3 ORDER BY vec_id, rk""".stripMargin,

    // the knn_join_ivf oracle's candidate chain restricted to qid < 8
    // plus the exact label-blocked truth CTE; hits counted over the
    // fixed 8 × 3 truth set.
    "knn_join_ivf_recall" ->
      s"""WITH m AS (SELECT GREATEST(1, CAST(FLOOR(SQRT(count(*))) AS BIGINT)) AS m FROM embeddings),
         |cent AS (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cv
         |         FROM embeddings, m WHERE vec_id % m = 0),
         |assign AS (
         |  SELECT vec_id, label, v, cell,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY list_distance(v, cv), cell) AS rn
         |  FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), cent),
         |members AS (SELECT vec_id, label, v, cell FROM assign WHERE rn = 1),
         |probes AS (SELECT vec_id AS qid, label AS qlab, v AS qv, cell
         |           FROM assign WHERE rn <= $KnnJoinProbe AND vec_id < 8),
         |ivf AS (
         |  SELECT qid, nbr_id FROM (
         |    SELECT p.qid, c.vec_id AS nbr_id,
         |      row_number() OVER (PARTITION BY p.qid
         |        ORDER BY ${sqlCos("c.v", "p.qv")} DESC, c.vec_id) AS rk
         |    FROM probes p JOIN members c
         |      ON c.cell = p.cell AND c.label = p.qlab AND c.vec_id <> p.qid)
         |  WHERE rk <= 3),
         |q8 AS (SELECT vec_id AS qid, label AS qlab, CAST(embedding AS DOUBLE[]) AS qv
         |       FROM embeddings WHERE vec_id < 8),
         |truth AS (
         |  SELECT qid, nbr_id FROM (
         |    SELECT q8.qid, e.vec_id AS nbr_id,
         |      row_number() OVER (PARTITION BY q8.qid
         |        ORDER BY ${sqlCos("CAST(e.embedding AS DOUBLE[])", "q8.qv")} DESC, e.vec_id) AS rk
         |    FROM embeddings e JOIN q8
         |      ON e.label = q8.qlab AND e.vec_id <> q8.qid)
         |  WHERE rk <= 3)
         |SELECT count(*)::BIGINT AS n_hits, round(count(*) / 24.0, 6) AS recall
         |FROM truth SEMI JOIN ivf USING (qid, nbr_id)""".stripMargin,

    // the coded corpus kNN joins replayed end-to-end: IVF assignment +
    // probe lists (the knn_join_ivf CTEs), the code-model fit replay
    // (ann_pq codebooks / ann_sq grid), the SDC scoring, the (sdc, id)
    // candidate cut, exact-cosine rerank — every tie order pinned
    "knn_join_ivfpq" ->
      s"""WITH ${knnIvfPqChainSql(restrictQ = false)}
         |SELECT qid AS vec_id, nbr_id, score, rk
         |FROM reranked WHERE rk <= 3 ORDER BY vec_id, rk""".stripMargin,

    "knn_join_ivfsq" ->
      s"""WITH ${knnIvfSqChainSql(restrictQ = false)}
         |SELECT qid AS vec_id, nbr_id, score, rk
         |FROM reranked WHERE rk <= 3 ORDER BY vec_id, rk""".stripMargin,

    // the coded chains restricted to qid < 8 vs the exact
    // label-blocked truth CTE — hits over the fixed 8 × 3 truth set,
    // exactly the knn_join_ivf_recall accounting
    "knn_join_ivfpq_recall" -> codedRecallOracle(knnIvfPqChainSql(restrictQ = true)),
    "knn_join_ivfsq_recall" -> codedRecallOracle(knnIvfSqChainSql(restrictQ = true)))

  private def codedRecallOracle(chain: String): String =
    s"""WITH $chain,
       |got AS (SELECT qid, nbr_id FROM reranked WHERE rk <= 3),
       |q8 AS (SELECT vec_id AS qid, label AS qlab, CAST(embedding AS DOUBLE[]) AS qv
       |       FROM embeddings WHERE vec_id < 8),
       |truth AS (
       |  SELECT qid, nbr_id FROM (
       |    SELECT q8.qid, e.vec_id AS nbr_id,
       |      row_number() OVER (PARTITION BY q8.qid
       |        ORDER BY ${sqlCos("CAST(e.embedding AS DOUBLE[])", "q8.qv")} DESC, e.vec_id) AS rk
       |    FROM embeddings e JOIN q8
       |      ON e.label = q8.qlab AND e.vec_id <> q8.qid)
       |  WHERE rk <= 3)
       |SELECT count(*)::BIGINT AS n_hits, round(count(*) / 24.0, 6) AS recall
       |FROM truth SEMI JOIN got USING (qid, nbr_id)""".stripMargin
}
