package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * The reference scores every item against the query in a Python loop
  * (reference: local_index.py:126-151 + item_selector.py:9-52); these
  * operators keep the same exact-cosine semantics but restructure the
  * search for a cluster:
  *   - brute force is the baseline: a broadcast of the (small) query
  *     set against a narrow scan of the corpus — exact, one pass;
  *   - IVF prunes the scan to `nprobe` of `nlist` cells; on disk the
  *     cell id is a partition column, so probing is partition pruning
  *     (only nprobe/nlist of a 100 TB corpus is read);
  *   - hyperplane LSH prunes to one bucket of 2^nPlanes; planes are
  *     md5-derived so index build is reproducible on any engine.
  */
object Ann {

  /** Exact top-k per query vector: broadcast the query set, score in
    * one narrow pass over the corpus, keep k per query via a window
    * partitioned by query id (the shuffle moves only
    * (qid, id, score) triples, never vectors).
    */
  def bruteForceTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String, k: Int): DataFrame = {
    val scored = graft.Tables.fanOut(corpus)
      .crossJoin(broadcast(queries.select(col(qidCol).as("qid"), col(qvecCol).as("qv"))))
      .filter(col(idCol) =!= col("qid"))
      .withColumn("score_raw", cosine(col(vecCol), col("qv")))
    // bounded-heap aggregate, not a window: the shuffle carries ≤ k
    // pairs per (query × map partition) instead of every scored row
    scored
      .groupBy(col("qid"))
      .agg(topK(col("score_raw"), col(idCol), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("_pos", "_t")))
      .select(col("qid"), col("_t.id").as(idCol),
        round(col("_t.score"), 6).as("score"), (col("_pos") + 1).cast("long").as("rk"))
  }

  /** IVF cell assignment: nearest centroid by L2 distance (ties →
    * lowest centroid id). The centroid set is materialized at PLANNING
    * time (Centroids.collect — bounded by the nlist rule) and the
    * per-row argmin is a single codegen'd kernel (NearestCentroid):
    * the plan is a narrow map over the corpus — no n×nlist row
    * explosion, no argmin aggregate, no shuffle. The earlier
    * crossJoin+argmin formulation pushed 89M scored rows through an
    * aggregate at the 100× sweep (~2 min); this shape is O(corpus)
    * rows at any nlist. At write time `partitionBy("cell")` turns
    * probing into partition pruning.
    */
  def ivfAssign(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, cidCol: String, cvecCol: String): DataFrame =
    graft.Tables.fanOut(corpus).withColumn("cell",
      Centroids.collect(centroids, cidCol, cvecCol).assign(col(vecCol)))

  /** Per-row IVF residual `x − centroid(cell)` — the encode input of
    * FAISS's IVFPQ (Jégou et al. 2011 §IV.A: quantize the residual,
    * not the raw vector; within-cell residuals are small, so the same
    * PQ code budget spends its precision where the data actually is —
    * most of the composed index's recall comes from this). Shape: a
    * broadcast join against the bounded centroid frame (≤ 65536 rows
    * by the nlist rule) + one `zip_with` projection — no shuffle, no
    * explosion; at 100 TB this is a narrow map over the corpus.
    * Elementwise double subtraction, so a SQL oracle replays it
    * exactly.
    */
  def residuals(assigned: DataFrame, vecCol: String, cellCol: String,
      centroids: DataFrame, cidCol: String, cvecCol: String,
      outCol: String): DataFrame = {
    val cents = centroids.select(col(cidCol).as(cellCol),
      col(cvecCol).cast("array<double>").as("_ccv"))
    assigned.join(broadcast(cents), cellCol)
      .withColumn(outCol, zip_with(col(vecCol).cast("array<double>"),
        col("_ccv"), (a, b) => a - b))
      .drop("_ccv")
  }

  /** IVF probe: rank cells by centroid distance to the query vector,
    * search only the top `nprobe` cells, exact top-k inside them.
    * The query arrives as a one-row DataFrame (col `qv`) so the whole
    * search is one declarative plan — no driver-side collect. `pred`
    * filters the candidates before the probe join, never the probed
    * cells (IvfIndex.searchWhere). Output: (id, cell, keepCols…, score).
    */
  def ivfSearch(assigned: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, cidCol: String, cvecCol: String,
      query: DataFrame, qvecCol: String, nprobe: Int, k: Int,
      pred: Option[Column] = None, keepCols: Seq[String] = Nil): DataFrame = {
    val q = broadcast(query.select(col(qvecCol).as("qv")))
    val probeCells = centroids
      .crossJoin(q)
      .select(col(cidCol).as("cell"), l2SqD(col(cvecCol), col("qv")).as("_qd"))
      .orderBy(col("_qd"), col("cell"))
      .limit(nprobe)
      .select(col("cell"))
    pred.fold(assigned)(assigned.filter)
      .join(broadcast(probeCells), "cell")
      .crossJoin(q)
      .withColumn("score_raw", cosine(col(vecCol), col("qv")))
      .orderBy(desc("score_raw"), col(idCol))
      .limit(k)
      .select(col(idCol) +: col("cell") +: keepCols.map(col) :+
        round(col("score_raw"), 6).as("score"): _*)
  }

  /** The j-th component of md5-derived hyperplane p: a deterministic
    * pseudo-uniform value in [-1, 1] with three decimal digits —
    * reproducible in any engine with md5 (SURVEY.md §5). Computed
    * DRIVER-SIDE once (the planes are constants); embedding them as
    * literal arrays keeps the per-row work a pure codegen'd dot
    * product — the earlier column-expression formulation re-ran
    * nPlanes×dim md5 digests on every row.
    */
  private[ann] def planeComponent(p: Int, j: Int): Double = {
    val md5hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p,$j".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
    val h = java.lang.Long.parseLong(md5hex.substring(0, 15), 16)
    (h % 2001 - 1000).toDouble / 1000.0
  }

  private[ann] def plane(p: Int, dim: Int): Seq[Double] =
    (0 until dim).map(j => planeComponent(p, j))

  /** Signed projection onto hyperplane p: codegen'd VectorDot against
    * the literal plane. The fold is sequential in both Spark and
    * DuckDB, so the IEEE sum is bit-identical across engines.
    */
  private def planeDot(vec: Column, p: Int, dim: Int): Column =
    dotD(vec, array(plane(p, dim).map(lit): _*))

  /** LSH bucket key: one sign bit per hyperplane. */
  def lshBucket(vec: Column, nPlanes: Int, dim: Int): Column =
    concat((0 until nPlanes).map(p => when(planeDot(vec, p, dim) >= 0, "1").otherwise("0")): _*)

  /** Bucketed ANN: candidates share the query's bucket; exact cosine
    * rerank of that bucket only. One narrow pass to bucket the corpus
    * (bucketing is also the on-disk layout at scale), then a pruned
    * exact search of ~n/2^nPlanes rows.
    */
  def lshSearch(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      nPlanes: Int, dim: Int, k: Int): DataFrame = {
    val bucketed = graft.Tables.fanOut(corpus)
      .withColumn("bucket", lshBucket(col(vecCol), nPlanes, dim))
    val qb = queries.select(
      col(qidCol).as("qid"), col(qvecCol).as("qv"),
      lshBucket(col(qvecCol), nPlanes, dim).as("bucket"))
    bucketed
      .join(broadcast(qb), "bucket")
      .filter(col(idCol) =!= col("qid"))
      .withColumn("score_raw", cosine(col(vecCol), col("qv")))
      .groupBy(col("qid"), col("bucket"))
      .agg(topK(col("score_raw"), col(idCol), k).as("top"))
      .select(col("qid"), col("bucket"), posexplode(col("top")).as(Seq("_pos", "_t")))
      .select(col("qid"), col("_t.id").as(idCol), col("bucket"),
        round(col("_t.score"), 6).as("score"), (col("_pos") + 1).cast("long").as("rk"))
  }

  /** Multi-probe LSH: search the query's bucket plus every bucket at
    * hamming distance 1 (one sign bit flipped) — the standard recall
    * lever that avoids doubling the plane count. Probing B buckets
    * scans B/2^nPlanes of the corpus; buckets are disjoint so no
    * candidate dedup is needed.
    */
  /** Bucket string with bit p flipped (hamming-1 probe). */
  private def flipBit(b: Column, p: Int, nPlanes: Int): Column = concat(
    substring(b, 1, p),
    when(substring(b, p + 1, 1) === "1", "0").otherwise("1"),
    substring(b, p + 2, nPlanes - p - 1))

  def lshSearchMultiProbe(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      nPlanes: Int, dim: Int, k: Int): DataFrame = {
    def flip(b: Column, p: Int): Column = flipBit(b, p, nPlanes)
    val bucketed = graft.Tables.fanOut(corpus)
      .withColumn("bucket", lshBucket(col(vecCol), nPlanes, dim))
    val qb = queries.select(
        col(qidCol).as("qid"), col(qvecCol).as("qv"),
        lshBucket(col(qvecCol), nPlanes, dim).as("_b0"))
      .select(col("qid"), col("qv"),
        explode(array(col("_b0") +: (0 until nPlanes).map(p => flip(col("_b0"), p)): _*))
          .as("bucket"))
    bucketed
      .join(broadcast(qb), "bucket")
      .filter(col(idCol) =!= col("qid"))
      .withColumn("score_raw", cosine(col(vecCol), col("qv")))
      .groupBy(col("qid"))
      .agg(topK(col("score_raw"), col(idCol), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("_pos", "_t")))
      .select(col("qid"), col("_t.id").as(idCol),
        round(col("_t.score"), 6).as("score"), (col("_pos") + 1).cast("long").as("rk"))
  }

  /** Approximate k-nearest-neighbor self-join: candidates come from
    * the same (block × LSH bucket), multi-probed at hamming distance
    * 1 — candidate count per vector is |block|·(nPlanes+1)/2^nPlanes,
    * so the pair join is bounded by the bucket geometry instead of
    * |block|² (the exact `knnJoin` went quadratic at a 10× scale-up).
    * Grow nPlanes with the corpus to hold per-vector candidate counts
    * constant. No dedup needed: each neighbor lives in exactly one
    * bucket, and probe buckets are distinct.
    */
  /** knnJoinLsh with the plane count derived from corpus stats
    * (AnnTuner.lshPlanes): per-vector candidate counts stay ≈
    * targetCandidates as blocks grow — nPlanes rises with log2(block)
    * instead of being frozen at build time. One tiny planning
    * aggregate, then the identical plan.
    */
  def knnJoinLshTuned(vecs: DataFrame, idCol: String, vecCol: String,
      blockCol: String, k: Int, targetCandidates: Int = 64,
      statsKey: Option[String] = None): DataFrame = {
    // statsKey memoizes the planning aggregate per corpus per JVM
    // (AnnTuner.statsCached) — pass it from any caller that builds
    // this query repeatedly over the same corpus
    val st = statsKey match {
      case Some(key) => AnnTuner.statsCached(key, vecs, vecCol, Some(blockCol))
      case None      => AnnTuner.stats(vecs, vecCol, Some(blockCol))
    }
    knnJoinLsh(vecs, idCol, vecCol, blockCol, k,
      nPlanes = AnnTuner.lshPlanes(st.maxBlock, targetCandidates), dim = st.dim)
  }

  def knnJoinLsh(vecs: DataFrame, idCol: String, vecCol: String,
      blockCol: String, k: Int, nPlanes: Int, dim: Int): DataFrame = {
    // per-ROW norm folded once before the candidate join (same move
    // as Dedup.embeddingPairs): the join evaluates ~targetCandidates
    // pairs per vector, and cosine would recompute both 64-dim norms
    // per pair. cosinePreNorm's denom is the same normD product —
    // results bit-identical.
    val bucketed = graft.Tables.fanOut(vecs)
      .select(col(blockCol).as("blk"), col(idCol), col(vecCol))
      .withColumn("bucket", lshBucket(col(vecCol), nPlanes, dim))
      .withColumn("_nrm", graft.functions.VectorFunctions.normD(col(vecCol)))
    val probes = bucketed.select(col("blk"), col(idCol), col(vecCol),
      col("_nrm"),
      explode(array(col("bucket") +:
        (0 until nPlanes).map(p => flipBit(col("bucket"), p, nPlanes)): _*)).as("pb"))
    val nbrs = bucketed.select(col("blk").as("blk_r"), col(idCol).as("nbr_id"),
      col(vecCol).as("nv"), col("_nrm").as("_nrm_r"), col("bucket").as("b_r"))
    probes
      .join(nbrs, col("pb") === col("b_r") && col("blk") === col("blk_r") &&
        col(idCol) =!= col("nbr_id"))
      .withColumn("score_raw", graft.functions.VectorFunctions.cosinePreNorm(
        col(vecCol), col("_nrm"), col("nv"), col("_nrm_r")))
      .groupBy(col(idCol))
      .agg(topK(col("score_raw"), col("nbr_id"), k).as("top"))
      .select(col(idCol), posexplode(col("top")).as(Seq("_pos", "_t")))
      .select(col(idCol), col("_t.id").as("nbr_id"),
        round(col("_t.score"), 6).as("score"), (col("_pos") + 1).cast("long").as("rk"))
  }

  /** EXACT k-nearest-neighbor self-join inside a blocking column: each
    * vector gets its k nearest same-block neighbors. |block|² pairs
    * per block — use only where blocks are known-bounded (e.g. an IVF
    * cell); for corpus-growing blocks use knnJoinLsh.
    */
  def knnJoin(vecs: DataFrame, idCol: String, vecCol: String,
      blockCol: String, k: Int): DataFrame = {
    // per-row norm folded before the |block|² join — see knnJoinLsh
    val fv = graft.Tables.fanOut(vecs)
      .withColumn("_nrm", graft.functions.VectorFunctions.normD(col(vecCol)))
    val l = fv.select(col(blockCol).as("blk"), col(idCol), col(vecCol),
      col("_nrm"))
    val r = fv.select(col(blockCol).as("blk"), col(idCol).as("nbr_id"),
      col(vecCol).as("nv"), col("_nrm").as("_nrm_r"))
    l.join(r, Seq("blk"))
      .filter(col(idCol) =!= col("nbr_id"))
      .withColumn("score_raw", graft.functions.VectorFunctions.cosinePreNorm(
        col(vecCol), col("_nrm"), col("nv"), col("_nrm_r")))
      .groupBy(col(idCol))
      .agg(topK(col("score_raw"), col("nbr_id"), k).as("top"))
      .select(col(idCol), posexplode(col("top")).as(Seq("_pos", "_t")))
      .select(col(idCol), col("_t.id").as("nbr_id"),
        round(col("_t.score"), 6).as("score"), (col("_pos") + 1).cast("long").as("rk"))
  }
}
