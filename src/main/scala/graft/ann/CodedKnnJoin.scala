package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** CODES-based corpus×corpus kNN against an IVF layout — the
  * shuffle-lean composition of knnJoinSelf (round-13 verdict #4): the
  * candidate join carries quantization CODES instead of dim×4 float
  * bytes, scores pairs with a symmetric-distance kernel (both sides
  * coded — no vector arithmetic in the hot join), cuts each query's
  * np × |cell ∩ block| candidates down to a bounded `candidates`
  * list, and only then pays exact cosines over n × candidates pairs
  * (the FAISS refine shape graft's point queries already use).
  *
  * One join ([[knnJoinSelf]]) over any [[PairQuantizer]]; two rungs
  * of the measured compression ladder implement it — the same trade
  * the point-query family documents (ann_pq vs ann_sq), replayed at
  * join scale:
  *
  *   - PQ-SDC (Pq.Books, kernel PqSdc): 8 BYTES per side
  *     (codes packed into one long), per pair 8 table lookups — the
  *     cheapest possible candidate stage, but two codebook
  *     quantizations of noise mean the cut needs ~32 candidates to
  *     hold the coarse ceiling on the bench sphere;
  *   - SQ8-SDC (Sq.Grid, kernel SqSdc): dim bytes per side
  *     (64 B at Dim 64 — still 4× under float), per pair the
  *     dequantized-gap fold; 256 levels/dim track exact ordering so
  *     closely that candidates = 6 already reproduces the coarse
  *     ceiling EXACTLY on the bench corpus — the smaller cut keeps
  *     the bounded rerank's vector transport (n × candidates rows)
  *     small.
  *
  * What SHIPS as knn_join's production twin is the EXACT np=16 join
  * (knn_join_ivf / IvfIndex.knnJoinSelf — see Bench's twinAliases):
  * the coded rungs are GEOMETRY-GATED alternatives whose advantage is
  * measured to grow with dimension and probe width (see
  * [[chooseJoinRung]] and BENCH_DIM_r15.json) — at the bench corpus's
  * dim 64 a float vector costs about one shuffle row's key overhead,
  * so codes don't cut bytes there; at dim 768 / np 48 coded-SQ cuts
  * exchange bytes ~47%.
  *
  * Why FLAT codes, not IvfPqIndex's residual ones: SDC compares two
  * CODED vectors, so both must be quantized in the same coordinate
  * frame — residual codes live in per-cell frames and a probe pair's
  * two sides sit in different cells. The IVF layer contributes coarse
  * BLOCKING (probe lists, member cells); the flat code space
  * contributes comparability.
  *
  * Artifacts (corpus-version properties, built once at ingest): the
  * shared IVF layout, the shared code model (the ann_pq codebooks /
  * the ann_sq grid — one fit serving point queries AND the corpus
  * join), and ONE coded probe table per rung from
  * [[buildProbeTable]] — (qid, q_<block>…, prank, cell, qcode) where
  * prank ranks the query's np nearest cells. Its prank = 1 rows ARE
  * the members side (NearestCentroids' rank-1 pick is the
  * NearestCentroid assignment by construction — the np = 1 special
  * case), so the per-run join reads one narrow artifact twice; this
  * mirrors the oracle's `rn = 1 members / rn <= np probes` CTE pair
  * literally.
  *
  * Determinism (SURVEY §5): SDC scores replay in SQL from the
  * replayed fits; candidate cut orders by (sdc asc, id asc) — the
  * TopKAgg tie law; final k by (exact cosine desc, id asc). Output
  * mirrors knnJoinSelf: (qid, id, score, rk).
  */
object CodedKnnJoin {

  /** The coded self-probe artifact: every layout row's np nearest
    * cells (prank 1..np, rank 1 = the member cell) + its pair code
    * (PQ: the flat codes packed into one long; SQ8: the dim-byte codes
    * packed into ceil(dim/8) longs) + the block columns.
    */
  def buildProbeTable(ivf: IvfIndex, q: PairQuantizer, np: Int,
      blockCols: Seq[String] = Nil): DataFrame =
    probeRows(ivf, ivf.cells, q, np, blockCols)

  /** INCREMENTAL maintenance of the coded probe artifact — the
    * IvfIndex.appendSelfProbe discipline applied to the coded rungs:
    * a batch tick encodes the new rows against the FROZEN code model
    * (the corpus-version codebooks/grid — the same freeze contract as
    * the centroids; FAISS trains once and encodes forever) and
    * appends their probe rows, so append ≡ a rebuild that uses the
    * same frozen model, by construction
    * (CodedProbeMaintenanceSpec property-checks it). A model REFIT is
    * a re-index (new artifact path), never an append.
    */
  def appendProbe(ivf: IvfIndex, batch: DataFrame, probePath: String,
      q: PairQuantizer, np: Int, blockCols: Seq[String] = Nil): Unit =
    probeRows(ivf, batch, q, np, blockCols)
      .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(probePath)

  private def probeRows(ivf: IvfIndex, src: DataFrame, q: PairQuantizer,
      np: Int, blockCols: Seq[String]): DataFrame = {
    val (coded, codeCol) = q.pairCode(src, ivf.vecCol)
    val kernel = Centroids.collect(ivf.centroids, "cell", "cv").probes(col(ivf.vecCol), np)
    coded
      .select(col(ivf.idCol).as("qid") +:
        blockCols.map(c => col(c).as(s"q_$c")) :+
        codeCol.as("qcode") :+ kernel.as("_probes"): _*)
      .select(col("qid") +: blockCols.map(c => col(s"q_$c")) :+
        col("qcode") :+ posexplode(col("_probes")).as(Seq("_pos", "cell")): _*)
      .select(col("qid") +: blockCols.map(c => col(s"q_$c")) :+
        (col("_pos") + 1).cast("int").as("prank") :+ col("cell") :+
        col("qcode"): _*)
  }

  /** The coded corpus kNN join: candidate scores are the quantizer's
    * SDC over the two pair codes (PQ: the PqSdc lookup kernel; SQ8:
    * the SqSdc dequantized-gap kernel, optionally folded over a
    * dimension prefix — Sq.Grid.sdcDims). `probes` is a persisted
    * [[buildProbeTable]] frame built with the same model.
    */
  def knnJoinSelf(ivf: IvfIndex, probes: DataFrame, q: PairQuantizer,
      blockCols: Seq[String], k: Int, candidates: Int,
      queryPred: Column = lit(true)): DataFrame = {
    val sdc = q.pairDistance(col("_mcode"), col("qcode"),
      probes.schema("qcode").metadata)
    joinCore(ivf, probes, blockCols, k, candidates, queryPred, sdc)
  }

  /** The shared join shape: codes-only candidate join (layout rows as
    * the shuffled-hash build side — the knnJoinSelf round-14 lesson),
    * (sdc asc, id asc) cut via the bounded-heap TopKAgg, then the
    * bounded exact rerank fetching the two float vectors per
    * surviving pair.
    */
  private def joinCore(ivf: IvfIndex, probes: DataFrame,
      blockCols: Seq[String], k: Int, candidates: Int, queryPred: Column,
      sdc: Column): DataFrame = {
    require(candidates >= k, s"candidates $candidates must be >= k $k")
    // members = the rank-1 rows of the SAME artifact (the member
    // cell); NEVER filtered by queryPred — a query-subset evaluation
    // still ranks against the full corpus
    val members = probes.filter(col("prank") === 1)
      .select(col("qid").as("_mid") +: col("cell").as("_mcell") +:
        col("qcode").as("_mcode") +:
        blockCols.map(c => col(s"q_$c").as(s"_m_$c")): _*)
    val p = probes.filter(queryPred).select(
      col("qid") +: col("cell").as("_pcell") +: col("qcode") +:
        blockCols.map(c => col(s"q_$c")): _*)
    val blockCond = blockCols
      .map(c => col(s"_m_$c") === col(s"q_$c"))
      .foldLeft(col("_mcell") === col("_pcell"))(_ && _)
    val cands = members.hint("shuffle_hash")
      .join(p, blockCond && col("_mid") =!= col("qid"))
      .withColumn("_negsdc", -sdc)
      .groupBy(col("qid"))
      .agg(topK(col("_negsdc"), col("_mid"), candidates).as("_top"))
      .select(col("qid"), explode(col("_top.id")).as(ivf.idCol))
    // bounded exact rerank: n × candidates pairs move one float vector
    // each (the candidate side joins on id first — narrow left — then
    // the query side on qid); both corpus-sized fetches are
    // shuffled-hash with the vector side as build
    val vecs = ivf.cells
      .select(col(ivf.idCol), col(ivf.vecCol))
      .withColumn("_n", normD(col(ivf.vecCol)))
    cands
      .join(vecs.hint("shuffle_hash"), Seq(ivf.idCol))
      .withColumnRenamed(ivf.vecCol, "_v").withColumnRenamed("_n", "_nb")
      .join(vecs.withColumnRenamed(ivf.idCol, "qid").hint("shuffle_hash"),
        Seq("qid"))
      .withColumn("score_raw",
        cosinePreNorm(col("_v"), col("_nb"), col(ivf.vecCol), col("_n")))
      .groupBy(col("qid"))
      .agg(topK(col("score_raw"), col(ivf.idCol), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("_pos", "_t")))
      .select(col("qid"), col("_t.id").as(ivf.idCol),
        round(col("_t.score"), 6).as("score"),
        (col("_pos") + 1).cast("long").as("rk"))
  }

  /** Rung selection by geometry, encoding the measured crossover
    * (KnnDimProbe, 2 sessions × 3 reps — BENCH_DIM_r15.json):
    * candidate-stage bytes scale with code size vs dim×4 float bytes,
    * but every coded rung also pays a bounded exact rerank that moves
    * `candidates` float vectors per query, so codes only win once the
    * vector is much wider than a shuffle row's key overhead AND the
    * probe fan-out (np) is wide enough that the candidate stage
    * dominates the rerank. The artifact's min-of-sessions numbers
    * (50k × dim 768, nlist 225, k 3):
    *
    *   - dim 64 (bench gate), np 16: exact wins bytes AND time
    *     (vector ≈ key overhead; PQ's C=32 rerank moves 2916 MB vs
    *     exact's 812 MB at the 100× corpus — NOTES_r14).
    *   - dim 768, np 16: exact 23.2 s / 2215 MB still wins time;
    *     coded-SQ −18% bytes at +28% time, prefix-SDC loses both.
    *   - dim 768, np 48: the inversion — prefix-SDC (fold dim/4,
    *     C doubled) beats exact on BOTH axes (25.0 vs 31.1 s, −24%
    *     bytes); full-fold SQ8 buys the deepest byte cut (−47%) at
    *     +15% time for exchange-bound clusters.
    *
    * The rule ships the exact join until BOTH dim ≥ 256 (vector ≥
    * 1 KB/row, ~4× the key overhead where the np-16 measurement shows
    * codes start paying for themselves) and np ≥ 32 (between the
    * measured np-16 exact-wins and np-48 coded-wins points); above
    * that, SQ8-SDC — with the prefix fold (sdcDims = dim/4,
    * candidates doubled) once dim ≥ 512, where the full per-pair fold
    * costs as much as the exact dot it replaces (the r14 kernel
    * measurement) and the prefix is what makes the rung win wall time
    * too. Exchange-byte-bound deployments can still pick full "sq"
    * manually for the deeper cut. PQ-SDC is never auto-chosen: its
    * 8-byte codes win the candidate stage but its wider cut (C≈32 to
    * hold recall through two quantizations) loses total bytes at
    * every measured geometry (+146% at np 16, +28% at np 48).
    */
  def chooseJoinRung(dim: Int, np: Int): String =
    if (dim < 256 || np < 32) "exact"
    else if (dim >= 512) "sq-prefix"
    else "sq"
}
