package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-driven ANN parameter selection.
  *
  * Round 1 fixed planes/bands/nlist per query; this derives them from
  * corpus statistics using the bucket-geometry math documented on the
  * operators themselves, so the same code holds candidate work bounded
  * from sf0.01 to 100 TB:
  *
  *   - LSH (Ann.knnJoinLsh): per-vector candidates ≈
  *     |block|·(nPlanes+1)/2^nPlanes (own bucket + nPlanes hamming-1
  *     probes, each ~|block|/2^nPlanes). Pick the smallest nPlanes
  *     that brings this under `targetCandidates` — nPlanes grows as
  *     log2(block), exactly the "grow nPlanes with the corpus" note.
  *   - IVF: the classic √n rule — nlist = √n balances centroid-assign
  *     cost (n·nlist) against probe cost (nprobe·n/nlist); nprobe
  *     scales as a fixed fraction of nlist with a floor, holding the
  *     scanned fraction ~constant while recall improves with tighter
  *     cells.
  *   - MinHash-LSH (Dedup.minHashCandidates): bands so the collision
  *     threshold s* = (1/bands)^(1/rowsPerBand) lands at the requested
  *     jaccard threshold (standard S-curve fit), bands ∈ divisors of
  *     nHashes.
  *
  * `stats` is one tiny aggregate (count + max block size) collected at
  * PLANNING time — a deliberate driver action on one row, not a
  * per-row operator cost.
  */
object AnnTuner {

  final case class CorpusStats(n: Long, dim: Int, maxBlock: Long)

  private val statsCache =
    new java.util.concurrent.ConcurrentHashMap[String, CorpusStats]()

  /** `stats`, memoized per (corpusKey, vecCol, blockCol) for the JVM's
    * life — a standing service (query build per request) must not
    * re-run even a tiny count job per build (round-5 review:
    * AnnQueries ran a driver count at every query build). The caller
    * owns the key; use the corpus path/table identity, and a NEW key
    * after mutating the corpus (stats snapshots are as stale as the
    * key lets them be).
    */
  def statsCached(corpusKey: String, vecs: => DataFrame, vecCol: String,
      blockCol: Option[String]): CorpusStats =
    statsCache.computeIfAbsent(s"$corpusKey|$vecCol|${blockCol.getOrElse("")}",
      _ => stats(vecs, vecCol, blockCol))

  /** One-pass planning stats: corpus size, vector dim, largest block
    * (blockCol = None → the whole corpus is one block). An empty
    * corpus is `CorpusStats(0, 0, 0)`.
    */
  def stats(vecs: DataFrame, vecCol: String, blockCol: Option[String]): CorpusStats = {
    val grouped = blockCol match {
      case Some(b) => vecs.groupBy(col(b)).agg(count(lit(1)).as("_n"))
        .agg(sum(col("_n")).as("n"), max(col("_n")).as("maxBlock"))
      case None => vecs.agg(count(lit(1)).as("n"), count(lit(1)).as("maxBlock"))
    }
    // no first row, no corpus: the per-block sum would be null
    vecs.select(size(col(vecCol)).as("d")).head(1).headOption match {
      case None => CorpusStats(0, 0, 0)
      case Some(d) =>
        val r = grouped.head()
        CorpusStats(r.getLong(0), d.getInt(0), r.getLong(1))
    }
  }

  /** Smallest nPlanes with |block|·(nPlanes+1)/2^nPlanes ≤ target
    * (clamped to [2, 24] — beyond 24 planes the bucket key itself is
    * the bottleneck and recall needs multi-table LSH instead).
    */
  def lshPlanes(blockSize: Long, targetCandidates: Int = 64): Int = {
    require(targetCandidates > 0, "targetCandidates must be positive")
    var p = 2
    while (p < 24 &&
        blockSize.toDouble * (p + 1) / (1L << p) > targetCandidates) p += 1
    p
  }

  /** √n cells, clamped to [1, 65536]. */
  def ivfNlist(n: Long): Int =
    math.max(1, math.min(65536, math.round(math.sqrt(n.toDouble)).toInt))

  /** Probe ~5% of cells with a floor of 3 — scanned fraction stays
    * ~nprobe/nlist ≈ 5% as the corpus (and √n cell count) grows.
    */
  def ivfNprobe(nlist: Int): Int =
    math.max(1, math.min(nlist, math.max(3, math.round(nlist * 0.05).toInt)))

  /** Bands for a target jaccard threshold: collision S-curve crosses
    * 1/2 near s* = (1/b)^(r/nHashes·…) — standard approximation
    * s* ≈ (1/b)^(1/r) with r = nHashes/b. Chooses the divisor of
    * nHashes whose s* is closest to the requested threshold.
    */
  def minHashBands(nHashes: Int, threshold: Double): Int = {
    require(nHashes > 0 && threshold > 0 && threshold < 1)
    val divisors = (1 to nHashes).filter(nHashes % _ == 0)
    divisors.minBy { b =>
      val r = nHashes / b
      math.abs(math.pow(1.0 / b, 1.0 / r) - threshold)
    }
  }
}
