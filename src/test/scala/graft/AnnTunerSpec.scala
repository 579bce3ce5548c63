package graft

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.ann.{Ann, AnnTuner}

/** Corpus-driven ANN parameter derivation: the point is that tuned
  * parameters hold per-vector candidate work BOUNDED as the corpus
  * grows — measured empirically on a corpus and its 10× version.
  */
class AnnTunerSpec extends SparkSpecBase {

  private val Dim = 16

  private def corpus(n: Int, seed: Long) = {
    import spark.implicits._
    val rnd = new Random(seed)
    (0 until n).map { i =>
      (i.toLong, Array.fill(Dim)((rnd.nextGaussian() / 4).toFloat))
    }.toDF("vec_id", "embedding")
  }

  /** Mean LSH candidates per vector for knnJoinLsh's probe geometry:
    * own bucket + nPlanes hamming-1 probes.
    */
  private def meanCandidates(n: Int, seed: Long, nPlanes: Int): Double = {
    val bucketed = corpus(n, seed)
      .withColumn("bucket", Ann.lshBucket(col("embedding"), nPlanes, Dim))
    val sizes = bucketed.groupBy("bucket").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def flip(b: String, p: Int): String =
      b.updated(p, if (b(p) == '1') '0' else '1')
    val perVector = sizes.toSeq.flatMap { case (b, cnt) =>
      val cands = (sizes.getOrElse(b, 0L) - 1) +
        (0 until nPlanes).map(p => sizes.getOrElse(flip(b, p), 0L)).sum
      Seq.fill(cnt.toInt)(cands.toDouble)
    }
    perVector.sum / perVector.length
  }

  test("tuned nPlanes keeps per-vector candidates bounded across 10x growth") {
    val target = 64
    val small = 2000
    val big = 20000 // the 10x pair
    val pSmall = AnnTuner.lshPlanes(small, target)
    val pBig = AnnTuner.lshPlanes(big, target)
    assert(pBig > pSmall, "plane count must grow with the corpus")
    val mSmall = meanCandidates(small, seed = 7, pSmall)
    val mBig = meanCandidates(big, seed = 11, pBig)
    // geometry bound is for uniform buckets; real buckets skew, so
    // allow 4x — the scale claim is that 10x data does NOT mean 10x
    // candidates (an untuned plane count gives exactly that)
    assert(mSmall <= 4.0 * target, s"small corpus: $mSmall candidates/vector")
    assert(mBig <= 4.0 * target, s"big corpus: $mBig candidates/vector")
    val mBigUntuned = meanCandidates(big, seed = 11, pSmall)
    assert(mBigUntuned > 2 * mBig,
      s"untuned ($mBigUntuned) should be much worse than tuned ($mBig)")
  }

  test("lshPlanes follows the bucket-geometry bound") {
    // smallest p with n(p+1)/2^p <= target
    assert(AnnTuner.lshPlanes(1000, 64) == 7)   // 1000*8/128 = 62.5
    assert(AnnTuner.lshPlanes(10000, 64) == 11) // 10000*12/2048 = 58.6
    assert(AnnTuner.lshPlanes(10, 64) == 2)     // floor
    (1 to 8).foreach { e =>
      val n = math.pow(10, e).toLong
      val p = AnnTuner.lshPlanes(n, 64)
      assert(n.toDouble * (p + 1) / (1L << p) <= 64 || p == 24)
    }
  }

  test("ivf follows the sqrt-n rule with a ~constant scanned fraction") {
    assert(AnnTuner.ivfNlist(10000) == 100)
    assert(AnnTuner.ivfNlist(1000000) == 1000)
    Seq(10000L, 1000000L, 100000000L).foreach { n =>
      val nlist = AnnTuner.ivfNlist(n)
      val nprobe = AnnTuner.ivfNprobe(nlist)
      val frac = nprobe.toDouble / nlist
      assert(frac <= 0.35 && frac > 0.0, s"n=$n scanned fraction $frac")
    }
    // large regime: the fraction settles at the 5% design point
    assert(AnnTuner.ivfNprobe(1000).toDouble / 1000 == 0.05)
  }

  test("minHashBands reproduces the S-curve choice the dedup ops use") {
    // dd_ngram_jaccard: 32 hashes, threshold ~0.6 -> 8 bands x 4 rows
    assert(AnnTuner.minHashBands(32, 0.6) == 8)
    // high threshold -> fewer, longer bands; low threshold -> more bands
    assert(AnnTuner.minHashBands(32, 0.9) < 8)
    assert(AnnTuner.minHashBands(32, 0.25) > 8)
  }

  test("dd_embed_cosine tuned planes: candidates bounded at sf0.1 / 10x / 100x") {
    // measured label-block sizes: maxBlock 218 at sf0.1; 10x/100x grow
    // the blocks linearly (labels are a fixed 10-value dimension)
    val target = 64
    val scales = Seq(218L, 2180L, 21800L)
    val cands = scales.map { mb =>
      val p = AnnTuner.lshPlanes(mb, target)
      // pair-join work per vector inside a (label|bucket) block is the
      // expected bucket population, block/2^p
      val perVec = mb.toDouble / (1L << p)
      assert(mb.toDouble * (p + 1) / (1L << p) <= target || p == 24,
        s"maxBlock=$mb p=$p violates the geometry bound")
      perVec
    }
    // 100x data must NOT mean 100x pair work: tuned planes hold the
    // per-vector candidate count within the target at every scale
    cands.foreach(c => assert(c <= target, s"per-vector candidates $c"))
    // a FIXED p (the round-4 hardcoded 4) blows through the bound one
    // scale-up later — the reason the parameter is derived
    assert(scales.last.toDouble / (1L << 4) > 16 * target)
  }

  test("dd_minhash tuned bands: cutoff pinned to the threshold at any nHashes") {
    // the query's geometry: 16 hashes, 0.7 target -> 4 bands x 4 rows,
    // s* = (1/4)^(1/4) ~ 0.707 (the round-4 fixed geometry, now derived)
    assert(AnnTuner.minHashBands(16, 0.7) == 4)
    // re-deriving under a different budget keeps s* near the target
    // instead of silently moving the cutoff (the fixed-bands failure)
    Seq(16, 32, 64).foreach { nH =>
      val b = AnnTuner.minHashBands(nH, 0.7)
      val sStar = math.pow(1.0 / b, b.toDouble / nH)
      assert(math.abs(sStar - 0.7) < 0.15, s"nHashes=$nH bands=$b s*=$sStar")
    }
    // candidate-pair work per band bucket is capped independently of
    // corpus size (Dedup.DefaultMaxBucketSize bounds every bucket the
    // pair join sees), so scale safety = pinned cutoff + hard cap
    assert(graft.dedup.Dedup.DefaultMaxBucketSize <= 1024)
  }

  test("stats collects (n, dim, maxBlock) in one pass") {
    import spark.implicits._
    val df = Seq(
      (1L, "a", Array(1f, 2f)), (2L, "a", Array(3f, 4f)), (3L, "b", Array(5f, 6f)))
      .toDF("vec_id", "label", "embedding")
    val st = AnnTuner.stats(df, "embedding", Some("label"))
    assert(st == AnnTuner.CorpusStats(3L, 2, 2L))
    val whole = AnnTuner.stats(df, "embedding", None)
    assert(whole.n == 3L && whole.maxBlock == 3L)
  }

  test("stats on an empty corpus is all zeros, with or without a block column") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String, Array[Float])].toDF("vec_id", "label", "embedding")
    assert(AnnTuner.stats(empty, "embedding", Some("label")) == AnnTuner.CorpusStats(0L, 0, 0L))
    assert(AnnTuner.stats(empty, "embedding", None) == AnnTuner.CorpusStats(0L, 0, 0L))
  }

  test("statsCached computes once per (key, vecCol, blockCol) per JVM") {
    import spark.implicits._
    def df = Seq((1L, "a", Array(1f, 2f)), (2L, "b", Array(3f, 4f)))
      .toDF("vec_id", "label", "embedding")
    var builds = 0
    def counted = { builds += 1; df }
    val key = s"spec-cache-${System.nanoTime()}"
    val a = AnnTuner.statsCached(key, counted, "embedding", None)
    val b = AnnTuner.statsCached(key, counted, "embedding", None)
    assert(builds == 1 && a == b && a.n == 2L)
    // a different blockCol is a different cache entry
    val c = AnnTuner.statsCached(key, counted, "embedding", Some("label"))
    assert(builds == 2 && c.maxBlock == 1L)
  }
}
