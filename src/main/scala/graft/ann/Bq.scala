package graft.ann

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** 1-bit binary quantization — the bottom rung of the compression
  * ladder next to SQ8 (Sq, 4×), PQ (Pq, 32× with codebooks) and
  * IVF×PQ (cell pruning on top): 64 dims → 8 bytes, no training.
  *
  *   - FIT: per-dimension midpoint mid_d = (lo_d + hi_d) · 0.5 from
  *     corpus min/max — ONE partial-agg pass (Quantizer.minMax),
  *     order-free (a float MEAN would be order-dependent across
  *     engines and could flip the bit of any value near the
  *     threshold);
  *   - ENCODE: bit_d = x_d > mid_d, packed LSB-first into a single
  *     binary column of ceil(dim/8) bytes (BqEncode kernel);
  *   - SEARCH: Hamming distance to the driver-encoded query codes
  *     (BqHamming: XOR + popcount — integer, so candidate ordering
  *     has NO float-determinism surface at all), candidates by
  *     (hamming, id), then exact-cosine rerank of the bounded set
  *     (Quantizer.candidateTopK, the refine shape every rung shares).
  *
  * At 100 TB the candidate pass reads dim/8 bytes per row — 32× less
  * I/O than the float vectors and 4-8× less than SQ8/PQ codes —
  * which is why binary sketches are the standard first-pass filter
  * in front of a finer index. The recall trade is quantified by
  * ann_bq_recall exactly as ann_sq_recall / ann_pq_recall do for the
  * finer rungs. No coded self-join rung uses 1-bit codes, so the
  * thresholds implement the query-side contract only.
  *
  * Determinism (SURVEY §5): fit is min/max (order-free); the encode
  * comparison and bit packing are fixed per-dimension op sequences
  * the DuckDB oracle replays on unpacked bits (hamming over packed
  * bytes ≡ count of differing bits); ties order by (hamming, id) /
  * (exact, id).
  */
object Bq {

  import org.apache.spark.sql.graftshim.{ColumnBridge => EU}
  import graft.functions.expr.{BqEncode, BqHamming, BqKernel}

  final case class Thresholds(mid: Array[Double]) extends Quantizer {

    def dim: Int = mid.length

    def codeCols: Seq[String] = Seq("bcodes")

    /** Append the packed sign-bit column — one narrow codegen'd
      * projection (no shuffle).
      */
    def encode(corpus: DataFrame, vecCol: String): DataFrame =
      corpus.withColumn("bcodes", EU.column(BqEncode(
        EU.expression(col(vecCol).cast("array<double>")), EU.expression(lit(mid)))))

    def save(spark: SparkSession, dir: String): Unit = {
      import spark.implicits._
      Seq(mid.toSeq).toDF("mid")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(dir)
    }

    def queryDistance(queryVec: Array[Double]): Column =
      EU.column(BqHamming(EU.expression(col("bcodes")),
        EU.expression(lit(BqKernel.encodeLocal(queryVec, mid)))))

    override def distanceOut(raw: Column): Column = raw.as("hamming")
  }

  object Thresholds {

    /** The persisted midpoint thresholds, driver-loaded (dim doubles). */
    def load(spark: SparkSession, dir: String): Thresholds = {
      val r = spark.read.parquet(dir).collect()
      require(r.length == 1, s"Bq.Thresholds: malformed thresholds at $dir")
      Thresholds(r(0).getSeq[Double](0).toArray)
    }
  }

  /** Per-dimension midpoint thresholds from the corpus min/max. */
  def fit(corpus: DataFrame, vecCol: String, dim: Int): Thresholds = {
    val (lo, hi) = Quantizer.minMax(corpus, vecCol, dim, "Bq.fit")
    Thresholds(Array.tabulate(dim)(d => (lo(d) + hi(d)) * 0.5))
  }
}
