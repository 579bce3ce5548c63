package graft.ann

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Metadata, MetadataBuilder}

/** Scalar quantization (the FAISS SQ8 index shape) — the first rung of
  * the compression ladder, under PQ (ann_pq) and IVF×PQ:
  *
  *   - FIT: per-dimension (lo, hi) = corpus min/max — ONE partial-agg
  *     pass emitting 2×dim doubles to the driver (Quantizer.minMax).
  *     Unlike PQ's Lloyd fit there is no iteration and no codebook:
  *     SQ8's "model" is a per-dimension linear grid, which is why
  *     production stores reach for it first (cheap ingest, no
  *     training-distribution drift) and step up to PQ only when 4×
  *     compression isn't enough;
  *   - ENCODE: c_d = max(0, min(255, floor((x_d − lo_d)/step_d))), step_d =
  *     (hi_d − lo_d)/256 — a single codegen'd kernel (SqEncode) packing
  *     dim uint8 codes into ONE binary column: 64 B/row vs 256 B of
  *     float32, no per-element parquet overhead;
  *   - SEARCH: asymmetric distance (SqAdc kernel) — the exact query
  *     against each code's dequantized midpoint lo_d+(c_d+0.5)·step_d,
  *     algebraically folded as (qadj_d − c_d·step_d)² with qadj
  *     precomputed driver-side — then exact-cosine rerank of the
  *     bounded candidate set (Quantizer.candidateTopK);
  *   - PAIRS: codes packed into ceil(dim/8) longs (SqPack), scored by
  *     the SqSdc dequantized-gap fold in the coded self-join.
  *
  * Determinism (SURVEY §5): fit is min/max (order-free); encode and
  * the ADC fold are fixed left-to-right op sequences the DuckDB oracle
  * replays bit-for-bit; ties order by (adc, id) / (exact, id).
  */
object Sq {

  import org.apache.spark.sql.graftshim.{ColumnBridge => EU}
  import graft.functions.expr.{SqAdc, SqEncode, SqPack, SqSdc}

  /** Schema-metadata key carrying the ENCODE-TIME dim on the packed
    * pair-code column: the packed-long layout can only word-count-check
    * dim drift (ceil(dim/8) granularity), so the exact dim rides in
    * the parquet footer's schema metadata — zero extra rows or jobs —
    * and [[Grid.pairDistance]] requires it to equal the current grid's
    * (drift WITHIN one 8-code word, e.g. a probe encoded at 63 dims
    * against a 64-dim grid, otherwise folds pad bytes as code 0 —
    * plausible-but-wrong partial distances).
    */
  private[graft] val EncDimKey = "graft.sq.encDim"

  /** The per-dimension grid. `sdcDims` (0 = all) truncates the pair
    * (SDC) fold to the FIRST D′ dimensions — the polysemous-style
    * prefix filter for high-dimension corpora where the full per-pair
    * fold costs as much as the exact dot it replaces (SqSdc folds to
    * min(codes, step2.length), so the truncated step² array IS the
    * mechanism): a dimension prefix of an isotropic embedding is an
    * unbiased distance subsample, the join's `candidates` absorbs the
    * added selection noise, and the exact rerank restores output
    * scores. It is a query-time dial: encode, save and the candidate
    * scan ignore it.
    */
  final case class Grid(lo: Array[Double], step: Array[Double], sdcDims: Int = 0)
      extends PairQuantizer {

    def dim: Int = step.length

    def codeCols: Seq[String] = Seq("codes")

    private def encodeCol(vec: Column): Column =
      EU.column(SqEncode(EU.expression(vec.cast("array<double>")),
        EU.expression(lit(lo)), EU.expression(lit(step))))

    /** Append the uint8 code column — one narrow codegen'd projection. */
    def encode(corpus: DataFrame, vecCol: String): DataFrame =
      corpus.withColumn("codes", encodeCol(col(vecCol)))

    def save(spark: SparkSession, dir: String): Unit = {
      import spark.implicits._
      Seq(("lo", lo.toSeq), ("step", step.toSeq))
        .toDF("kind", "vals")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(dir)
    }

    def queryDistance(queryVec: Array[Double]): Column = {
      val qadj = Array.tabulate(queryVec.length)(d =>
        (queryVec(d) - lo(d)) - 0.5 * step(d))
      EU.column(SqAdc(EU.expression(col("codes")),
        EU.expression(lit(qadj)), EU.expression(lit(step))))
    }

    /** Codes packed into ceil(dim/8) longs (SqPack): the SDC join reads
      * them zero-copy per pair, where the binary column's per-access
      * copy dominated the candidate stage at join pair counts. The
      * column carries the encode dim ([[EncDimKey]]).
      */
    def pairCode(src: DataFrame, vecCol: String): (DataFrame, Column) = {
      val packed = EU.column(SqPack(EU.expression(col("_sqc"))))
      val encDimMeta = new MetadataBuilder().putLong(EncDimKey, dim.toLong).build()
      val coded = src.withColumn("_sqc", encodeCol(col(vecCol)))
      (coded.select(coded.columns.filter(_ != "_sqc").map(col) :+
        packed.as("_sqp", encDimMeta): _*), col("_sqp").as("qsq"))
    }

    def pairDistance(member: Column, query: Column, codeMeta: Metadata): Column = {
      // exact dim-drift gate: the encode-time dim the probe artifact
      // carries in its schema metadata must equal the current grid's —
      // the SqSdc word-count check alone cannot see drift within one
      // 8-code word. Schema-only: no job, no collect.
      if (codeMeta.contains(EncDimKey))
        require(codeMeta.getLong(EncDimKey) == dim.toLong,
          s"Sq.Grid.pairDistance: probe artifact encoded at dim " +
            s"${codeMeta.getLong(EncDimKey)} but the grid has " +
            s"$dim dims — rebuild the probe table " +
            "against the current grid (grid/corpus drift)")
      // step² precomputed once driver-side (one rounding per dim — the
      // oracle mirrors it as step*step inside its fold)
      val step2 = step.map(s => s * s)
      EU.column(SqSdc(EU.expression(member), EU.expression(query),
        if (sdcDims > 0) step2.take(sdcDims) else step2, dim))
    }
  }

  object Grid {

    /** The persisted (lo, step) grid, driver-loaded (2×dim doubles). */
    def load(spark: SparkSession, dir: String): Grid = {
      val r = spark.read.parquet(dir).orderBy("kind").collect()
      require(r.length == 2 && r(0).getString(0) == "lo" && r(1).getString(0) == "step",
        s"Sq.Grid: malformed grid at $dir")
      Grid(r(0).getSeq[Double](1).toArray, r(1).getSeq[Double](1).toArray)
    }
  }

  /** Per-dimension min/max over the corpus → quantization grid. */
  def fit(corpus: DataFrame, vecCol: String, dim: Int): Grid = {
    val (lo, hi) = Quantizer.minMax(corpus, vecCol, dim, "Sq.fit")
    Grid(lo, Array.tabulate(dim)(d => (hi(d) - lo(d)) / 256.0))
  }
}
