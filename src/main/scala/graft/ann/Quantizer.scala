package graft.ann

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.Metadata

/** The quantizer contract of the compression ladder — SQ8
  * ([[Sq.Grid]], 4×), 1-bit ([[Bq.Thresholds]], 32× with no
  * training) and PQ ([[Pq.Books]], flat, or residual-per-cell through
  * [[Pq.Books.perCell]]) — and the one place that decides how a
  * quantized layout is stored and searched:
  *
  *   - a fitted model appends its code columns to a corpus in one
  *     narrow codegen'd projection ([[encode]]) and saves itself next
  *     to them ([[save]]; each rung's companion loads it back);
  *   - [[Quantizer.candidateTopK]] is the single two-phase serving
  *     plan (FAISS's refine shape): a codes-only candidate scan, then
  *     an exact-cosine rerank of the bounded candidate set;
  *   - [[CodedIndex]] is the persisted layout (codes parquet + model
  *     parquet) that plan runs against after a load;
  *   - [[PairQuantizer]] adds the symmetric side — a pair code both
  *     join sides carry and the SDC distance between two of them —
  *     that [[CodedKnnJoin]] joins on.
  *
  * Fit is per rung (the models differ in what they need: SQ8 and
  * 1-bit share one min/max pass, [[Quantizer.minMax]]; PQ runs Lloyd
  * updates), and each fit returns the model.
  */
trait Quantizer {

  /** Vector dim the model was fitted at; a query must match it. */
  def dim: Int

  /** The columns [[encode]] appends — with the id, all the candidate
    * scan reads.
    */
  def codeCols: Seq[String]

  /** Code columns echoed in search results (PQ's oracles pin its
    * codes; a binary code column has no oracle counterpart).
    */
  def resultCols: Seq[String] = Nil

  def encode(corpus: DataFrame, vecCol: String): DataFrame

  def save(spark: SparkSession, dir: String): Unit

  /** Query-side candidate distance over the code columns; smaller is
    * nearer, ties break by id.
    */
  def queryDistance(queryVec: Array[Double]): Column

  /** The result column for the raw candidate distance. */
  def distanceOut(raw: Column): Column = round(raw, 6).as("adc")
}

/** A quantizer whose codes can be compared with each other: both sides
  * of a coded self-join carry the pair code, and the SDC distance
  * scores a pair without touching a float vector.
  */
trait PairQuantizer extends Quantizer {

  /** `src` with the pair code computed, and the column that holds it. */
  def pairCode(src: DataFrame, vecCol: String): (DataFrame, Column)

  /** SDC between a member's and a query's pair code. `codeMeta` is the
    * schema metadata of the persisted pair-code column (schema only —
    * no job), so a rung can refuse an artifact encoded against a
    * different model.
    */
  def pairDistance(member: Column, query: Column, codeMeta: Metadata): Column
}

object Quantizer {

  /** Candidate generation + exact rerank for one query vector: the
    * candidate pass projects ONLY (id, carried columns, codes) — on a
    * persisted code table the scan never touches the float vectors —
    * and keeps the `candidates` best by (distance, id); the winners'
    * vectors come back through a broadcast id-lookup and the final k
    * rank by (exact cosine desc, id). Quantization noise costs recall
    * only when a true neighbor misses the candidate set, so
    * `candidates` is the recall dial (measured by the ann_*_recall
    * entries); `candidates <= 0` reranks exactly the top k.
    * `carryCols` pass through to the output (IVF×PQ carries its cell).
    */
  def candidateTopK(encoded: DataFrame, idCol: String, vecCol: String,
      q: Quantizer, queryVec: Array[Double], k: Int, candidates: Int = 0,
      carryCols: Seq[String] = Nil): DataFrame = {
    val nCand = if (candidates <= 0) k else candidates
    require(nCand >= k, s"candidates $nCand must be >= k $k")
    require(queryVec.length == q.dim,
      s"query vector has ${queryVec.length} dims but the quantizer was fitted at ${q.dim}")
    val cands = encoded
      .select(col(idCol) +: (carryCols ++ q.codeCols).map(col): _*)
      .withColumn("_dist", q.queryDistance(queryVec))
      .orderBy(col("_dist"), col(idCol))
      .limit(nCand)
    import graft.functions.VectorFunctions.cosine
    encoded.select(col(idCol), col(vecCol))
      .join(broadcast(cands), Seq(idCol))
      .withColumn("_exact", cosine(col(vecCol).cast("array<double>"), lit(queryVec)))
      .orderBy(desc("_exact"), col(idCol))
      .limit(k)
      .select(col(idCol) +: (carryCols ++ q.resultCols).map(col) :+
        q.distanceOut(col("_dist")) :+
        round(col("_exact"), 6).as("exact_score"): _*)
  }

  /** Per-dimension (min, max) over the corpus — the SQ8 and 1-bit fit.
    * One aggregation (2×dim partial-aggregated columns), driver payload
    * 2×dim doubles, order-free; a dimension with no value (empty
    * corpus, null vectors or components throughout) is a named error.
    */
  private[ann] def minMax(corpus: DataFrame, vecCol: String, dim: Int,
      who: String): (Array[Double], Array[Double]) = {
    val v = col(vecCol).cast("array<double>")
    val aggs = (0 until dim).map(d => min(element_at(v, d + 1)).as(s"_lo$d")) ++
      (0 until dim).map(d => max(element_at(v, d + 1)).as(s"_hi$d"))
    val r = corpus.agg(aggs.head, aggs.tail: _*).head()
    (0 until dim).foreach { d =>
      require(!r.isNullAt(d) && !r.isNullAt(dim + d),
        s"$who: no values in dimension $d — empty corpus, or null " +
          s"vectors/components throughout; cannot derive the model " +
          s"(the '$vecCol' table must hold at least one non-null $dim-dim vector)")
    }
    (Array.tabulate(dim)(d => r.getDouble(d)), Array.tabulate(dim)(d => r.getDouble(dim + d)))
  }
}

/** A persisted quantized layout — the load-then-query contract of the
  * reference (local_index.py:126-151) for every flat rung of the
  * ladder. `build` pays the encode once at ingest: one parquet write
  * of the corpus with its code columns (`codes/`) plus the tiny model
  * (`model/`). A query's candidate pass reads ONLY (id, code
  * columns) — columnar projection, code bytes per row instead of dim×4
  * float bytes — and the exact rerank fetches just the `candidates`
  * winners' vectors by id. When the corpus outgrows a full code scan,
  * [[IvfPqIndex]] adds cell pruning on top.
  */
final class CodedIndex[Q <: Quantizer] private (
    val spark: SparkSession,
    val path: String,
    val idCol: String,
    val vecCol: String,
    readModel: (SparkSession, String) => Q) {

  lazy val codes: DataFrame = spark.read.parquet(s"$path/codes")

  /** The persisted model, driver-loaded once per instance — the layout
    * is immutable, so the cache cannot go stale.
    */
  lazy val model: Q = readModel(spark, s"$path/model")

  def search(queryVec: Array[Double], k: Int, candidates: Int = 0): DataFrame =
    Quantizer.candidateTopK(codes, idCol, vecCol, model, queryVec,
      k = k, candidates = candidates)
}

object CodedIndex {

  def build(corpus: DataFrame, vecCol: String, model: Quantizer, path: String): Unit = {
    model.encode(corpus, vecCol)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/codes")
    model.save(corpus.sparkSession, s"$path/model")
  }

  /** `readModel` is the rung's loader (`Sq.Grid.load`,
    * `Bq.Thresholds.load`, `Pq.Books.load(nSub)`).
    */
  def load[Q <: Quantizer](spark: SparkSession, path: String, idCol: String,
      vecCol: String, readModel: (SparkSession, String) => Q): CodedIndex[Q] =
    new CodedIndex(spark, path, idCol, vecCol, readModel)
}
