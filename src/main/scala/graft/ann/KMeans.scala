package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic, oracle-replayable Lloyd's k-means.
  *
  * MLlib's KMeans (used by IvfIndex.buildWithKMeans) is the right tool
  * when only the fitted cells matter — but its k-means|| init and
  * float-order-dependent mean updates cannot be reproduced outside the
  * JVM, so nothing downstream of it can be value-checked by an
  * external engine. This variant pins every source of nondeterminism
  * so a SQL engine can replay the fit bit-for-bit (the dd_semantic
  * DuckDB oracle does exactly that):
  *
  *   - seeding is caller-supplied (corpus rows picked by an id rule,
  *     e.g. the IVF √n modulus) — no RNG;
  *   - assignment is the NearestCentroid codegen kernel: squared-L2
  *     argmin with the same left-to-right fold as DuckDB list
  *     arithmetic, ties to the lowest cluster id;
  *   - mean updates accumulate in DECIMAL(28,10) — exact, therefore
  *     independent of partitioning and shuffle order (a double sum is
  *     not) — and emit round(sum/count, 9) doubles, so the next
  *     iteration's distances start from identical bits on any engine.
  *
  * Scale shape: each iteration is one narrow assignment pass (the
  * centroid matrix is a plan constant, ≤ 65536 cells) plus one
  * map-side-combined VecSumDecAgg pass over the n vector rows as
  * stored (float arrays widen inside the aggregate, no per-row cast
  * copy) — one exchange of (cells × dim) partials. Per element the
  * decimal conversion and the sum run on primitive longs; a BigDecimal
  * is built only for the rare elements whose exactness the fast path
  * cannot prove. That is the classic distributed Lloyd step;
  * iterations are few and fixed. Clusters that lose all members drop
  * out (both engines compute the same surviving set).
  */
object KMeans {

  /** `iters` Lloyd updates from `seeds` (cid, cv); returns the final
    * centroid frame (cid, cv: array<double>). Each update materializes
    * the (small) centroid frame on the driver for the next assignment
    * kernel — planning-time, bounded by ivfAssign's 65536-cell rule.
    */
  def lloyd(vecs: DataFrame, idCol: String, vecCol: String,
      seeds: DataFrame, iters: Int): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    var cents = seeds.select(col("cid"), col("cv").cast("array<double>").as("cv"))
    for (_ <- 1 to iters)
      cents = meanCentroids(assign(vecs, idCol, vecCol, cents), vecCol)
    cents
  }

  /** Nearest-centroid cluster assignment: input columns plus `cell`. */
  def assign(vecs: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame): DataFrame =
    Ann.ivfAssign(vecs, idCol, vecCol, cents, "cid", "cv")

  /** Per-cluster element-wise mean — exact decimal accumulation (see
    * scaladoc above), rounded to 9 decimals so the emitted centroid
    * doubles are engine-portable.
    *
    * One VecSumDecAgg pass over the n vector rows (round 17): the
    * previous `posexplode → groupBy(cell, j) → groupBy(cell)`
    * formulation pushed n×dim exploded rows through a hash aggregate
    * and TWO exchanges per Lloyd iteration; the vector-state aggregate
    * consumes rows whole and combines map-side, so an iteration is ONE
    * exchange of (cells × dim) decimal partials. Values are
    * bit-identical by construction: the aggregate replays
    * cast(x as decimal(28,10)) per element and exact decimal addition
    * (order-independent), and the division + round(…, 9) below are
    * Spark's own expressions — the same code paths the exploded
    * formulation (and the DuckDB oracle) evaluates. Per-position
    * counts keep the exploded form's ragged/null-element semantics:
    * count(j) counts rows HAVING element j, a null element is counted
    * but not summed, and a cell whose every vector is null/empty emits
    * no centroid row (it had no (cell, j) groups before).
    */
  private def meanCentroids(assigned: DataFrame, vecCol: String): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    val vecSum = ColumnBridge.column(
      graft.functions.expr.VecSumDecAgg(
        ColumnBridge.expression(col(vecCol)))
        .toAggregateExpression())
    assigned
      .groupBy(col("cell"))
      .agg(vecSum.as("_sc"))
      .select(col("cell").as("cid"),
        zip_with(col("_sc.sums"), col("_sc.counts"),
          (s, c) => round(s.cast("double") / c, 9)).as("cv"))
      .filter(size(col("cv")) > 0)
  }
}
