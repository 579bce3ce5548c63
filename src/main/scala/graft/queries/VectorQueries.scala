package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.filters.MetaFilter
import graft.functions.VectorFunctions._
import graft.index.VectorIndex

import QueryUtil._

/** The vectra LocalIndex surface re-expressed as Spark queries over
  * the `embeddings` table (vec_id, embedding: array<float>, label).
  *
  * The query vector is an INPUT in the reference protocol
  * (local_index.py query_items takes the vector as an argument — it
  * never scans a table for it), so the session fetches it once per
  * corpus (memoized, the same catalog contract as Tables.load) and
  * inlines it as a foldable literal: a single-query probe is then ONE
  * Spark job (scan → TakeOrdered), with no broadcast-exchange job for
  * a 1-row frame. The BATCH entries (ann_brute_batch, ann_ivf_batch)
  * keep the declarative N-query join shape — that is where "the same
  * plan serves 10^6 query vectors" belongs.
  */
object VectorQueries {

  /** Memoized query vectors, keyed WEAKLY by session then by corpus
    * dir — the exact catalog identity Tables.load keys its handle
    * cache on, with the same staleness contract: if a corpus dir's
    * files are rewritten in place mid-session, both caches serve the
    * old version until [[graft.Tables.invalidate]] (which clears this
    * cache too, via the registered hook below). A fresh session or
    * JVM always refetches.
    */
  private val qvCache =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, Array[Float]]]()

  graft.Tables.onInvalidate { () =>
    qvCache.synchronized(qvCache.clear())
  }

  /** The query vector (embedding of vec_id=0) as a literal column —
    * fetched once per (session, corpus dir).
    */
  private def qv(s: SparkSession, dir: String): org.apache.spark.sql.Column = {
    val m = qvCache.synchronized {
      var c = qvCache.get(s)
      if (c == null) {
        c = new java.util.concurrent.ConcurrentHashMap[String, Array[Float]]()
        qvCache.put(s, c)
      }
      c
    }
    val arr = m.computeIfAbsent(dir, _ =>
      t(s, dir, "embeddings").filter(col("vec_id") === 0L)
        .select(col("embedding")).head().getSeq[Float](0).toArray)
    typedlit(arr)
  }

  /** embeddings scored against the literal query vector. */
  private def scored(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .withColumn("score_raw", cosine(col("embedding"), qv(s, dir)))

  /** Shared SQL fragment for the oracle side. */
  private val sqlScored =
    """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      |scored AS (
      |  SELECT vec_id, label,
      |    list_dot_product(CAST(embedding AS DOUBLE[]), CAST(qv AS DOUBLE[])) /
      |    (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
      |     sqrt(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[])))) AS score_raw
      |  FROM embeddings, q)""".stripMargin

  val defs: Map[String, Q] = Map(
    // reference: local_index.py:126-151 query_items (no filter)
    "v_topk" -> ((s, dir) => {
      scored(s, dir)
        .orderBy(desc("score_raw"), col("vec_id"))
        .limit(10)
        .select(col("vec_id"), r6(col("score_raw")).as("score"))
    }),

    // reference: local_index.py:126-151 query_items with Mongo filter
    "v_topk_filtered" -> ((s, dir) => {
      val f = MetaFilter.parse("""{"label":{"$in":[2,4,6]}}""")
      val all = scored(s, dir)
      all.filter(f.toColumn(all))
        .orderBy(desc("score_raw"), col("vec_id"))
        .limit(10)
        .select(col("vec_id"), col("label"), r6(col("score_raw")).as("score"))
    }),

    // reference: local_index.py:121-124 list_items_by_metadata with
    // nested $or/$and/$in/$gte/$lt
    "v_meta_filter" -> ((s, dir) => {
      val f = MetaFilter.parse(
        """{"$or":[{"label":{"$in":[1,3]}},
          |        {"$and":[{"label":{"$gte":7}},{"label":{"$lt":9}}]}]}""".stripMargin)
      VectorIndex.build(t(s, dir, "embeddings"), "vec_id", "embedding")
        .listItemsByMetadata(f)
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    }),

    // reference: local_index.py:100-103 get_item
    "v_get_item" -> ((s, dir) => {
      VectorIndex.build(t(s, dir, "embeddings"), "vec_id", "embedding")
        .getItem(42L)
        .select(col("vec_id"), col("label"), r6(col("norm")).as("norm"))
    }),

    // reference: local_index.py:90-97 get_index_stats
    "v_index_stats" -> ((s, dir) => {
      VectorIndex.build(t(s, dir, "embeddings"), "vec_id", "embedding").stats
    }),

    // reference: local_index.py:153-161 upsert (latest wins by id)
    "v_upsert" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = VectorIndex.build(emb, "vec_id", "embedding")
      val updates = emb.filter(col("vec_id") % 10 === 0)
        .withColumn("label", col("label") + 100)
      idx.upsertItems(updates).items
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    }),

    // reference: local_index.py:68-77 delete_item (batch)
    "v_delete" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = VectorIndex.build(emb, "vec_id", "embedding")
      val ids = emb.filter(col("vec_id") % 7 === 3).select(col("vec_id"))
      idx.deleteItems(ids).items
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    }),

    // reference: item_selector.py:9-52 scoring kernels as columns
    "v_dot_norm" -> ((s, dir) => {
      scored(s, dir)
        .select(
          col("vec_id"),
          r6(dotD(col("embedding"), qv(s, dir))).as("dot"),
          r6(normD(col("embedding"))).as("norm"),
          r6(col("score_raw")).as("cos"))
        .orderBy(col("vec_id"))
    }),

    // reference: item_selector.py:41-52 normalized_cosine_similarity —
    // the norm-cached scoring path VectorIndex.queryItems uses (norms
    // precomputed at build, only the dot product per row at query time)
    "v_topk_prenorm" -> ((s, dir) => {
      val q = Seq.tabulate(64)(j => (((j * 37) % 19) - 9) / 10.0)
      VectorIndex.build(t(s, dir, "embeddings"), "vec_id", "embedding")
        .queryItems(q, 10)
        .select(col("vec_id"), col("label"), r6(col("score")).as("score"))
    }),

    // scale path: one top-k per metadata group via the bounded-heap
    // aggregate (graft.functions.expr.TopKAgg) — map-side combine
    // ships ≤ k rows per group per partition, vs a window sort of all
    "v_topk_pergroup" -> ((s, dir) => {
      scored(s, dir)
        .groupBy(col("label"))
        .agg(topK(col("score_raw"), col("vec_id"), 3).as("top"))
        .select(col("label"), posexplode(col("top")).as(Seq("_pos", "_t")))
        .select(col("label"), col("_t.id").as("vec_id"),
          r6(col("_t.score")).as("score"), (col("_pos") + 1).cast("long").as("rk"))
        .orderBy(col("label"), col("rk"))
    }))

  val oracles: Map[String, String] = Map(
    "v_topk" ->
      s"""$sqlScored
         |SELECT vec_id, round(score_raw, 6) AS score
         |FROM scored ORDER BY score_raw DESC, vec_id LIMIT 10""".stripMargin,

    "v_topk_filtered" ->
      s"""$sqlScored
         |SELECT vec_id, label, round(score_raw, 6) AS score
         |FROM scored WHERE label IN (2, 4, 6)
         |ORDER BY score_raw DESC, vec_id LIMIT 10""".stripMargin,

    "v_meta_filter" ->
      """SELECT vec_id, label FROM embeddings
        |WHERE label IN (1, 3) OR (label >= 7 AND label < 9)
        |ORDER BY vec_id""".stripMargin,

    "v_get_item" ->
      """SELECT vec_id, label,
        |  round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))), 6) AS norm
        |FROM embeddings WHERE vec_id = 42""".stripMargin,

    "v_index_stats" ->
      """SELECT count(*) AS items,
        |  CAST(min(len(embedding)) AS BIGINT) AS min_dim,
        |  CAST(max(len(embedding)) AS BIGINT) AS max_dim
        |FROM embeddings""".stripMargin,

    "v_upsert" ->
      """SELECT vec_id, label FROM (
        |  SELECT vec_id, label,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY v DESC) AS rn
        |  FROM (
        |    SELECT vec_id, label, 0 AS v FROM embeddings
        |    UNION ALL
        |    SELECT vec_id, label + 100 AS label, 1 AS v FROM embeddings WHERE vec_id % 10 = 0))
        |WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    "v_delete" ->
      """SELECT vec_id, label FROM embeddings
        |WHERE vec_id NOT IN (SELECT vec_id FROM embeddings WHERE vec_id % 7 = 3)
        |ORDER BY vec_id""".stripMargin,

    "v_dot_norm" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id,
        |  round(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(qv AS DOUBLE[])), 6) AS dot,
        |  round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))), 6) AS norm,
        |  round(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(qv AS DOUBLE[])) /
        |    (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
        |     sqrt(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[])))), 6) AS cos
        |FROM embeddings, q ORDER BY vec_id""".stripMargin,

    "v_topk_prenorm" ->
      """WITH q AS (SELECT [((j*37)%19 - 9)/10.0 for j in range(0, 64)] AS qv),
        |scored AS (
        |  SELECT vec_id, label,
        |    list_dot_product(CAST(embedding AS DOUBLE[]), qv) /
        |    (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
        |     sqrt(list_dot_product(qv, qv))) AS score_raw
        |  FROM embeddings, q)
        |SELECT vec_id, label, round(score_raw, 6) AS score
        |FROM scored ORDER BY score_raw DESC, vec_id LIMIT 10""".stripMargin,

    "v_topk_pergroup" ->
      s"""$sqlScored
         |SELECT label, vec_id, round(score_raw, 6) AS score,
         |  CAST(row_number() OVER (PARTITION BY label ORDER BY score_raw DESC, vec_id) AS BIGINT) AS rk
         |FROM scored QUALIFY rk <= 3
         |ORDER BY label, rk""".stripMargin)
}
