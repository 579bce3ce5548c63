package graft.index

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow, QueryPlanningTracker}
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute,
  AttributeReference, BindReferences, BoundReference, Descending, EmptyRow, Expression,
  GenericInternalRow, InterpretedMutableProjection, InterpretedOrdering, InterpretedPredicate,
  Literal, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DoubleType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.filters.MetaFilter
import graft.functions.VectorFunctions._

/** Spark-native re-expression of the reference's LocalIndex
  * (reference: local_index.py:18-223).
  *
  * The reference stores an index as a folder with one `index.json`
  * holding every item `{id, metadata, vector, norm}` and loads it all
  * into memory. Here an index IS a DataFrame with columns
  * `(<id>, <vector>, norm, ...metadata columns)` backed by parquet:
  * columnar pruning replaces the reference's `metadata_config.indexed`
  * side-file split (only the queried metadata columns are ever read),
  * and partition-parallel scan replaces the in-memory list; the eager
  * top-k ([[topItems]]) keeps an instance's decoded rows, as the
  * reference keeps its loaded items: on the driver when Spark would
  * collect the index whole for a broadcast, else in executor memory. All
  * mutation APIs are batch-functional (return a new index), which is
  * the Spark-idiomatic equivalent of begin_update/end_update.
  */
final class VectorIndex private (
    val items: DataFrame,
    val idCol: String,
    val vecCol: String) {

  import VectorIndex.NORM

  /** Top-k cosine query (reference: local_index.py:126-151
    * query_items) as a lazy DataFrame, for callers that compose it
    * into a larger plan: optional metadata filter first, then score,
    * then top-k. The plan is Filter(pushed) → Project(score) →
    * TakeOrderedAndProject: per-partition heaps of size k, no global
    * sort, no shuffle of the table — the 100 TB-safe shape.
    * Ties broken by id for determinism. Every call is a new plan that
    * Spark analyses, optimises, plans and compiles when it runs; a
    * caller that only collects the rows wants [[topItems]].
    */
  def queryItems(query: Seq[Double], k: Int,
      filter: Option[MetaFilter] = None): DataFrame = {
    val qv = array(query.map(lit): _*)
    val filtered = filter.map(f => items.filter(f.toColumn(items))).getOrElse(items)
    filtered
      .withColumn("score", cosinePreNorm(col(vecCol), col(NORM), qv, normD(qv)))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }

  /** The rows of `queryItems(query, k, filter).collect()` — same
    * columns, same order, bit-identical scores — computed eagerly
    * with no per-query plan. The index's scan is planned and decoded
    * once per index instance, and the first call's job copies the rows
    * of `items.queryExecution.toRdd` to one of two places, chosen by the
    * rule Spark uses to broadcast a relation:
    *   - an index whose estimated size (`optimizedPlan.stats.sizeInBytes`)
    *     is at most `spark.sql.autoBroadcastJoinThreshold` is collected to
    *     the driver, and every later call scores those rows there,
    *     running no job; they are freed with the instance;
    *   - any other index (larger, not sizable, or the threshold -1) is
    *     kept in executor memory (`MEMORY_ONLY`), and every later call is
    *     ONE job over those rows; a partition that does not fit, or was
    *     evicted, is recomputed from the source when a call needs it, and
    *     Spark's ContextCleaner frees the rows once the instance is
    *     unreachable.
    * Either way every partition keeps its k best rows in a bounded heap
    * under Spark's own ordering (score desc nulls last, id asc), scoring
    * a row before it projects or copies it, and the driver merges the
    * heaps. Score and filter are the expressions `queryItems` plans,
    * evaluated interpreted, so no class is compiled per query; the
    * filter is evaluated per row, not pushed into a reader. A negative
    * `k` or an empty query is an `IllegalArgumentException`.
    */
  def topItems(query: Seq[Double], k: Int,
      filter: Option[MetaFilter] = None): Array[Row] =
    prepared.top(query, k, filter)

  @volatile private var scan: VectorIndex.PreparedScan = _

  private def prepared: VectorIndex.PreparedScan = {
    if (scan == null) synchronized {
      if (scan == null) scan = new VectorIndex.PreparedScan(items, idCol, vecCol)
    }
    scan
  }

  /** Drop the rows [[topItems]] keeps, on the driver or in executor
    * memory, if a call made them; later calls on this instance read the
    * source every time, each in one job.
    */
  private[graft] def releaseTopRows(): Unit = {
    val s = scan
    if (s != null) s.release()
  }

  /** Decode the rows [[topItems]] keeps now (one job), wherever they live. */
  private[graft] def warmTopRows(): Unit = prepared.warm()

  /** The items matching `cond`, in id order, evaluated over the rows
    * [[topItems]] keeps: on the driver with no job, or in one job over
    * executor memory; `cond` resolved as a filter on `items` is and
    * evaluated interpreted, no per-call plan.
    */
  private[graft] def selectItems(cond: Column): Array[Row] = prepared.select(cond)

  /** Many query vectors in one plan: broadcast the query set, score
    * once, bounded-heap top-k per query (Ann.bruteForceTopK) — the
    * same cost profile serving 1 or 10^6 queries.
    */
  def queryItemsBatch(queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int): DataFrame =
    graft.ann.Ann.bruteForceTopK(items, idCol, vecCol, queries, qidCol, qvecCol, k)

  /** reference: local_index.py:121-124 list_items_by_metadata. */
  def listItemsByMetadata(filter: MetaFilter): DataFrame =
    items.filter(filter.toColumn(items))

  /** reference: local_index.py:100-103 get_item. */
  def getItem(id: Any): DataFrame = items.filter(col(idCol) === lit(id))

  /** Batch upsert, latest wins per id (reference:
    * local_index.py:153-161 upsert_item, re-expressed as a window
    * dedup instead of a per-item list scan).
    */
  def upsertItems(updates: DataFrame): VectorIndex = {
    val tagged = items.withColumn("_v", lit(0))
      .unionByName(VectorIndex.withNorm(updates, vecCol).withColumn("_v", lit(1)))
    val w = Window.partitionBy(col(idCol)).orderBy(desc("_v"))
    val merged = tagged
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_v", "_rn")
    new VectorIndex(merged, idCol, vecCol)
  }

  /** Strict insert: fails if any incoming id already exists
    * (reference: local_index.py:163-171 insert_item raises on
    * duplicate, vs upsert's replace). The duplicate check is LAZY —
    * an in-plan `raise_error` guard, not a driver-side count action
    * (round-1 review: the eager count was the one action inside an
    * API path). Dupes come from a semi-join of the index against the
    * broadcast batch, so only the ≤ batch-sized dupe set is ever
    * broadcast; the error surfaces on first materialization as a
    * SparkException naming the offending id.
    */
  def insertItems(inserts: DataFrame): VectorIndex = {
    val dupes = items
      .join(broadcast(inserts.select(col(idCol))), Seq(idCol), "left_semi")
      .select(col(idCol)).withColumn("_dup", lit(true))
    val guarded = VectorIndex.withNorm(inserts, vecCol)
      .join(broadcast(dupes), Seq(idCol), "left_outer")
      .withColumn("_ok", when(col("_dup").isNull, lit(true))
        .otherwise(raise_error(concat(
          lit("insertItems: id '"), col(idCol).cast("string"),
          lit("' already exists (use upsertItems)")))))
      .filter(col("_ok")).drop("_dup", "_ok")
    new VectorIndex(items.unionByName(guarded), idCol, vecCol)
  }

  /** The reference's `metadata_config.indexed` as a projection
    * (reference: local_index.py — indexed metadata keys live in
    * index.json, the rest spill to side files). In columnar storage
    * the side file is unnecessary: this narrows the index to
    * (id, vector, norm, indexedKeys...) and parquet column pruning
    * makes the non-indexed metadata literally unread at query time.
    */
  def withIndexedMetadata(indexedKeys: Seq[String]): VectorIndex = {
    val keep = (Seq(idCol, vecCol, VectorIndex.NORM) ++ indexedKeys).distinct
    new VectorIndex(items.select(keep.map(col): _*), idCol, vecCol)
  }

  /** Batch delete by id set (reference: local_index.py:68-77
    * delete_item) — left_anti join, broadcast when the delete set is
    * small.
    */
  def deleteItems(ids: DataFrame): VectorIndex = {
    val idName = ids.columns.head
    val remaining = items.join(
      broadcast(ids.withColumnRenamed(idName, idCol)), Seq(idCol), "left_anti")
    new VectorIndex(remaining, idCol, vecCol)
  }

  /** reference: local_index.py:90-97 get_index_stats. */
  def stats: DataFrame =
    items.agg(
      count(lit(1)).as("items"),
      min(size(col(vecCol))).cast("long").as("min_dim"),
      max(size(col(vecCol))).cast("long").as("max_dim"))

  /** Persist as parquet — the scale-out analogue of index.json: the
    * items as a new base directory under `path`, committed by one
    * manifest rename (see [[IndexStore.save]]). Saving over the path the
    * index was lazily loaded from never touches its input, a failed save
    * leaves the saved index as it was, and a crash at any point leaves
    * either the old version or the new one.
    */
  def save(path: String): Unit = IndexStore.save(path, Seq("items" -> items))
}

object VectorIndex {
  private[index] val NORM = "norm"

  /** An index's scan planned once, with the score expression of
    * [[VectorIndex.queryItems]] resolved against it (the query vector is
    * the expression's one free input, bound per call), and its rows
    * copied out of the reader once, by the first call that reads them.
    * Where those rows live is chosen once, by the rule Spark uses to let
    * a relation be collected whole for a broadcast join: a plan whose
    * estimated size (`optimizedPlan.stats.sizeInBytes`) is at most
    * `spark.sql.autoBroadcastJoinThreshold` is collected to the driver in
    * one job and every later call scores it there, running no job; any
    * other plan (too large, not sizable, or the threshold -1) is
    * persisted in executor memory (`MEMORY_ONLY`) and every call is one
    * job over it.
    */
  private final class PreparedScan(items: DataFrame, idCol: String, vecCol: String) {
    private val spark = items.sparkSession
    // the reader reuses its row objects, so each row is copied before it is kept
    private val rows = items.queryExecution.toRdd.map(_.copy()).setName("graft top-k rows")
    private val onDriver = {
      val bound = spark.sessionState.conf.autoBroadcastJoinThreshold
      bound >= 0 && items.queryExecution.optimizedPlan.stats.sizeInBytes <= bound
    }
    if (!onDriver) rows.persist(StorageLevel.MEMORY_ONLY)
    // the driver's copy of the rows: null until the first call collects them, None once released
    private var held: Option[Array[InternalRow]] = _
    private val input: Seq[Attribute] = items.queryExecution.executedPlan.output
    private val query =
      AttributeReference("query", ArrayType(DoubleType, containsNull = false), nullable = false)()

    /** `c` resolved (functions, type coercion) against the scan's
      * columns plus `extra`, and bound to their ordinals.
      */
    private def resolve(c: Column, extra: Seq[Attribute] = Nil): Expression = {
      val attrs = input ++ extra
      val plan = Project(Seq(Alias(ColumnBridge.expression(spark, c), "_e")()), LocalRelation(attrs))
      val analyzed = SQLConf.withExistingConf(spark.sessionState.conf) {
        spark.sessionState.analyzer.executeAndCheck(plan, new QueryPlanningTracker)
      }
      val e = analyzed.asInstanceOf[Project].projectList.head.asInstanceOf[Alias].child
      BindReferences.bindReference(e, attrs)
    }

    private val score = {
      val qv = ColumnBridge.column(query)
      resolve(cosinePreNorm(col(vecCol), col(NORM), qv, normD(qv)), Seq(query))
    }
    // withColumn("score", …): replaces a column of that name, else appends
    private val (scoreAt, replaced) =
      input.indexWhere(a => spark.sessionState.conf.resolver(a.name, "score")) match {
        case -1 => (input.length, 0)
        case i  => (i, 1)
      }
    private val schema = StructType(DataTypeUtils.fromAttributes(input)
      .patch(scoreAt, Seq(StructField("score", DoubleType, score.nullable)), replaced))
    private val scoreKey = SortOrder(BoundReference(scoreAt, DoubleType, nullable = true), Descending)
    private val ordering = new InterpretedOrdering(Seq(scoreKey, SortOrder(resolve(col(idCol)), Ascending)))
    private val scoreOrdering = new InterpretedOrdering(Seq(scoreKey))

    /** `f` over each partition's rows: over the driver's copy in this
      * thread, no job, when the rows live there, else as one job.
      */
    private def eachPartition(
        f: Iterator[InternalRow] => Array[InternalRow]): Array[Array[InternalRow]] =
      driverRows match {
        case Some(rs) => Array(f(rs.iterator))
        case None => spark.sparkContext.runJob(rows, f)
      }

    /** The driver's copy of the rows, collected by the first caller (one
      * job) while concurrent first callers wait for it; None when the rows
      * live in executor memory or were released.
      */
    private def driverRows: Option[Array[InternalRow]] =
      if (!onDriver) None
      else synchronized {
        if (held == null) held = Some(rows.collect())
        held
      }

    def top(q: Seq[Double], k: Int, filter: Option[MetaFilter]): Array[Row] = {
      require(k >= 0, s"topItems: k must be >= 0, got $k")
      require(q.nonEmpty, "topItems: empty query vector")
      val pred = filter.map(f => resolve(f.toColumn(items)))
      // the query as a literal, and its norm folded once as the optimizer folds it
      val qLit = Literal(new GenericArrayData(q.toArray), query.dataType)
      val scored = score.transform {
        case b: BoundReference if b.ordinal == input.length => qLit
      }.transformDown {
        case e if e.foldable => Literal.create(e.eval(EmptyRow), e.dataType)
      }
      val out = input.indices.map(i => BoundReference(i, input(i).dataType, input(i).nullable): Expression)
        .patch(scoreAt, Seq(scored), replaced)
      if (k == 0) return Array.empty
      val (ord, byScore, at) = (ordering, scoreOrdering, scoreAt)
      val kept = eachPartition(VectorIndex.keepTop(_, pred, scored, out, at, ord, byScore, k))
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      kept.flatten.sorted(ord).take(k).map(r => toRow(r).asInstanceOf[Row])
    }

    def select(c: Column): Array[Row] = {
      val pred = resolve(c)
      val kept = eachPartition { it =>
        val keep = InterpretedPredicate(pred)
        keep.initialize(TaskContext.getPartitionId())
        it.filter(keep.eval).toArray
      }
      val toRow = CatalystTypeConverters.createToScalaConverter(
        StructType(DataTypeUtils.fromAttributes(input)))
      kept.flatten.sorted(byId).map(r => toRow(r).asInstanceOf[Row])
    }

    private val byId = new InterpretedOrdering(Seq(SortOrder(resolve(col(idCol)), Ascending)))

    def warm(): Unit = if (driverRows.isEmpty) rows.count(): Unit

    def release(): Unit = {
      synchronized { held = None }
      rows.unpersist(blocking = false): Unit
    }
  }

  /** The k best rows of one partition under `ord`, projected by `out`
    * after `pred`: a bounded heap whose root is the weakest kept row.
    * Score first: a row that passes `pred` is only scored (`score` is
    * `out`'s element at `scoreAt`, and `byScore` is `ord`'s first key),
    * and is projected and copied only when its score beats the root's or
    * ties it, a tie then going to the full ordering.
    */
  private def keepTop(rows: Iterator[InternalRow], pred: Option[Expression], score: Expression,
      out: Seq[Expression], scoreAt: Int, ord: Ordering[InternalRow],
      byScore: Ordering[InternalRow], k: Int): Array[InternalRow] = {
    val part = TaskContext.getPartitionId()
    val keep = pred.map { p => val ip = InterpretedPredicate(p); ip.initialize(part); ip }
    val project = new InterpretedMutableProjection(out)
    project.initialize(part)
    // a candidate's score, in the slot `byScore` reads
    val candidate = new GenericInternalRow(out.length)
    val heap = new java.util.PriorityQueue[InternalRow](ord.reverse)
    rows.foreach { r =>
      if (keep.forall(_.eval(r))) {
        if (heap.size < k) heap.add(project(r).copy())
        else {
          candidate.update(scoreAt, score.eval(r))
          val c = byScore.compare(candidate, heap.peek())
          if (c <= 0) {
            val row = project(r)
            if (c < 0 || ord.compare(row, heap.peek()) < 0) { heap.poll(); heap.add(row.copy()) }
          }
        }
      }
    }
    heap.toArray(new Array[InternalRow](0))
  }

  private def withNorm(df: DataFrame, vecCol: String): DataFrame =
    if (df.columns.contains(NORM)) df
    else df.withColumn(NORM, normD(col(vecCol)))

  /** Build from any DataFrame with an id and a vector column; caches
    * the L2 norm as a column like the reference caches `item.norm`
    * (reference: local_index.py:201-207).
    */
  def build(df: DataFrame, idCol: String, vecCol: String): VectorIndex =
    new VectorIndex(withNorm(df, vecCol), idCol, vecCol)

  /** Load an index saved by [[VectorIndex.save]]; runs no Spark job, the
    * file list and schema come from its manifest (see
    * [[IndexStore.load]]). A path without a committed index raises
    * [[IndexNotFoundException]].
    */
  def load(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, vecCol: String): VectorIndex =
    build(IndexStore.load(spark, path, Seq("items"), idCol)._2.head, idCol, vecCol)

  /** reference: local_index.py:114-115 is_index_created: whether `path`
    * holds a committed manifest (a directory alone is no index).
    */
  def isIndexCreated(spark: org.apache.spark.sql.SparkSession, path: String): Boolean =
    IndexStore.exists(spark, path)

  /** reference: local_index.py:61-66 delete_index (folder removal). */
  def deleteIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true): Unit
  }
}
