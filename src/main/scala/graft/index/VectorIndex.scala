package graft.index

import scala.reflect.ClassTag

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow, QueryPlanningTracker}
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute,
  BindReferences, BoundReference, Expression, GenericInternalRow, InterpretedOrdering,
  InterpretedPredicate, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, StructField, StructType}
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
    * columns, same order, bit-identical scores — with no per-query plan.
    * The scan is planned once per instance, and the first call's job copies
    * its rows by Spark's broadcast rule: an index whose estimated size is
    * at most `spark.sql.autoBroadcastJoinThreshold` to the driver (vectors
    * decoded to doubles), where later calls run no job; any other to
    * executor memory (`MEMORY_ONLY`, recomputed where evicted, freed by the
    * ContextCleaner with the instance), one job per call. A bounded heap
    * per partition keeps the k best under Spark's ordering (score desc
    * nulls last, NaN first, id asc), scored by one primitive loop that
    * follows `cosinePreNorm`'s generated code after the filter `queryItems`
    * plans, evaluated interpreted. A negative `k` or an empty query is an
    * `IllegalArgumentException`.
    */
  def topItems(query: Seq[Double], k: Int,
      filter: Option[MetaFilter] = None): Array[Row] =
    prepared.top(query, k, filter)

  @volatile private var scan: VectorIndex.PreparedScan = _

  private def prepared: VectorIndex.PreparedScan = {
    if (scan == null) synchronized {
      if (scan == null) scan = new VectorIndex.PreparedScan(
        items, idCol, vecCol, VectorIndex.collectable(items))
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
    * executor memory; `cond` is resolved as a filter on `items` is and
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

  /** Whether Spark's broadcast rule would collect `items` whole. */
  private def collectable(items: DataFrame): Boolean = {
    val bound = items.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    bound >= 0 && items.queryExecution.optimizedPlan.stats.sizeInBytes <= bound
  }

  /** An index's scan planned once, and its rows copied out of the reader
    * once, by the first call that reads them: to the driver with `onDriver`,
    * else to executor memory (see [[VectorIndex.topItems]]). A [[VectorIndex]]
    * chooses by [[collectable]]; a LocalVectorServing snapshot always holds its own.
    */
  private[graft] final class PreparedScan(items: DataFrame, idCol: String, vecCol: String,
      onDriver: Boolean) {
    private val spark = items.sparkSession
    // the reader reuses its row objects, so each row is copied before it is kept
    private val rows = items.queryExecution.toRdd.map(_.copy()).setName("graft top-k rows")
    if (!onDriver) rows.persist(StorageLevel.MEMORY_ONLY)
    // the driver's copy of the rows: null until the first call collects them, None once released
    private var held: Option[Held] = _
    private val input: Seq[Attribute] = items.queryExecution.executedPlan.output
    private val itemSchema = StructType(DataTypeUtils.fromAttributes(input))

    /** `c` resolved against the scan's columns (functions, coercion), bound to their ordinals. */
    private def resolve(c: Column): Expression = {
      val plan = Project(Seq(Alias(ColumnBridge.expression(spark, c), "_e")()), LocalRelation(input))
      val analyzed = SQLConf.withExistingConf(spark.sessionState.conf) {
        spark.sessionState.analyzer.executeAndCheck(plan, new QueryPlanningTracker)
      }
      val e = analyzed.asInstanceOf[Project].projectList.head.asInstanceOf[Alias].child
      BindReferences.bindReference(e, input)
    }

    private val byId = new InterpretedOrdering(Seq(SortOrder(resolve(col(idCol)), Ascending)))
    private val kernel = {
      // the score `queryItems` plans, resolved so that column types it refuses fail here too
      resolve(cosinePreNorm(col(vecCol), col(NORM), typedLit(Array(1.0)), lit(1.0)))
      val BoundReference(vecAt, ArrayType(elem, _), _) = resolve(col(vecCol))
      // the norm widened to double as `norm * queryNorm` widens it
      TopK(vecAt, elem == FloatType, resolve(col(NORM).cast(DoubleType)), byId)
    }

    // withColumn("score", …): replaces a column of that name, else appends
    private val (scoreAt, replaced) =
      input.indexWhere(a => spark.sessionState.conf.resolver(a.name, "score")) match {
        case -1 => (input.length, 0)
        case i  => (i, 1)
      }
    private val schema =
      StructType(itemSchema.patch(scoreAt, Seq(StructField("score", DoubleType)), replaced))

    /** Over the driver's copy in this thread (`onHeld`), no job, when the
      * rows live there, else as one job over each partition (`onRows`).
      */
    private def eachPartition[T: ClassTag](onHeld: Held => T,
        onRows: Iterator[InternalRow] => T): Array[T] =
      driverHeld match {
        case Some(h) => Array(onHeld(h))
        case None => spark.sparkContext.runJob(rows, onRows)
      }

    /** The driver's copy of the rows, collected and decoded by the first
      * caller (one job) while concurrent first callers wait for it; None
      * when the rows live in executor memory or were released.
      */
    private def driverHeld: Option[Held] =
      if (!onDriver) None
      else synchronized {
        if (held == null) held = Some(kernel.hold(rows.collect()))
        held
      }

    /** The k best rows for `q` and `filter`, best first. */
    def best(q: Seq[Double], k: Int, filter: Option[MetaFilter]): Array[Hit] = {
      require(k >= 0, s"topItems: k must be >= 0, got $k")
      require(q.nonEmpty, "topItems: empty query vector")
      val pred = filter.map(f => resolve(f.toColumn(items)))
      if (k == 0) return Array.empty
      val (kern, qv) = (kernel, q.toArray)
      // the query's norm, folded once as the optimizer folds normD(query)
      val qn = math.sqrt(dot(qv, qv))
      eachPartition(h => kern.keep(Iterator(h), qv, qn, predicate(pred), k),
        rs => kern.keep(kern.blocks(rs), qv, qn, predicate(pred), k))
        .flatten.sorted(kern.better).take(k)
    }

    def top(q: Seq[Double], k: Int, filter: Option[MetaFilter]): Array[Row] = {
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      best(q, k, filter).map { h =>
        val values = input.indices.map(i => h.row.get(i, input(i).dataType))
          .patch(scoreAt, Seq(if (h.rank == NullRank) null else h.score), replaced)
        toRow(new GenericInternalRow(values.toArray)).asInstanceOf[Row]
      }
    }

    /** `rs` as item rows: the index's columns, no score. */
    def itemRows(rs: Array[InternalRow]): Array[Row] = {
      val toRow = CatalystTypeConverters.createToScalaConverter(itemSchema)
      rs.map(r => toRow(r).asInstanceOf[Row])
    }

    def select(c: Column): Array[Row] = {
      val pred = Some(resolve(c))
      val keep = (rs: Iterator[InternalRow]) => rs.filter(predicate(pred).eval).toArray
      itemRows(eachPartition(h => keep(h.rows.iterator), keep).flatten.sorted(byId))
    }

    def warm(): Unit = if (driverHeld.isEmpty) rows.count(): Unit

    def release(): Unit = {
      synchronized { held = None }
      rows.unpersist(blocking = false): Unit
    }
  }

  /** `pred` as a predicate for this partition, or null for none. */
  private def predicate(pred: Option[Expression]): InterpretedPredicate = pred.map { p =>
    val ip = InterpretedPredicate(p); ip.initialize(TaskContext.getPartitionId()); ip
  }.orNull

  /** A scan's rows, each with its vector decoded to doubles and its stored
    * norm (see [[TopK.hold]]).
    */
  private final class Held(val rows: Array[InternalRow], val vecs: Array[Array[Double]],
      val norms: Array[Double])

  /** A kept row, its score and the score's rank ([[rankOf]], [[NullRank]] for null). */
  private[graft] final case class Hit(rank: Long, score: Double, row: InternalRow)

  private[graft] val NullRank: Long = Long.MinValue

  /** A non-null score as a long that orders as Spark's `score DESC NULLS
    * LAST` ranks it, higher first: -0.0 equal to 0.0 (`s + 0.0`), every NaN
    * one pattern above +Infinity (`doubleToLongBits`), a negative number's
    * bits flipped so that it orders below the non-negative ones, and
    * -Infinity above [[NullRank]].
    */
  private def rankOf(s: Double): Long = {
    val b = java.lang.Double.doubleToLongBits(s + 0.0)
    if (b < 0) b ^ Long.MaxValue else b
  }

  /** Σ aᵢ·bᵢ over the shorter length, left to right: the VectorDot kernel. */
  private def dot(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** One partition's top-k over a scan's rows: the vector bound by `vecAt`
    * (array<float> when `floats`), the stored norm read as a double by
    * `norm`, exact score ties ordered by `byId`. A task runs it over
    * executor memory as the driver runs it over its copy.
    */
  private final case class TopK(vecAt: Int, floats: Boolean, norm: Expression,
      byId: Ordering[InternalRow]) {

    /** `rows` decoded; a null norm is held as a NaN norm over a null
      * vector, which scores null as the null norm does.
      */
    def hold(rows: Array[InternalRow]): Held = {
      val norms = rows.map(norm.eval(_).asInstanceOf[java.lang.Double])
      val vecs = rows.indices.map { i =>
        if (norms(i) == null || rows(i).isNullAt(vecAt)) null
        else {
          val a = rows(i).getArray(vecAt)
          Array.tabulate(a.numElements())(j => if (floats) a.getFloat(j).toDouble else a.getDouble(j))
        }
      }
      new Held(rows, vecs.toArray, norms.map(n => if (n == null) Double.NaN else n.doubleValue))
    }

    /** Executor rows decoded a block at a time, so that a partition's
      * decoded vectors are never all live at once.
      */
    def blocks(rows: Iterator[InternalRow]): Iterator[Held] =
      rows.grouped(4096).map(b => hold(b.toArray))

    /** Score desc nulls last, then id asc: the order of `queryItems`. */
    val better: Ordering[Hit] = (a: Hit, b: Hit) => {
      val c = java.lang.Long.compare(b.rank, a.rank)
      if (c != 0) c else byId.compare(a.row, b.row)
    }

    /** The k best rows of `blocks` that pass `pred` (null: every row),
      * scored against `q` (norm `qn`) as `cosinePreNorm`'s generated code
      * scores them: 0.0 over a zero denominator, null for a null vector
      * over any other, else the dot product over the denominator. Each
      * block is scored first, in a loop of its own that the CPU overlaps
      * across rows; then a bounded heap, whose root is the weakest kept
      * hit, takes a row (uncopied: the scan's rows are copies) when it
      * ranks above the root, or ties it and its id orders first.
      */
    def keep(blocks: Iterator[Held], q: Array[Double], qn: Double, pred: InterpretedPredicate,
        k: Int): Array[Hit] = {
      val heap = new java.util.PriorityQueue[Hit](better.reverse)
      blocks.foreach { h =>
        val n = h.rows.length
        val (scores, ranks) = (new Array[Double](n), new Array[Long](n))
        var i = 0
        while (i < n) {
          val denom = h.norms(i) * qn
          if (h.vecs(i) == null && denom != 0.0) ranks(i) = NullRank
          else {
            if (denom != 0.0) scores(i) = dot(h.vecs(i), q) / denom
            ranks(i) = rankOf(scores(i))
          }
          i += 1
        }
        i = 0
        while (i < n) {
          val row = h.rows(i)
          if (pred == null || pred.eval(row)) {
            val root = heap.peek()
            if (heap.size < k) heap.add(Hit(ranks(i), scores(i), row))
            else if (ranks(i) > root.rank || (ranks(i) == root.rank && byId.compare(row, root.row) < 0)) {
              heap.poll(); heap.add(Hit(ranks(i), scores(i), row))
            }
          }
          i += 1
        }
      }
      heap.toArray(new Array[Hit](0))
    }
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
