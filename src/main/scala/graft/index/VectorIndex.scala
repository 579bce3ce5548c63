package graft.index

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow, QueryPlanningTracker}
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute,
  AttributeReference, BindReferences, BoundReference, Descending, EmptyRow, Expression,
  InterpretedMutableProjection, InterpretedOrdering, InterpretedPredicate, Literal, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.SQLExecution
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
  * top-k ([[topItems]]) keeps an instance's decoded rows in executor
  * memory, as the reference keeps its loaded items. All
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
    * once per index instance: the first call's job copies the rows of
    * `items.queryExecution.toRdd` into executor memory
    * (`MEMORY_ONLY`), and every later call scores those rows instead of
    * reading the source again; a partition that does not fit, or was
    * evicted, is recomputed from the source when a call needs it, and
    * Spark's ContextCleaner frees the rows once the instance is
    * unreachable. Each call runs ONE job, in which every partition
    * keeps its k best rows in a bounded heap under Spark's own ordering
    * (score desc nulls last, id asc) and the driver merges the heaps.
    * Score and filter are the expressions `queryItems` plans, evaluated
    * interpreted, so no class is compiled per query; the filter is
    * evaluated per row, not pushed into a reader. A negative `k` or an
    * empty query is an `IllegalArgumentException`.
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

  /** Drop the rows [[topItems]] keeps in executor memory, if a call made
    * them; later calls on this instance read the source every time.
    */
  private[graft] def releaseTopRows(): Unit = {
    val s = scan
    if (s != null) s.release()
  }

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

  /** Persist as parquet — the scale-out analogue of index.json.
    * Writes to a temp dir and swaps only after the write succeeded
    * (see [[VectorIndex.writeSwapAll]]), so saving an index back over
    * the path it was lazily loaded from cannot delete files mid-scan,
    * and a failed save leaves the saved index as it was.
    */
  def save(path: String): Unit = VectorIndex.writeSwapAll(Seq(items -> path))
}

object VectorIndex {
  private[index] val NORM = "norm"

  /** Overwrite each part's `dest` with its frame, all or nothing, safely
    * even when a frame reads from a `dest` itself (lazy plans +
    * Overwrite would otherwise delete the input mid-scan).
    *
    * Every part is written at once into a sibling `<dest>__tmp`: each
    * part but the last on its own thread, which carries the caller's
    * local properties (job group, scheduler pool) and active session,
    * the last on the caller's thread — so the parts' planning, pre-jobs
    * and commits overlap instead of queueing. Only when every write has
    * succeeded is each `dest` replaced by its temp dir, through the
    * Hadoop FileSystem so it also works on HDFS/object stores. If any
    * write fails, the writes' straggling tasks are awaited, the temp
    * dirs deleted, no `dest` changes, and the first failure in part
    * order is rethrown with the others suppressed. Failure-atomic, not
    * crash-atomic: the swap is a delete and a rename per part, and a
    * crash between them leaves a part missing or partly swapped.
    */
  private[index] def writeSwapAll(parts: Seq[(DataFrame, String)]): Unit = {
    import org.apache.hadoop.fs.Path
    require(parts.nonEmpty, "writeSwapAll: no parts")
    val spark = parts.head._1.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val sc = spark.sparkContext
    val tag = s"graft-write-${java.util.UUID.randomUUID}"
    def write(part: (DataFrame, String)): Unit = {
      sc.addJobTag(tag)
      try part._1.write.mode(SaveMode.Overwrite).parquet(part._2 + "__tmp")
      finally sc.removeJobTag(tag)
    }
    def failureOf(body: => Any): Option[Throwable] =
      try { body; None } catch {
        case e: java.util.concurrent.ExecutionException => Some(e.getCause)
        case t: Throwable => Some(t)
      }
    val extra = parts.init.map { part =>
      SQLExecution.withThreadLocalCaptured(spark, writers)(write(part))
    }
    val lastFailure = failureOf(write(parts.last))
    val failures = (extra.map(f => failureOf(f.get())) :+ lastFailure).flatten
    val moves = parts.map { case (_, dest) =>
      val to = new Path(dest)
      (new Path(dest + "__tmp"), to, to.getFileSystem(sc.hadoopConfiguration))
    }
    if (failures.nonEmpty) {
      awaitTasks(sc, tag)
      moves.foreach { case (tmp, _, fs) => fs.delete(tmp, true) }
      failures.tail.foreach(failures.head.addSuppressed)
      throw failures.head
    }
    moves.foreach { case (tmp, dest, fs) =>
      fs.delete(dest, true)
      if (!fs.rename(tmp, dest))
        throw new java.io.IOException(s"rename $tmp -> $dest failed")
    }
  }

  /** Block until no task of a job tagged `tag` runs, as the status
    * store sees it (at most a minute). The other tasks of a failed job
    * are killed asynchronously; one still starting up would create its
    * output file in a temp dir after [[writeSwapAll]] deleted it.
    */
  private def awaitTasks(sc: org.apache.spark.SparkContext, tag: String): Unit = {
    sc.cancelJobsWithTag(tag)
    val status = sc.statusTracker
    def busy = status.getJobIdsForTag(tag).iterator.flatMap(status.getJobInfo).exists { j =>
      j.status == org.apache.spark.JobExecutionStatus.RUNNING ||
        j.stageIds.iterator.flatMap(status.getStageInfo).exists(_.numActiveTasks > 0)
    }
    val deadline = System.nanoTime + 60000000000L
    while (busy && System.nanoTime < deadline) Thread.sleep(10)
  }

  /** Threads for [[writeSwapAll]]'s extra parts: one per concurrent
    * write, idle threads retire after a minute, daemon so they never
    * hold the JVM open.
    */
  private lazy val writers = java.util.concurrent.Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "graft-index-writer")
    t.setDaemon(true)
    t
  }

  /** Read a directory written by [[writeSwapAll]] without a Spark job: the
    * schema comes from one part file's footer, read on the driver and
    * converted as Spark's own inference converts it (which, without
    * mergeSchema, also reads a single footer — but in a one-task job).
    * A missing directory, or one without a part file, raises
    * [[IndexNotFoundException]] naming the path.
    */
  private[index] def readSaved(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
    import org.apache.parquet.hadoop.Footer
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
      ParquetFooterReader, ParquetToSparkSchemaConverter}
    val path = new Path(dir)
    val conf = spark.sessionState.newHadoopConf()
    val fs = path.getFileSystem(conf)
    if (!fs.exists(path)) throw new IndexNotFoundException(dir, "no such directory")
    // a part file the scan will read: Spark skips hidden and underscore files
    val part = fs.listStatus(path).find { f =>
      val name = f.getPath.getName
      f.isFile && name.endsWith(".parquet") && !name.startsWith("_") && !name.startsWith(".")
    }.getOrElse(throw new IndexNotFoundException(dir, "no .parquet file in it"))
    val footer = new Footer(part.getPath,
      ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(part, conf), SKIP_ROW_GROUPS))
    val schema = ParquetFileFormat.readSchemaFromFooter(footer,
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    spark.read.schema(schema).parquet(dir)
  }

  /** An index's scan planned once, its rows copied out of the reader
    * and persisted in executor memory by the first job that reads them,
    * with the score expression of [[VectorIndex.queryItems]] resolved
    * against it; the query vector is the expression's one free input,
    * bound per call.
    */
  private final class PreparedScan(items: DataFrame, idCol: String, vecCol: String) {
    private val spark = items.sparkSession
    // the reader reuses its row objects, so each row is copied before it is kept
    private val rows = items.queryExecution.toRdd.map(_.copy())
      .setName("graft top-k rows").persist(StorageLevel.MEMORY_ONLY)
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
    private val ordering = new InterpretedOrdering(Seq(
      SortOrder(BoundReference(scoreAt, DoubleType, nullable = true), Descending),
      SortOrder(resolve(col(idCol)), Ascending)))

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
      val ord = ordering
      val kept = spark.sparkContext.runJob(rows,
        (it: Iterator[InternalRow]) => VectorIndex.keepTop(it, pred, out, ord, k))
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      kept.flatten.sorted(ord).take(k).map(r => toRow(r).asInstanceOf[Row])
    }

    def release(): Unit = rows.unpersist(blocking = false): Unit
  }

  /** The k best rows of one partition under `ord`, projected by `out`
    * after `pred`: a bounded heap whose root is the weakest kept row,
    * so a row that cannot enter is one comparison and no copy.
    */
  private def keepTop(rows: Iterator[InternalRow], pred: Option[Expression],
      out: Seq[Expression], ord: Ordering[InternalRow], k: Int): Array[InternalRow] = {
    val part = TaskContext.getPartitionId()
    val keep = pred.map { p => val ip = InterpretedPredicate(p); ip.initialize(part); ip }
    val project = new InterpretedMutableProjection(out)
    project.initialize(part)
    val heap = new java.util.PriorityQueue[InternalRow](ord.reverse)
    rows.foreach { r =>
      if (keep.forall(_.eval(r))) {
        val c = project(r)
        if (heap.size < k) heap.add(c.copy())
        else if (ord.compare(c, heap.peek()) < 0) { heap.poll(); heap.add(c.copy()) }
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

  /** Load a saved index; runs no Spark job (see [[readSaved]]). */
  def load(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, vecCol: String): VectorIndex =
    build(readSaved(spark, path), idCol, vecCol)

  /** reference: local_index.py:114-115 is_index_created. */
  def isIndexCreated(spark: org.apache.spark.sql.SparkSession, path: String): Boolean = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** reference: local_index.py:61-66 delete_index (folder removal). */
  def deleteIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true): Unit
  }
}

/** A load path that holds no saved index: the directory is missing or
  * has no parquet part file.
  */
final class IndexNotFoundException(val path: String, reason: String)
    extends java.io.IOException(s"no saved index at $path: $reason")
