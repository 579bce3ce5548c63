package graft.index

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

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
  * and partition-parallel scan replaces the in-memory list. All
  * mutation APIs are batch-functional (return a new index), which is
  * the Spark-idiomatic equivalent of begin_update/end_update.
  */
final class VectorIndex private (
    val items: DataFrame,
    val idCol: String,
    val vecCol: String) {

  import VectorIndex.NORM

  /** Top-k cosine query (reference: local_index.py:126-151
    * query_items): optional metadata filter first, then score, then
    * top-k. The plan is Filter(pushed) → Project(score) →
    * TakeOrderedAndProject: per-partition heaps of size k, no global
    * sort, no shuffle of the table — the 100 TB-safe shape.
    * Ties broken by id for determinism.
    */
  def queryItems(query: Seq[Double], k: Int,
      filter: Option[MetaFilter] = None): DataFrame = {
    val qv = array(query.map(lit): _*)
    val filtered = filter.map(f => items.filter(f.toColumn)).getOrElse(items)
    filtered
      .withColumn("score", cosinePreNorm(col(vecCol), col(NORM), qv, normD(qv)))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
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
    items.filter(filter.toColumn)

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
    * Writes to a temp dir and swaps, so saving an index back over the
    * path it was lazily loaded from cannot delete files mid-scan.
    */
  def save(path: String): Unit = VectorIndex.writeSwap(items, path)
}

object VectorIndex {
  private[index] val NORM = "norm"

  /** Overwrite `dest` with `df` safely even when `df` reads from
    * `dest` itself (lazy plans + Overwrite would otherwise delete the
    * input mid-scan): write to a sibling temp dir, then swap via the
    * Hadoop FileSystem so it also works on HDFS/object stores.
    */
  private[index] def writeSwap(df: DataFrame, dest: String): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = df.sparkSession
    val destPath = new Path(dest)
    val tmpPath = new Path(dest + "__tmp")
    val fs = destPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    df.write.mode(SaveMode.Overwrite).parquet(tmpPath.toString)
    fs.delete(destPath, true)
    if (!fs.rename(tmpPath, destPath))
      throw new java.io.IOException(s"rename $tmpPath -> $destPath failed")
  }

  /** Read a directory written by [[writeSwap]] without a Spark job: the
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
