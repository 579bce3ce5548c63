package graft.index

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

import graft.embed.{Embedder, HashingEmbedder}
import graft.filters.MetaFilter
import graft.functions.VectorFunctions._
import graft.text.{SplitterConfig, TextChunk, TextSplitter}

/** One chunk row of the document index. */
final case class DocChunk(
    chunk_id: String,
    document_id: String,
    uri: String,
    start_pos: Int,
    end_pos: Int,
    n_tokens: Int,
    vector: Array[Float])

/** Spark-native re-expression of the reference's LocalDocumentIndex
  * (reference: local_document_index.py:61-305).
  *
  * The reference keeps a catalog.json (uri↔id) plus one LocalIndex of
  * chunk items per folder, ingesting one document per call. Here both
  * halves are DataFrames — `catalog(document_id, uri)` and a
  * `VectorIndex` of chunk rows — and ingestion is BULK, a DataFrame of
  * documents per call: a batch small enough for one task is split +
  * embedded on the driver, in the calling thread, as the reference's
  * upsert_document does one document at a time; any larger batch, up to
  * a whole corpus, in one `mapPartitions` pass on executors (driver-side,
  * one document at a time, is the shape that cannot scale). Both paths
  * run one split + embed body and give the same rows. document_id is the md5 of
  * the uri, which keeps ids stable across re-ingestion (the reference
  * uses uuid4; deterministic ids are strictly more useful and equally
  * unique per uri).
  */
final class DocumentIndex private (
    val catalog: DataFrame,
    val chunks: VectorIndex,
    val splitter: TextSplitter,
    val embedder: Embedder,
    origin: Option[IndexStore.Origin] = None,
    pending: DocumentIndex.Pending = DocumentIndex.Pending(None, None, Nil)) {

  /** reference: local_document_index.py:76-78 get_document_id. */
  def getDocumentId(uri: String): DataFrame =
    catalog.filter(col("uri") === uri).select(col("document_id"))

  /** reference: local_document_index.py:80-82 get_document_uri. */
  def getDocumentUri(documentId: String): DataFrame =
    catalog.filter(col("document_id") === documentId).select(col("uri"))

  /** Bulk upsert of (uri, text, ...metadata) rows: latest wins per
    * uri (reference: local_document_index.py:127-219 upsert_document,
    * minus the per-document driver loop); within one batch the last
    * row of a repeated uri wins. Two paths give the same rows, schemas
    * included:
    *  - a batch that Spark's broadcast rule would collect (see
    *    [[VectorIndex.topItems]]) and that fits
    *    `spark.sql.adaptive.coalescePartitions.minPartitionSize` (by its
    *    plan's size estimate, then by its uris' and texts' length; the
    *    executor path would run it as one task) is read once, then
    *    deduplicated, split and embedded here, in the calling thread;
    *    both new components are one-partition local relations, so an
    *    append writes one file each with no Spark job. The embedder runs
    *    inside this call, so an embedder that throws raises here;
    *  - any other batch stays lazy: split + embed run in `mapPartitions`
    *    — narrow; the only shuffles are the dedup window's hash exchange
    *    by uri, which adaptive execution sizes to the batch, and the two
    *    left_anti joins that retire previous versions. An embedder that
    *    throws fails the first action that reads the chunks.
    *
    * Every column beyond (uri, text) is per-document metadata. The
    * reference merges the metadata dict into each chunk item and
    * writes a `{id}.json` side file
    * (local_document_index.py:190-205, local_document.py:26-53); here
    * the metadata rides as typed columns on BOTH the chunk rows (so
    * MetaFilter predicates apply pre-similarity at query time, pushed
    * to the parquet scan, and query results are decorated from the
    * scored chunks themselves) and the catalog. Columnar pruning makes
    * unused metadata free — the side-file split falls out of the
    * format.
    *
    * A null `uri` or `text` is an `IllegalArgumentException` naming
    * this method and the column, raised by the first action that reads
    * the rows (save, a query, a collect of the chunks or catalog): such
    * a batch always takes the lazy path.
    */
  def upsertDocuments(docs: DataFrame): DocumentIndex = {
    import org.apache.spark.sql.Encoders
    val spark = docs.sparkSession
    val (sp, em) = (splitter, embedder)
    val metaCols: Seq[String] =
      docs.columns.toSeq.filterNot(c => c == "uri" || c == "text")
    val input = docs.select((Seq(col("uri").cast("string"), col("text").cast("string"))
      ++ metaCols.map(col)): _*)
    val chunkSchema = StructType(Seq(
      StructField("chunk_id", StringType, nullable = false),
      StructField("document_id", StringType, nullable = false),
      StructField("uri", StringType, nullable = true),
      StructField("start_pos", IntegerType, nullable = false),
      StructField("end_pos", IntegerType, nullable = false),
      StructField("n_tokens", IntegerType, nullable = false),
      StructField("vector", ArrayType(FloatType, containsNull = false), nullable = true))
      ++ metaCols.map(c => docs.schema(c)))
    val dtIdx = metaCols.indexOf("doc_type")
    // The driver path (see above) checks the size twice: the plan's
    // estimate before collecting, the uris' and texts' length after. The
    // lazy path keeps one version per uri, read by BOTH the catalog and
    // the chunk path so the two halves always agree on a document,
    // through a window whose hash exchange adaptive execution coalesces:
    // a batch of more than ~cores MB keeps at least cores partitions for
    // the compute-bound split + embed (the Tables.fanOut floor).
    val oneTask = spark.sessionState.conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    val taken = Option.when(VectorIndex.collectable(input) &&
      input.queryExecution.optimizedPlan.stats.sizeInBytes <= oneTask)(input.collect())
    val held = taken.filter { rows =>
      !rows.exists(r => r.isNullAt(0) || r.isNullAt(1)) &&
        rows.iterator.map(r => r.getString(0).length.toLong + r.getString(1).length).sum <= oneTask
    }
    val (latest, uris, newChunks) = held match {
      case Some(rows) =>
        val lastAt = rows.indices.map(i => rows(i).getString(0) -> i).toMap
        val kept = rows.indices.collect { case i if lastAt(rows(i).getString(0)) == i => rows(i) }
        val local = spark.createDataFrame(kept.asJava, input.schema)
        (local.coalesce(1), local.select("uri"),
          spark.createDataFrame(DocumentIndex.chunkRows(sp, em, dtIdx, kept.iterator).toSeq.asJava,
            chunkSchema).coalesce(1))
      case None =>
        val latest = input
          .withColumn("_seq", monotonically_increasing_id())
          .withColumn("_rn", row_number().over(
            Window.partitionBy(col("uri")).orderBy(desc("_seq"))))
          .filter(col("_rn") === 1)
          .drop("_seq", "_rn")
        // retiring previous versions needs only the batch's uris, not the
        // deduplicated rows
        (latest, input.select("uri"),
          latest.mapPartitions(DocumentIndex.chunkRows(sp, em, dtIdx, _))(Encoders.row(chunkSchema)))
    }
    // Catalog keeps the document text (columnar, read only by section
    // rendering) — the analogue of the reference's per-document
    // `{id}.txt` files (reference: local_document_index.py:207-208) —
    // plus the metadata columns (the `{id}.json` analogue).
    val newCatalog = latest
      .withColumn("document_id", DocumentIndex.documentIdOf(col("uri")))
      .select((Seq(col("document_id"), col("uri"), col("text"))
        ++ metaCols.map(col)): _*)
    val chunkDf = newChunks.withColumn("norm", normD(col("vector")))
    val (nextCatalog, nextChunks) =
      DocumentIndex.replaced(catalog, chunks.items, uris, newCatalog, chunkDf)
    // a loaded index also keeps the rows added since the load, which are
    // all an append commit writes
    val added = (pending.catalog, pending.chunks) match {
      case (Some(cat), Some(chk)) => DocumentIndex.replaced(cat, chk, uris, newCatalog, chunkDf)
      case _ => (newCatalog, chunkDf)
    }
    new DocumentIndex(nextCatalog, VectorIndex.build(nextChunks, "chunk_id", "vector"),
      splitter, embedder, origin,
      if (origin.isEmpty) pending else pending.copy(Some(added._1), Some(added._2)))
  }

  /** reference: local_document_index.py:88-116 delete_document. */
  def deleteDocument(uri: String): DocumentIndex = {
    val docId = DocumentIndex.docIdFor(uri)
    new DocumentIndex(
      catalog.filter(col("uri") =!= uri),
      VectorIndex.build(chunks.items.filter(col("document_id") =!= docId), "chunk_id", "vector"),
      splitter, embedder, origin,
      if (origin.isEmpty) pending
      else DocumentIndex.Pending(pending.catalog.map(_.filter(col("uri") =!= uri)),
        pending.chunks.map(_.filter(col("document_id") =!= docId)), pending.deleted :+ docId))
  }

  /** The chunk index's top `maxChunks` rows for a query, filter applied
    * (VectorIndex.topItems), as (document_id, score, cols...) in (score
    * desc, chunk_id asc) order.
    */
  private def topChunks(queryText: String, maxChunks: Int, filter: Option[MetaFilter],
      cols: Seq[String]): Array[Row] =
    chunks.topColumns(queryVector(queryText), maxChunks, filter, Seq("document_id", "score") ++ cols)

  /** The vector a query text is scored with against the chunk index. */
  private[graft] def queryVector(queryText: String): IndexedSeq[Double] =
    embedder.embed(splitter.tokenizer.encode(queryText.replace('\n', ' ')))
      .map(_.toDouble).toIndexedSeq

  /** Top-documents query (reference:
    * local_document_index.py:221-254 query_documents): top `maxChunks`
    * chunks by cosine → group by document → mean chunk score → top
    * `maxDocuments`. Scores WHEN CALLED — the chunk index's warm top-k
    * (VectorIndex.topItems: no job when its rows are held on the driver,
    * else one, and no per-query plan) — then groups and ranks the
    * ≤ `maxChunks` rows on the driver; no catalog scan or join,
    * because every chunk row already carries its document's uri and
    * metadata. The metadata filter is evaluated per chunk row inside
    * that scan, not pushed into the parquet reader. Returns a local
    * DataFrame (document_id, uri, score, n_chunks, ...metadata in
    * catalog column order).
    */
  def queryDocuments(queryText: String, maxDocuments: Int = 10, maxChunks: Int = 50,
      filter: Option[MetaFilter] = None): DataFrame = {
    val metaCols = catalog.columns.toSeq
      .filterNot(Set("document_id", "uri", "text"))
    // the metadata filter applies to CHUNK rows pre-similarity
    // (reference: query_items(embedding, max_chunks, options.filter) —
    // chunk items carry the merged document metadata)
    val docs = DocumentIndex.rankDocuments(
      topChunks(queryText, maxChunks, filter, "uri" +: metaCols), maxDocuments)
    val schema = chunks.items.schema
    val outSchema = StructType(Seq(schema("document_id"), schema("uri"),
        StructField("score", DoubleType), StructField("n_chunks", LongType, nullable = false))
      ++ metaCols.map(schema(_)))
    val rows = docs.map { case (id, score, n, rs) =>
      Row.fromSeq(Seq(id, rs.head.get(2), score, n) ++ rs.head.toSeq.drop(3))
    }
    catalog.sparkSession.createDataFrame(rows.asJava, outSchema)
  }

  /** Render token-budgeted sections for the top documents of a query
    * (reference: local_document_result.py:26-183 render_sections, as
    * invoked by vectra-cli.py's `query --format sections`). The chunk
    * top-k runs once, when called, and picks the top documents exactly
    * as [[queryDocuments]] does; the returned frame is a lazy `flatMap`
    * over those documents' catalog rows, with their ≤ `maxChunks`
    * scored chunks in the closure — document text never reaches the
    * driver, rendering runs on executors, and nothing shuffles.
    */
  def renderSections(queryText: String, maxTokens: Int = 2000, maxSections: Int = 1,
      maxDocuments: Int = 10, maxChunks: Int = 50): DataFrame = {
    val spark = catalog.sparkSession
    import spark.implicits._
    val top = topChunks(queryText, maxChunks, None, Seq("start_pos", "end_pos"))
    val scored: Map[String, Seq[graft.text.ScoredChunk]] =
      DocumentIndex.rankDocuments(top, maxDocuments).map { case (id, _, _, rs) =>
        id -> rs.sortBy(r => (-r.getDouble(1), r.getInt(2)))
          .map(r => graft.text.ScoredChunk(r.getInt(2), r.getInt(3), r.getDouble(1)))
      }.toMap
    val tok = splitter.tokenizer
    catalog.filter(col("document_id").isin(scored.keys.toSeq: _*))
      .select(col("document_id"), col("uri"), col("text"))
      .as[(String, String, String)]
      .flatMap { case (docId, uri, text) =>
        graft.text.SectionRenderer.render(text, scored(docId), maxTokens, maxSections, tok)
          .zipWithIndex.map { case (sec, i) =>
            (docId, uri, i, sec.text, sec.tokenCount, sec.score)
          }
      }
      .toDF("document_id", "uri", "section_idx", "text", "token_count", "score")
  }

  /** reference: local_document_index.py:76-78/local_document.py — load
    * a document's stored text (the `{id}.txt` analogue).
    */
  def loadText(uri: String): DataFrame =
    catalog.filter(col("uri") === uri).select(col("text"))

  /** reference: local_document_index.py:118-125 get_catalog_stats. */
  def catalogStats: DataFrame =
    catalog.agg(count(lit(1)).as("documents"))
      .crossJoin(chunks.items.agg(count(lit(1)).as("chunks")))
      .withColumn("version", lit(1L))

  /** Persist both components as parquet under `path` (`catalog/`,
    * `chunks/`) and commit them as one version with one manifest rename
    * (see [[IndexStore.save]]) — the reference's `end_update`, which
    * writes one `index.json`.
    *
    * An index loaded from `path`, whose version is still the committed
    * one, appends: it writes only the catalog and chunk rows upserted
    * since the load, as one new directory per component, and the uris
    * deleted since as tombstones, so an update costs O(batch), not
    * O(index). Any other index is written whole, which also compacts
    * the deltas; so is an append whose delta files would outnumber the
    * base files. The two components are written at once, into
    * directories no committed version names, so an index re-saved over
    * the path it was loaded from never touches its own lazily-read
    * inputs. A component whose rows are held on the driver (a batch
    * [[upsertDocuments]] took there, as an append writes it) is written
    * in the calling thread as one parquet file with no Spark job; any
    * other (a rewrite of a loaded index, a batch left lazy) goes through
    * Spark's writer, the catalog on a second thread that carries the
    * caller's job group and local properties. A save that fails (a null
    * uri, an embedder that throws on a batch [[upsertDocuments]] left
    * lazy) leaves the saved index unchanged, a crash at any step leaves
    * the previous version or the new one whole, and a save that another
    * save at `path` overtook raises [[IndexCommitConflictException]].
    */
  def save(path: String): Unit =
    IndexStore.save(path, Seq("catalog" -> catalog, "chunks" -> chunks.items), origin,
      IndexStore.Changes(pending.catalog.map("catalog" -> _).toSeq ++
        pending.chunks.map("chunks" -> _), pending.deleted))
}

object DocumentIndex {

  /** What changed since a loaded index was loaded: the catalog and chunk
    * rows upserted (None before the first upsert) and the document ids
    * deleted.
    */
  private[index] final case class Pending(catalog: Option[DataFrame],
      chunks: Option[DataFrame], deleted: Seq[String])

  /** `catalog` and `chunks` without the documents of `uris`, followed by
    * the new rows. allowMissingColumns: re-ingesting with new metadata
    * keys null-fills the old rows, same as a reference side file that
    * lacks the key.
    */
  private def replaced(catalog: DataFrame, chunks: DataFrame, uris: DataFrame,
      newCatalog: DataFrame, newChunks: DataFrame): (DataFrame, DataFrame) =
    (catalog.join(uris, Seq("uri"), "left_anti")
        .unionByName(newCatalog, allowMissingColumns = true),
      chunks.join(uris.select(md5(col("uri")).as("document_id")), Seq("document_id"), "left_anti")
        .unionByName(newChunks, allowMissingColumns = true))

  /** The chunk rows of document rows (uri, text, ...metadata), in
    * [[DocumentIndex.upsertDocuments]]' chunk column order without the
    * norm: every document split, then its chunks embedded in
    * token-budgeted batches, one `embedBatch` call per batch — the shape
    * a real batch-inference backend needs (reference:
    * local_document_index.py:156-184 batches by max_tokens before calling
    * create_embeddings). Splitting is doc-type-aware (reference:
    * local_document_index.py:148-152): an explicit doc_type metadata
    * column (at `dtIdx` among the metadata, -1 for none) wins, else the
    * uri extension; separator tables are cached per type per call. The
    * one body of both ingest paths: a task's partition or the driver's
    * batch.
    */
  private def chunkRows(sp: TextSplitter, em: Embedder, dtIdx: Int,
      docs: Iterator[Row]): Iterator[Row] = {
    val spByType = scala.collection.mutable.Map.empty[String, TextSplitter]
    def splitterFor(uri: String, explicit: String): TextSplitter = {
      val dt = if (explicit != null && explicit.nonEmpty) explicit else extensionOf(uri)
      if (dt.isEmpty) sp else spByType.getOrElseUpdate(dt, sp.forDocType(dt))
    }
    val pending = docs.flatMap { row =>
      val uri = required(row.getString(0), "uri")
      val text = required(row.getString(1), "text")
      val meta = Seq.tabulate(row.length - 2)(j => row.get(j + 2))
      val explicitType =
        if (dtIdx >= 0) Option(row.get(2 + dtIdx)).map(_.toString).orNull else null
      val docId = docIdFor(uri)
      splitterFor(uri, explicitType).split(text).zipWithIndex.map { case (c, i) =>
        (s"$docId-$i", docId, uri, c, meta)
      }
    }.buffered
    // a batch is flushed when its token total would exceed the budget
    // (one linear pass)
    Iterator.continually {
      val batch = scala.collection.mutable.ArrayBuffer.empty[(String, String, String, TextChunk, Seq[Any])]
      var tokens = 0
      while (pending.hasNext && (batch.isEmpty ||
          tokens + pending.head._4.tokens.length <= em.maxBatchTokens)) {
        val item = pending.next()
        tokens += item._4.tokens.length
        batch += item
      }
      batch
    }.takeWhile(_.nonEmpty).flatMap { batch =>
      batch.iterator.zip(em.embedBatch(batch.map(_._4.tokens).toSeq)).map {
        case ((cid, docId, uri, c, meta), v) =>
          Row.fromSeq(Seq(cid, docId, uri, c.startPos, c.endPos, c.tokens.length, v) ++ meta)
      }
    }
  }

  /** The uri extension used as the default doc_type (reference:
    * local_document_index.py:148-152 — `uri[pos+1:].lower()`), guarded
    * to plausible extensions so "doc 42" or "a.b/c" don't match.
    */
  def extensionOf(uri: String): String = {
    val pos = uri.lastIndexOf('.')
    if (pos < 0) ""
    else {
      val ext = uri.substring(pos + 1).toLowerCase
      if (ext.nonEmpty && ext.length <= 10 && ext.forall(c => c.isLetterOrDigit || c == '#'))
        ext
      else ""
    }
  }

  /** Per-document mean score and chunk count over the top chunk rows,
    * best `maxDocuments` first by (score desc, document_id asc), each
    * with its chunk rows in top-k order. `top` holds (document_id,
    * score, ...) rows in top-k order. Sums accumulate in row order
    * from 0.0 — how Spark's `avg` folds the single-partition top-k
    * output — so scores are bit-identical to the SQL aggregate.
    */
  private[graft] def rankDocuments(top: Array[Row],
      maxDocuments: Int): Seq[(String, Double, Long, Seq[Row])] = {
    // Spark's double ordering: -0.0 == 0.0, NaN largest
    def cmp(a: Double, b: Double): Int = if (a == b) 0 else java.lang.Double.compare(a, b)
    top.toSeq.groupBy(_.getString(0)).toSeq
      .map { case (id, rs) =>
        (id, rs.foldLeft(0.0)(_ + _.getDouble(1)) / rs.size, rs.size.toLong, rs)
      }
      .sortWith { (a, b) =>
        val c = cmp(b._2, a._2)
        c < 0 || (c == 0 && a._1 < b._1)
      }
      .take(maxDocuments)
  }

  /** The md5 hex of a uri — Spark's `md5(uri)`. */
  def docIdFor(uri: String): String =
    java.util.HexFormat.of().formatHex(java.security.MessageDigest.getInstance("MD5")
      .digest(uri.getBytes(java.nio.charset.StandardCharsets.UTF_8)))

  /** A document row's `column` value, or the named error for a null. */
  private def required(value: String, column: String): String = {
    if (value == null) throw new IllegalArgumentException(
      s"upsertDocuments: null $column in a document row; every document needs a uri and a text")
    value
  }

  /** The catalog's document_id of a uri column: [[docIdFor]], with a
    * null uri the named error rather than a null id.
    */
  private val documentIdOf = udf((uri: String) => docIdFor(required(uri, "uri")))

  /** Empty index (reference: create_index + catalog bootstrap,
    * local_document_index.py:84-86/277-305).
    */
  def create(spark: SparkSession,
      config: SplitterConfig = SplitterConfig(keepSeparators = true, chunkSize = 512, chunkOverlap = 0),
      embedder: Embedder = new HashingEmbedder(64)): DocumentIndex = {
    import spark.implicits._
    val emptyCatalog = Seq.empty[(String, String, String)].toDF("document_id", "uri", "text")
    val emptyChunks = Seq.empty[DocChunk].toDF().withColumn("norm", lit(0.0))
    new DocumentIndex(emptyCatalog,
      VectorIndex.build(emptyChunks, "chunk_id", "vector"),
      new TextSplitter(config), embedder)
  }

  /** Open the version of an index committed at `path` by
    * [[DocumentIndex.save]]. Both components' file lists and schemas come
    * from its manifest, so loading runs no Spark job. An index that is
    * only a base loads as one parquet scan per component; after appends,
    * each component hides the rows of documents a later version replaced
    * or deleted with one lazy anti-join on (document_id, later version),
    * which the chunk top-k pays once per instance, when it first decodes
    * the rows to the driver or into executor memory. A path without a
    * committed index raises [[IndexNotFoundException]].
    */
  def load(spark: SparkSession, path: String,
      config: SplitterConfig = SplitterConfig(keepSeparators = true, chunkSize = 512, chunkOverlap = 0),
      embedder: Embedder = new HashingEmbedder(64)): DocumentIndex = {
    val (origin, Seq(catalog, chunks)) =
      IndexStore.load(spark, path, Seq("catalog", "chunks"), "document_id")
    new DocumentIndex(catalog, VectorIndex.build(chunks, "chunk_id", "vector"),
      new TextSplitter(config), embedder, Some(origin))
  }
}
