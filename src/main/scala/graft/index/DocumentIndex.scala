package graft.index

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

import graft.embed.{Embedder, HashingEmbedder}
import graft.filters.MetaFilter
import graft.functions.VectorFunctions._
import graft.text.{SplitterConfig, TextSplitter}

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
  * `VectorIndex` of chunk rows — and ingestion is BULK: a whole corpus
  * DataFrame is split + embedded in one `flatMap` pass on executors
  * (reference: upsert_document splits and embeds driver-side, one doc
  * at a time — the shape that cannot scale). document_id is the md5 of
  * the uri, which keeps ids stable across re-ingestion (the reference
  * uses uuid4; deterministic ids are strictly more useful and equally
  * unique per uri).
  */
final class DocumentIndex private (
    val catalog: DataFrame,
    val chunks: VectorIndex,
    val splitter: TextSplitter,
    val embedder: Embedder) {

  /** reference: local_document_index.py:76-78 get_document_id. */
  def getDocumentId(uri: String): DataFrame =
    catalog.filter(col("uri") === uri).select(col("document_id"))

  /** reference: local_document_index.py:80-82 get_document_uri. */
  def getDocumentUri(documentId: String): DataFrame =
    catalog.filter(col("document_id") === documentId).select(col("uri"))

  /** Bulk upsert of (uri, text, ...metadata) rows: latest wins per
    * uri (reference: local_document_index.py:127-219 upsert_document,
    * minus the per-document driver loop); within one batch the last
    * row of a repeated uri wins. Split + embed happen inside flatMap —
    * narrow; the only shuffles are the dedup window's hash exchange by
    * uri, which adaptive execution sizes to the batch, and the two
    * left_anti joins that retire previous versions.
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
    */
  def upsertDocuments(docs: DataFrame): DocumentIndex = {
    import org.apache.spark.sql.Encoders
    val sp = splitter
    val em = embedder
    val metaCols: Seq[String] =
      docs.columns.toSeq.filterNot(c => c == "uri" || c == "text")
    val input = docs.select((Seq(col("uri").cast("string"), col("text").cast("string"))
      ++ metaCols.map(col)): _*)
    // One version per uri, read by BOTH the catalog and the chunk path
    // so the two halves always agree on a document: a uri repeated
    // within the batch keeps its last row in input order (the same
    // latest-wins rule as across batches). The window's hash exchange
    // by uri is one adaptive execution coalesces: a small batch lands
    // in one partition (one task, one file per saved component), while
    // a batch of more than ~cores MB keeps at least cores partitions
    // for the compute-bound split+embed (the Tables.fanOut floor).
    val latest = input
      .withColumn("_seq", monotonically_increasing_id())
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("uri")).orderBy(desc("_seq"))))
      .filter(col("_rn") === 1)
      .drop("_seq", "_rn")
    val chunkSchema = StructType(Seq(
      StructField("chunk_id", StringType, nullable = false),
      StructField("document_id", StringType, nullable = false),
      StructField("uri", StringType, nullable = true),
      StructField("start_pos", IntegerType, nullable = false),
      StructField("end_pos", IntegerType, nullable = false),
      StructField("n_tokens", IntegerType, nullable = false),
      StructField("vector", ArrayType(FloatType, containsNull = false), nullable = true))
      ++ metaCols.map(c => docs.schema(c)))
    // Per partition: split every document, then group chunks into
    // token-budgeted batches for the embedder — one model call per
    // batch, the shape a real batch-inference backend needs
    // (reference: local_document_index.py:156-184 batches by
    // max_tokens before calling create_embeddings).
    // doc-type-aware splitting (reference:
    // local_document_index.py:148-152): an explicit doc_type metadata
    // column wins, else the uri extension; separator tables are cached
    // per type per partition.
    val dtIdx = metaCols.indexOf("doc_type")
    val newChunks: DataFrame =
      latest
        .mapPartitions { it =>
          val spByType = scala.collection.mutable.Map.empty[String, graft.text.TextSplitter]
          def splitterFor(uri: String, explicit: String): graft.text.TextSplitter = {
            val dt = if (explicit != null && explicit.nonEmpty) explicit
              else DocumentIndex.extensionOf(uri)
            if (dt.isEmpty) sp
            else spByType.getOrElseUpdate(dt, sp.forDocType(dt))
          }
          val pending = it.flatMap { row =>
            val uri = row.getString(0)
            val text = row.getString(1)
            val meta = Seq.tabulate(row.length - 2)(j => row.get(j + 2))
            val explicitType =
              if (dtIdx >= 0) Option(row.get(2 + dtIdx)).map(_.toString).orNull
              else null
            val docId = DocumentIndex.docIdFor(uri)
            splitterFor(uri, explicitType).split(text).zipWithIndex.map { case (c, i) =>
              (s"$docId-$i", docId, uri, c, meta)
            }
          }
          // flush a batch when its token total would exceed the budget
          // (single linear pass; an earlier fold re-copied the batch
          // vector per element — quadratic per batch)
          new Iterator[Seq[(String, String, String, graft.text.TextChunk, Seq[Any])]] {
            private val it = pending.buffered
            def hasNext: Boolean = it.hasNext
            def next(): Seq[(String, String, String, graft.text.TextChunk, Seq[Any])] = {
              val batch = scala.collection.mutable.ArrayBuffer.empty[(String, String, String, graft.text.TextChunk, Seq[Any])]
              var tokens = 0
              while (it.hasNext && (batch.isEmpty ||
                  tokens + it.head._4.tokens.length <= em.maxBatchTokens)) {
                val item = it.next()
                tokens += item._4.tokens.length
                batch += item
              }
              batch.toSeq
            }
          }.flatMap { batch =>
            val vecs = em.embedBatch(batch.map(_._4.tokens))
            batch.zip(vecs).map { case ((cid, docId, uri, c, meta), v) =>
              Row.fromSeq(Seq(cid, docId, uri, c.startPos, c.endPos,
                c.tokens.length, v) ++ meta)
            }
          }
        }(Encoders.row(chunkSchema))
    // Catalog keeps the document text (columnar, read only by section
    // rendering) — the analogue of the reference's per-document
    // `{id}.txt` files (reference: local_document_index.py:207-208) —
    // plus the metadata columns (the `{id}.json` analogue).
    val newCatalog = latest
      .withColumn("document_id", md5(col("uri")))
      .select((Seq(col("document_id"), col("uri"), col("text"))
        ++ metaCols.map(col)): _*)
    // retiring previous versions needs only the batch's uris, not the
    // deduplicated rows
    val keptCatalog = catalog.join(input.select("uri"), Seq("uri"), "left_anti")
    val keptChunks = chunks.items.join(
      input.select(md5(col("uri")).as("document_id")), Seq("document_id"), "left_anti")
    val chunkDf = newChunks.withColumn("norm", normD(col("vector")))
    // allowMissingColumns: re-ingesting with new metadata keys
    // null-fills the old rows, same as a reference side file that
    // lacks the key
    new DocumentIndex(
      keptCatalog.unionByName(newCatalog, allowMissingColumns = true),
      VectorIndex.build(
        keptChunks.unionByName(chunkDf, allowMissingColumns = true),
        "chunk_id", "vector"),
      splitter, embedder)
  }

  /** reference: local_document_index.py:88-116 delete_document. */
  def deleteDocument(uri: String): DocumentIndex = {
    val docId = md5(lit(uri))
    new DocumentIndex(
      catalog.filter(col("uri") =!= uri),
      VectorIndex.build(chunks.items.filter(col("document_id") =!= docId), "chunk_id", "vector"),
      splitter, embedder)
  }

  /** The top `maxChunks` chunk rows of a query, filter applied, as
    * (document_id, score, cols...) in (score desc, chunk_id asc) order:
    * ONE job — per-partition heaps of the TakeOrderedAndProject merged
    * on the driver (see VectorIndex.queryItems).
    */
  private def topChunks(queryText: String, maxChunks: Int, filter: Option[MetaFilter],
      cols: Seq[String]): Array[Row] = {
    val qv = embedder.embed(splitter.tokenizer.encode(queryText.replace('\n', ' ')))
    chunks.queryItems(qv.map(_.toDouble).toIndexedSeq, maxChunks, filter)
      .select((Seq("document_id", "score") ++ cols).map(col): _*)
      .collect()
  }

  /** Per-document mean score and chunk count over the top chunk rows,
    * best `maxDocuments` first by (score desc, document_id asc), each
    * with its chunk rows in top-k order. Sums accumulate in row order
    * from 0.0 — how Spark's `avg` folds the single-partition top-k
    * output — so scores are bit-identical to the SQL aggregate.
    */
  private def rankDocuments(top: Array[Row],
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

  /** Top-documents query (reference:
    * local_document_index.py:221-254 query_documents): top `maxChunks`
    * chunks by cosine → group by document → mean chunk score → top
    * `maxDocuments`. Runs its one Spark job WHEN CALLED — the chunk
    * top-k, collected — then groups and ranks the ≤ `maxChunks` rows
    * on the driver; no catalog scan or join, because every chunk row
    * already carries its document's uri and metadata. Returns a local
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
    val docs = rankDocuments(topChunks(queryText, maxChunks, filter, "uri" +: metaCols),
      maxDocuments)
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
      rankDocuments(top, maxDocuments).map { case (id, _, _, rs) =>
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

  /** Temp-write + swap per component (see VectorIndex.writeSwap): an
    * index re-saved over the path it was loaded from must not clobber
    * its own lazily-read inputs.
    */
  def save(path: String): Unit = {
    VectorIndex.writeSwap(catalog, s"$path/catalog")
    chunks.save(s"$path/chunks")
  }
}

object DocumentIndex {

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

  def docIdFor(uri: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(uri.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.map(b => f"${b & 0xff}%02x").mkString
  }

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

  /** Open an index saved by [[DocumentIndex.save]]. Both components'
    * schemas come from their saved parquet footers, read on the driver,
    * so loading runs no Spark job; a path without a saved component
    * raises [[IndexNotFoundException]].
    */
  def load(spark: SparkSession, path: String,
      config: SplitterConfig = SplitterConfig(keepSeparators = true, chunkSize = 512, chunkOverlap = 0),
      embedder: Embedder = new HashingEmbedder(64)): DocumentIndex =
    new DocumentIndex(
      VectorIndex.readSaved(spark, s"$path/catalog"),
      VectorIndex.load(spark, s"$path/chunks", "chunk_id", "vector"),
      new TextSplitter(config), embedder)
}
