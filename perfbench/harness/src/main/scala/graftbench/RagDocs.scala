package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

import graft.embed.HashingEmbedder
import graft.filters.MetaFilter
import graft.index.{DocumentIndex, VectorIndex}
import graft.operators.MergeApply
import graft.serve.LocalVectorServing
import graft.text.{RegexTokenizer, SplitterConfig, TextSplitter}

/** rag_docs: the document-index lifecycle with one closed-loop client.
  * Bulk ingest in batches (upsert + save + load each), then a stream of
  * distinct query texts (query / filtered query / sections) with a
  * re-upsert of existing uris every few ops.
  */
object RagDocs {
  private val Config = SplitterConfig(keepSeparators = true, chunkSize = 64, chunkOverlap = 0)
  private val MaxDocs = 10
  private val MaxChunks = 50
  private val MaxTokens = 2000
  private val CheckEvery = 4
  private val Eps = 1e-9
  private val WarmBatches = 3
  private val WarmSteps = 20

  /** Driver-side copy of the chunk table, for recomputing query results. */
  private final case class Chunk(chunkId: String, docId: String, vec: Array[Float],
      norm: Double, lang: String, source: String)

  def run(c: Ctx): Unit = {
    import c.spark.implicits._
    val docs = Inputs.tsv(c.data, "docs.tsv") // id, uri, lang, source, text
    val ops = Inputs.tsv(c.data, "ops.tsv") // k, kind, text | update no, field, value
    val updates = Inputs.tsv(c.data, "updates.tsv").groupBy(_(0).toInt) // u, doc, text
    val n = docs.length
    val path = s"${c.work}/rag_index"
    def frame(rows: Seq[(String, String, String, String)]): DataFrame =
      rows.toDF("uri", "text", "lang", "source")

    val per = (n + c.param("ingest_batches") - 1) / c.param("ingest_batches")
    val batchRows = docs.grouped(per).map(_.map(d => (d(1), d(4), d(2), d(3))).toSeq).toSeq
    var batches: Seq[DataFrame] = Nil
    var idx: DocumentIndex = null
    c.setup(3) {
      batches = batchRows.map(frame)
      idx = DocumentIndex.create(c.spark, Config)
    }

    def upsertSaveLoad(df: DataFrame): Unit = {
      c.span("index.upsert") { idx.upsertDocuments(df).save(path) }
      idx = c.span("index.load")(DocumentIndex.load(c.spark, path, Config))
    }

    // driver-side chunk table, refreshed after every upsert
    var local: Array[Chunk] = null
    def chunks(): Array[Chunk] = {
      if (local == null)
        local = idx.chunks.items.select("chunk_id", "document_id", "vector", "norm", "lang", "source")
          .collect().map(r => Chunk(r.getString(0), r.getString(1),
            r.getSeq[Float](2).toArray, r.getDouble(3), r.getString(4), r.getString(5)))
      local
    }

    // uris in the index, for the catalog-count checks
    val present = mutable.Set.empty[String]
    def ingest(b: Int): Unit = {
      upsertSaveLoad(batches(b))
      local = null
      present ++= batchRows(b).map(_._1)
    }

    val embedder = new HashingEmbedder(64)
    val tokenizer = new RegexTokenizer

    /** Top documents recomputed on the driver: every chunk's cosine with
      * the same double arithmetic as the engine, top chunks by (score,
      * chunk id), mean score per document, top documents.
      */
    def expected(text: String, filter: Option[(String, String)]): Seq[(String, Double, Long)] = {
      val q = embedder.embed(tokenizer.encode(text.replace('\n', ' '))).map(_.toDouble)
      var qq = 0.0
      q.foreach(x => qq += x * x)
      val qn = math.sqrt(qq)
      val scored = chunks().iterator.filter { ch =>
        filter.forall { case (f, v) => (if (f == "lang") ch.lang else ch.source) == v }
      }.map { ch =>
        var dot = 0.0
        var i = 0
        val m = math.min(ch.vec.length, q.length)
        while (i < m) { dot += ch.vec(i).toDouble * q(i); i += 1 }
        val denom = ch.norm * qn
        (ch, if (denom == 0.0) 0.0 else dot / denom)
      }.toSeq
      val top = scored.sortBy { case (ch, s) => (-s, ch.chunkId) }.take(MaxChunks)
      top.groupBy(_._1.docId).toSeq
        .map { case (d, xs) => (d, xs.map(_._2).sum / xs.size, xs.size.toLong) }
        .sortBy { case (d, s, _) => (-s, d) }
    }

    /** Result documents match the recomputation within Eps, allowing
      * reordering only among documents tied within Eps.
      */
    def agrees(got: Seq[(String, Double, Long)], text: String,
        filter: Option[(String, String)]): Boolean = {
      val exp = expected(text, filter)
      val want = exp.take(MaxDocs)
      val byDoc = exp.map(e => e._1 -> e).toMap
      got.size == want.size &&
        got.zip(want).forall { case (g, w) => math.abs(g._2 - w._2) <= Eps } &&
        got.forall { g => byDoc.get(g._1).exists(e => math.abs(e._2 - g._2) <= Eps && e._3 == g._3) } &&
        want.forall { w =>
          got.exists(_._1 == w._1) || math.abs(w._2 - want.last._2) <= Eps
        }
    }

    var k = 0
    def step(traced: Boolean): Double = {
      val o = ops(k % ops.length)
      k += 1
      o(1) match {
        case "update" =>
          val rows = updates(o(2).toInt).toSeq
          val df = frame(rows.map(u => docs(u(1).toInt)).zip(rows)
            .map { case (d, u) => (d(1), u(2), d(2), d(3)) })
          val (r, ms) = c.op("aux", traced)(upsertSaveLoad(df))
          if (r.isDefined) {
            local = null
            val probe = rows.head
            present ++= rows.map(u => docs(u(1).toInt)(1))
            val text = idx.loadText(docs(probe(1).toInt)(1)).collect().map(_.getString(0)).toSeq
            c.rec.check(idx.catalog.count() == present.size && text == Seq(probe(2)),
              s"update ${o(2)}: catalog count or re-upserted text wrong")
          }
          ms
        case kind =>
          val text = o(2)
          val filter = if (kind == "filtered") Some(o(3) -> o(4)) else None
          val (r, ms) = c.op("op", traced) {
            if (kind == "sections")
              c.span("index.sections")(idx.renderSections(text, MaxTokens, 1, MaxDocs, MaxChunks).collect())
            else
              c.span("index.query")(idx.queryDocuments(text, MaxDocs, MaxChunks,
                filter.map { case (f, v) => MetaFilter.Eq(f, v) }).collect())
          }
          r.foreach { rows => checkRead(kind, text, filter, rows, k % CheckEvery == 0) }
          ms
      }
    }

    def checkRead(kind: String, text: String, filter: Option[(String, String)],
        rows: Array[Row], recompute: Boolean): Unit =
      if (kind == "sections") {
        val sane = rows.forall(r => r.getAs[Int]("token_count") <= MaxTokens) &&
          rows.map(_.getAs[String]("document_id")).distinct.length <= MaxDocs
        lazy val topDocs = expected(text, None).map(_._1).toSet
        c.rec.check(sane && (!recompute || rows.forall(r => topDocs(r.getAs[String]("document_id")))),
          s"sections for '$text' disagree with the recomputed top documents")
      } else {
        val got = rows.toSeq.map(r =>
          (r.getAs[String]("document_id"), r.getAs[Double]("score"), r.getAs[Long]("n_chunks")))
        val filtered = filter.forall { case (f, v) => rows.forall(_.getAs[String](f) == v) }
        c.rec.check(filtered && (!recompute || agrees(got, text, filter)),
          s"$kind '$text' ${filter.getOrElse("")} disagrees with the recomputation")
      }

    // warm-up, untimed: the first batches, then reads and updates on them;
    // a fresh JVM takes a few dozen runs of each op to reach steady state
    c.warmUp {
      (0 until WarmBatches).foreach(ingest)
      for (_ <- 1 to WarmSteps) step(false)
    }
    // the rest of the corpus, each batch timed; all batches have the same
    // size and the rate is that of the median batch
    c.mark("bulk ingest")
    val ingestMs = c.span("bulk.ingest") {
      (WarmBatches until batches.size).map(b => Ctx.timeMs(ingest(b)))
    }
    ingestMs.foreach(c.rec.sample("ingest", _))
    val sorted = ingestMs.sorted
    c.rec.put("bulk_items", per)
    c.rec.put("bulk_s", (sorted((sorted.size - 1) / 2) + sorted(sorted.size / 2)) / 2000)
    c.rec.attempted.incrementAndGet()
    c.rec.check(idx.catalog.count() == n && present.size == n, s"catalog count after ingest != $n")

    c.blocks { (traced, secs) => c.closedLoop(secs)(step(traced)) }

    if (c.trace) {
      TextLayers.time(c, docs.toSeq.take(3000).map(d => (d(1), d(4))), new TextSplitter(Config),
        embedder)
      val meta = idx.catalog.select("lang", "source").collect()
        .map(r => Map("lang" -> r.getString(0), "source" -> r.getString(1)))
      val filters = ops.filter(_(1) == "filtered").take(20).map(o => MetaFilter.Eq(o(3), o(4)))
      FilterLayer.time(c, filters.toSeq, meta.map(m => (f: String) => m.getOrElse(f, null): Any))
      // the serving tier and the CDC merge operator, timed directly on this
      // index: a snapshot of the chunk table, and the next update batch
      // applied to the catalog as a changelog
      val queries = ops.filter(_(1) == "query").take(40)
        .map(o => embedder.embed(tokenizer.encode(o(2))).map(_.toDouble).toSeq)
      val rows = updates(ops.count(_(1) == "update") - 1).toSeq
      val changes = rows.map { u =>
        val d = docs(u(1).toInt)
        (DocumentIndex.docIdFor(d(1)), d(1), u(2), d(2), d(3), "u")
      }.toDF("document_id", "uri", "text", "lang", "source", "op")
      ServingLayers.time(c, idx.chunks, queries.toSeq, idx.catalog, changes, "document_id")
    }
  }
}

/** Serving and merge layers, timed directly: snapshot load, top-10 scan
  * cost per item, and a CDC batch merged into a table (median of 3 each).
  */
object ServingLayers {
  def time(c: Ctx, index: VectorIndex, queries: Seq[Seq[Double]], table: DataFrame,
      changes: DataFrame, key: String): Unit = {
    c.tracer.start("layers")
    val loads = (1 to 3).map(_ => Ctx.timeMs(c.span("serve.load")(LocalVectorServing.load(index))))
    val merges = (1 to 3).map(_ => Ctx.timeMs(c.span("operators.merge") {
      MergeApply.applyChanges(table, changes, key).drop("status").localCheckpoint()
    }))
    c.tracer.stop()
    val snap = LocalVectorServing.load(index)
    queries.foreach(q => snap.queryItems(q, 10))
    val scanMs = Ctx.timeMs(queries.foreach(q => snap.queryItems(q, 10)))
    c.rec.put("serve.snapshot_load_ms", loads.sorted.apply(1))
    c.rec.put("serve.snapshot_items", snap.size)
    c.rec.put("serve.ns_per_item_scored", scanMs * 1e6 / (queries.size.toLong * snap.size))
    c.rec.put("operators.merge_ms", merges.sorted.apply(1))
  }
}

/** Text and embed layers, timed directly: splitter per document,
  * tokenizer throughput, embedder throughput over the resulting chunks.
  */
object TextLayers {
  def time(c: Ctx, uriText: Seq[(String, String)], splitter: TextSplitter,
      embedder: HashingEmbedder): Unit = {
    val byType = mutable.Map.empty[String, TextSplitter]
    def sp(uri: String) = {
      val t = DocumentIndex.extensionOf(uri)
      byType.getOrElseUpdate(t, splitter.forDocType(t))
    }
    def pass(): Seq[(String, Double)] = {
      var chunks = 0L
      val splitMs = Ctx.timeMs { uriText.foreach { case (u, t) => chunks += sp(u).split(t).size } }
      var tokens = 0L
      val tokMs = Ctx.timeMs { uriText.foreach { case (_, t) => tokens += splitter.tokenizer.encode(t).size } }
      val batches = uriText.flatMap { case (u, t) => sp(u).split(t).map(_.tokens) }.grouped(64).toSeq
      val embedTokens = batches.map(_.map(_.size.toLong).sum).sum
      val embedMs = Ctx.timeMs { batches.foreach(b => embedder.embedBatch(b)) }
      Seq("text.split_us_per_doc" -> splitMs * 1000 / uriText.size,
        "text.chunks_per_doc" -> chunks.toDouble / uriText.size,
        "text.tokens_per_s" -> tokens / (tokMs / 1000),
        "embed.tokens_per_s" -> embedTokens / (embedMs / 1000))
    }
    pass() // warm the JIT
    pass().foreach { case (k, v) => c.rec.put(k, v) }
  }
}

/** MetaFilter.matches timed directly over rows given as field getters. */
object FilterLayer {
  def time(c: Ctx, filters: Seq[MetaFilter], rows: Array[String => Any]): Unit = {
    var hits = 0L
    def pass(): Double = Ctx.timeMs {
      hits = 0L
      filters.foreach(f => rows.foreach(g => if (MetaFilter.matches(f, g)) hits += 1))
    }
    pass()
    val ms = pass()
    val tested = filters.size.toLong * rows.length
    c.rec.put("filters.ns_per_item", ms * 1e6 / math.max(1L, tested))
    c.rec.put("filters.selectivity", hits.toDouble / math.max(1L, tested))
  }
}
