package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.index.DocumentIndex
import graft.text.{SplitterConfig, TextSplitter}
import QueryUtil._

/** Document-layer suite: the reference's chunk → embed → query →
  * render pipeline (reference: local_document_index.py,
  * local_document_result.py) over the `documents` table.
  *
  * d_chunk / d_chunk_stats / d_sections / d_catalog_stats run the REAL
  * splitter + hashing embedder + renderer (imperative per-document
  * logic → rows-only oracle + ScalaTest specs). d_query_documents
  * proves the query SHAPE (top chunks → group by doc → mean score →
  * top docs) with engine-portable fixed slices and md5 pseudo-scores
  * so DuckDB can hash-check it end-to-end.
  */
object DocQueries {

  private val ChunkCfg = SplitterConfig(
    separators = Nil, keepSeparators = false, chunkSize = 64, chunkOverlap = 8)

  val defs: Map[String, Q] = Map(
    // reference: text_splitter.py:72-148 split, distributed via flatMap
    "d_chunk" -> ((s, dir) => {
      import s.implicits._
      val sp = new TextSplitter(ChunkCfg)
      graft.Tables.fanOut(t(s, dir, "documents").select(col("doc_id"), col("text")))
        .as[(Long, String)]
        .flatMap { case (id, text) =>
          sp.split(text).zipWithIndex.map { case (c, i) =>
            (id, i.toLong, c.startPos.toLong, c.endPos.toLong, c.tokens.length.toLong,
              c.startOverlap.length.toLong, c.endOverlap.length.toLong)
          }
        }
        .toDF("doc_id", "chunk_idx", "start_pos", "end_pos", "n_tokens",
          "n_start_overlap", "n_end_overlap")
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    "d_chunk_stats" -> ((s, dir) => {
      import s.implicits._
      val sp = new TextSplitter(ChunkCfg)
      graft.Tables.fanOut(t(s, dir, "documents").select(col("doc_id"), col("text")))
        .as[(Long, String)]
        .flatMap { case (id, text) =>
          sp.split(text).map(c => (id, c.tokens.length.toLong))
        }
        .toDF("doc_id", "n_tokens")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"), sum(col("n_tokens")).as("total_tokens"),
          max(col("n_tokens")).as("max_tokens"))
        .orderBy(col("doc_id"))
    }),

    // The vectra query_documents SHAPE with portable chunking/scoring
    // (reference: local_document_index.py:221-254).
    "d_query_documents" -> ((s, dir) =>
      queryDocsTop(scoredChunkFrame(s, dir))),

    // The same query over a PERSISTED chunk-score table — the
    // reference's measurement shape (BASELINE.md ¹: vectra chunks at
    // add time; query_documents reads the stored index). Identical
    // results by construction (the chunk slices and pseudo-scores are
    // deterministic), so the d_query_documents oracle applies
    // unchanged; the timed work is scan + top-k + tiny agg only.
    "d_query_documents_persisted" -> ((s, dir) =>
      queryDocsTop(persistedChunks(s, dir))),

    // query_documents under a Mongo metadata filter (reference:
    // local_document_index.py:221-254 query_documents with
    // options.filter → item_selector metadata filter applied to chunk
    // items pre-similarity). Chunk rows carry the per-document
    // metadata columns, the JSON filter compiles through
    // MetaFilter.parse to Catalyst predicates.
    "d_query_documents_filtered" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), normText(col("text")).as("t"))
      // metadata rides through the explode — one scan, no self-join
      // (the scoredChunkFrame shape with the filter columns carried)
      val chunks = docs
        .select(col("doc_id"), col("lang"), col("source"), col("t"),
          explode(sequence(lit(0), ceil(length(col("t")) / 200.0).cast("int") - 1)).as("i"))
        .select(col("doc_id"), col("lang"), col("source"), col("i"),
          col("t").substr(col("i") * 200 + 1, lit(200)).as("chunk"))
        .withColumn("score_raw", (portableHash(col("chunk")) % 1000000).cast("double") / 1000000.0)
      val filter = graft.filters.MetaFilter.parse(
        """{"$and": [{"$or": [{"lang": "en"}, {"lang": {"$in": ["de", "fr"]}}]},
          |          {"source": {"$ne": "src3"}}]}""".stripMargin)
      chunks.filter(filter.toColumn(chunks))
        .orderBy(desc("score_raw"), col("doc_id"), col("i"))
        .limit(50)
        .groupBy(col("doc_id"), col("lang"), col("source"))
        .agg(round(avg(col("score_raw")), 6).as("score"), count(lit(1)).as("n_chunks"))
        .orderBy(desc("score"), col("doc_id"))
        .limit(10)
    }),

    // reference: local_document_index.py:118-125 get_catalog_stats
    "d_catalog_stats" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast("string").as("uri"), col("text"))
      DocumentIndex.create(s).upsertDocuments(docs).catalogStats
    }),

    // reference: local_document_result.py:26-183 render_sections over
    // the top documents of a corpus-wide query. This entry is INGEST-
    // SHAPED by design (split + embed the corpus in-query) so it stays
    // self-contained; d_sections_persisted below is the production
    // query shape.
    "d_sections" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast("string").as("uri"), col("text"))
      val idx = DocumentIndex.create(s, ChunkCfg).upsertDocuments(docs)
      sectionsProjection(idx)
    }),

    // The same render over a PREBUILT on-disk DocumentIndex — the
    // reference's measurement shape (BASELINE.md ¹: vectra pays
    // chunk+embed at add time; queries hit the stored index). Build
    // once per JVM per corpus (QueryUtil.persistedArtifact), then the
    // timed work is load + query + render only. PersistedQueriesSpec
    // asserts row-identical output with d_sections.
    "d_sections_persisted" -> ((s, dir) =>
      sectionsProjection(persistedDocIndex(s, dir))))

  /** The once-per-JVM saved DocumentIndex of the `documents` table
    * (built and saved on first use, loaded with no Spark job on every
    * call): the index d_sections_persisted renders and the warm serving
    * bench queries.
    */
  private[graft] def persistedDocIndex(s: org.apache.spark.sql.SparkSession,
      dir: String): DocumentIndex = {
    val path = persistedArtifact("docidx", dir) { p =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast("string").as("uri"), col("text"))
      DocumentIndex.create(s, ChunkCfg).upsertDocuments(docs).save(p)
    }
    DocumentIndex.load(s, path, ChunkCfg)
  }

  /** The once-per-JVM persisted chunk-score table behind a
    * session-cached handle — fixed-cost discipline for the per-run
    * query path (QueryUtil.persistedTable).
    */
  private[graft] def persistedChunks(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    persistedTable(s, "qdchunks", dir) { p =>
      scoredChunkFrame(s, dir).write.parquet(p)
    }

  /** The portable chunk-score frame shared by d_query_documents and
    * its persisted twin: fixed 200-char slices of the normalized text,
    * md5 pseudo-scores — engine-portable so DuckDB hash-checks the
    * whole query shape.
    */
  private[graft] def scoredChunkFrame(s: org.apache.spark.sql.SparkSession, dir: String) = {
    // the text rides THROUGH the explode (generators keep sibling
    // columns) — one corpus scan, zero shuffles; the earlier
    // explode-then-self-join formulation paid a doc_id exchange plus a
    // second scan to re-attach the text it had just projected away
    t(s, dir, "documents")
      .select(col("doc_id"), normText(col("text")).as("t"))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0), ceil(length(col("t")) / 200.0).cast("int") - 1)).as("i"))
      .select(col("doc_id"), col("i"), col("t").substr(col("i") * 200 + 1, lit(200)).as("chunk"))
      .withColumn("score_raw", (portableHash(col("chunk")) % 1000000).cast("double") / 1000000.0)
  }

  /** Chunk-index packing for the top-50 heap: (doc_id, i) ride one
    * long as doc_id·2²⁰ + i, so lexicographic (doc_id, i) order IS
    * numeric order on the packed key — valid for docs under 2²⁰
    * chunks (~200 MB of text at 200-char slices) and doc ids under
    * 2⁴³. Both bounds hold with orders of magnitude to spare at
    * 100 TB-corpus scale — and are ENFORCED in-plan (raise_error in
    * queryDocsTop), so an out-of-range doc fails loudly instead of
    * silently reordering the heap.
    */
  private val ChunkPackBits = 20

  /** Top-50 chunks → per-doc mean → top-10 docs (the query_documents
    * shape over any scored chunk frame).
    *
    * One aggregation, not a sort: the global top-50 comes from the
    * bounded-heap TopKAgg (≤ 50 rows per map partition reach the one
    * tiny exchange — no corpus sort), and the per-doc mean / top-10
    * finish runs as ARRAY expressions over the 50-element result in
    * the same final stage — zero further shuffles or driver hops.
    * The previous sort-limit → groupBy → sort-limit chain paid three
    * exchanges for the same answer; on a fixed-cost-dominated probe
    * that was most of the latency (BenchProbe exec 0.134 → ~0.09 s at
    * sf0.1), and at 100 TB it is the difference between sorting the
    * chunk table and streaming it once. Arithmetic is
    * oracle-identical: scores sum in (score desc, doc_id, i) order —
    * the order the exploded 50-row frame summed in before — and
    * round6(sum/size) is bit-for-bit avg's divide.
    */
  private[graft] def queryDocsTop(chunks: org.apache.spark.sql.DataFrame) = {
    import graft.functions.VectorFunctions.topK
    // overflow guard (round-11 verdict #6): the packing bounds above
    // were asserted only in prose — a >2²⁰-chunk doc (or a doc_id ≥
    // 2⁴³) would silently corrupt packed ordering and return wrong
    // top-10 docs. In-plan raise_error (the simHash/maxBlockSize
    // pattern) costs two codegen'd comparisons per row and fails
    // loudly instead.
    val packedRaw = col("doc_id").cast("long") * lit(1L << ChunkPackBits) +
      col("i").cast("long")
    val packed = when(
      col("i") >= lit(1L << ChunkPackBits) ||
        col("doc_id").cast("long") >= lit(1L << (63 - ChunkPackBits)) ||
        col("doc_id") < 0 || col("i") < 0,
      raise_error(concat(
        lit(s"queryDocsTop: (doc_id, chunk) outside the $ChunkPackBits-bit "),
        lit("packing bounds — doc_id="), col("doc_id").cast("string"),
        lit(" i="), col("i").cast("string"),
        lit(" (split the doc or widen ChunkPackBits)"))).cast("long"))
      .otherwise(packedRaw)
    def docOf(x: org.apache.spark.sql.Column) =
      shiftright(x.getField("id"), ChunkPackBits)
    val byDoc = transform(
      array_distinct(transform(col("_t"), x => docOf(x))),
      d => {
        val mine = filter(col("_t"), x => docOf(x) === d)
        struct(
          d.as("doc_id"),
          round(aggregate(mine, lit(0.0),
            (a, x) => a + x.getField("score")) / size(mine), 6).as("score"),
          size(mine).cast("long").as("n_chunks"))
      })
    val top10 = slice(
      array_sort(byDoc, (l, r) =>
        when(l.getField("score") > r.getField("score"), -1)
          .when(l.getField("score") < r.getField("score"), 1)
          .when(l.getField("doc_id") < r.getField("doc_id"), -1)
          .when(l.getField("doc_id") > r.getField("doc_id"), 1)
          .otherwise(0)),
      1, 10)
    chunks
      .agg(topK(col("score_raw"), packed, 50).as("_t"))
      .select(explode(top10).as("_d")) // array is totally ordered already
      .select(col("_d.doc_id").as("doc_id"), col("_d.score").as("score"),
        col("_d.n_chunks").as("n_chunks"))
  }

  /** The query text of the section entries and the warm serving bench
    * (tools/bench_baseline.py times the reference on the same text).
    */
  private[graft] val QueryText = "spark table join query"

  private def sectionsProjection(idx: DocumentIndex) =
    idx.renderSections(QueryText,
        maxTokens = 120, maxSections = 2, maxDocuments = 50)
      .select(col("uri"), col("section_idx").cast("long"),
        col("token_count").cast("long"), round(col("score"), 6).as("score"),
        length(col("text")).cast("long").as("text_len"))
      .orderBy(col("uri"), col("section_idx"))

  // d_chunk / d_chunk_stats oracles: the splitter is recursive in
  // general, but on the driver corpus (single-line texts of space-
  // separated alphanumeric words, each word = one RegexTokenizer
  // token) it provably degenerates to a closed form — docs with
  // tokens <= 64 AND length <= 384 chars stay one whole-text chunk
  // (the chars/6 shortcut at text_splitter.py:95 forces longer docs
  // down to the word level even when their token count fits); all
  // others flat-split to words and greedily re-merge into ceil(n/64)
  // chunks of exactly 64 tokens (+remainder). combine_chunks keeps
  // the FIRST constituent's end_pos (text_splitter.py:150-174), so a
  // merged chunk's end_pos is the end of its first word (+1 for the
  // separator unless it is the document's last word). The SQL mirrors
  // that closed form; the general recursive semantics are covered by
  // TextSplitterSpec. Overlap counts: 8 from each neighbor, clamped
  // by the neighbor's token count, zero at the edges.
  /** d_sections / d_sections_persisted oracle. Two closed forms stack:
    * (1) the chunker degenerates on this corpus exactly as in the
    * d_chunk oracle (chunk c = words with wi/64 = c); (2) every corpus
    * doc has ≤ 100 tokens < maxTokens=120, so SectionRenderer's
    * whole-doc shortcut (local_document_result.py:33-38 equivalent)
    * fires for EVERY rendered document — one section of the full text
    * with score 1.0. What remains checkable (and is the part that
    * matters) is the retrieval: which 50 chunks the HashingEmbedder
    * cosine ranks highest, hence which documents render. The embedder
    * is md5 feature hashing (dim 64 = 2^6 → bucket is the low 6 bits
    * of the top-16-hex-digit hash; sign is bit 32), and cosine is
    * scale-invariant, so the SQL scores RAW signed counts — no float
    * normalization needed; the query vector literals are generated by
    * the same HashingEmbedder.feature call the engine runs.
    * Tie-break mirrors VectorIndex.queryItems: score desc, chunk_id
    * ("md5(uri)-i") ascending.
    */
  private lazy val sectionsOracleSql: String = {
    val qTokens = new graft.text.RegexTokenizer().encode(QueryText)
      .map(_.trim.toLowerCase).filter(_.nonEmpty)
    val q = qTokens.map(graft.embed.HashingEmbedder.feature(_))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum)
      .filter(_._2 != 0).toSeq.sortBy(_._1)
    val qValues = q.map { case (i, v) => s"($i, $v)" }.mkString(", ")
    s"""WITH docs AS (
       |  SELECT doc_id::VARCHAR AS uri, md5(doc_id::VARCHAR) AS did, text,
       |    len(string_split(text, ' ')) AS n_tok, len(text) AS tlen
       |  FROM documents),
       |words AS (
       |  SELECT did, unnest(string_split(text, ' ')) AS w,
       |    generate_subscripts(string_split(text, ' '), 1) - 1 AS wi
       |  FROM docs),
       |feat AS (
       |  SELECT did, wi // 64 AS c,
       |    ('0x'||substr(md5(w), 15, 2))::BIGINT & 63 AS idx,
       |    CASE WHEN (('0x'||substr(md5(w), 8, 1))::BIGINT & 1) = 0 THEN 1 ELSE -1 END AS sgn
       |  FROM words),
       |vecs AS (
       |  SELECT did, c, idx, SUM(sgn) AS e FROM feat GROUP BY did, c, idx),
       |qv(qidx, qval) AS (VALUES $qValues),
       |qnorm AS (SELECT sqrt(SUM(qval * qval)) AS qn FROM qv),
       |dots AS (
       |  SELECT v.did, v.c, SUM(v.e * COALESCE(qv.qval, 0)) AS dot
       |  FROM vecs v LEFT JOIN qv ON v.idx = qv.qidx
       |  GROUP BY v.did, v.c),
       |norms AS (SELECT did, c, sqrt(SUM(e * e)) AS nrm FROM vecs GROUP BY did, c),
       |scored AS (
       |  SELECT d.did, d.c, d.dot / (n.nrm * q.qn) AS cos
       |  FROM dots d JOIN norms n USING (did, c), qnorm q),
       |top50 AS (
       |  SELECT did, c, cos FROM scored
       |  ORDER BY cos DESC, did || '-' || c::VARCHAR LIMIT 50),
       |sel AS (SELECT DISTINCT did FROM top50)
       |SELECT d.uri, CAST(0 AS BIGINT) AS section_idx,
       |  CAST(d.n_tok AS BIGINT) AS token_count,
       |  CAST(1.0 AS DOUBLE) AS score, CAST(d.tlen AS BIGINT) AS text_len
       |FROM docs d JOIN sel USING (did)
       |ORDER BY uri, section_idx""".stripMargin
  }

  /** Shared by d_query_documents and d_query_documents_persisted. */
  private lazy val QueryDocsOracle: String =
    """WITH norm AS (
      |  SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
      |  FROM documents),
      |chunks AS (
      |  SELECT doc_id, i, substr(t, (i*200+1)::INT, 200) AS chunk
      |  FROM norm, unnest(range(0, CAST(ceil(len(t)/200.0) AS BIGINT))) AS u(i)),
      |scored AS (
      |  SELECT doc_id, i,
      |    (('0x'||substr(md5(chunk), 1, 15))::BIGINT % 1000000) / 1000000.0 AS score_raw
      |  FROM chunks),
      |topc AS (
      |  SELECT doc_id, score_raw FROM scored
      |  ORDER BY score_raw DESC, doc_id, i LIMIT 50)
      |SELECT doc_id, round(avg(score_raw), 6) AS score, count(*) AS n_chunks
      |FROM topc GROUP BY doc_id
      |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin

  val oracles: Map[String, String] = Map(
    "d_sections" -> sectionsOracleSql,

    // same output by construction (PersistedQueriesSpec); the oracle
    // cannot observe where the chunk index lives
    "d_sections_persisted" -> sectionsOracleSql,

    // catalogStats under the index's DEFAULT splitter config
    // (chunkSize=512, keepSeparators=true): every driver-corpus doc is
    // single-line with <= 100 tokens and <= 553 chars, so both the
    // chars/6 shortcut (needs > 3072 chars) and the token budget
    // (needs > 512) never split — exactly one chunk per document with
    // any alphanumeric content.
    "d_catalog_stats" ->
      """SELECT CAST(count(*) AS BIGINT) AS documents,
        |  CAST(sum(CASE WHEN regexp_matches(text, '[A-Za-z0-9]') THEN 1 ELSE 0 END) AS BIGINT) AS chunks,
        |  CAST(1 AS BIGINT) AS version
        |FROM documents""".stripMargin,

    "d_chunk_stats" ->
      """WITH wc AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_tok
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(ceil(n_tok / 64.0) AS BIGINT) AS n_chunks,
        |  CAST(n_tok AS BIGINT) AS total_tokens,
        |  CAST(least(n_tok, 64) AS BIGINT) AS max_tokens
        |FROM wc WHERE n_tok > 0 ORDER BY doc_id""".stripMargin,

    "d_chunk" ->
      """WITH docs AS (
        |  SELECT doc_id, text, len(text) AS tlen,
        |    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_tok
        |  FROM documents),
        |single AS (
        |  SELECT doc_id, CAST(0 AS BIGINT) AS chunk_idx, CAST(0 AS BIGINT) AS start_pos,
        |    CAST(tlen - 1 AS BIGINT) AS end_pos, CAST(n_tok AS BIGINT) AS n_tokens,
        |    CAST(0 AS BIGINT) AS n_start_overlap, CAST(0 AS BIGINT) AS n_end_overlap
        |  FROM docs WHERE n_tok > 0 AND n_tok <= 64 AND tlen <= 384),
        |words AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
        |    generate_subscripts(string_split(text, ' '), 1) - 1 AS wi
        |  FROM docs WHERE n_tok > 64 OR tlen > 384),
        |pos AS (
        |  SELECT doc_id, w, wi,
        |    count(*) OVER (PARTITION BY doc_id) AS n_words,
        |    coalesce(sum(len(w) + 1) OVER (PARTITION BY doc_id ORDER BY wi
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS sp
        |  FROM words),
        |multi0 AS (
        |  SELECT doc_id, wi // 64 AS chunk_idx,
        |    count(*) AS n_tokens,
        |    min(sp) AS start_pos,
        |    min(sp) + arg_min(len(w), wi) - 1
        |      + CASE WHEN min(wi) < max(n_words) - 1 THEN 1 ELSE 0 END AS end_pos
        |  FROM pos GROUP BY doc_id, wi // 64),
        |multi AS (
        |  SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |    CAST(start_pos AS BIGINT) AS start_pos, CAST(end_pos AS BIGINT) AS end_pos,
        |    CAST(n_tokens AS BIGINT) AS n_tokens,
        |    CAST(CASE WHEN max(chunk_idx) OVER (PARTITION BY doc_id) = 0 OR chunk_idx = 0
        |      THEN 0 ELSE 8 END AS BIGINT) AS n_start_overlap,
        |    CAST(CASE WHEN chunk_idx = max(chunk_idx) OVER (PARTITION BY doc_id)
        |      THEN 0 ELSE least(8, lead(n_tokens) OVER (PARTITION BY doc_id ORDER BY chunk_idx))
        |      END AS BIGINT) AS n_end_overlap
        |  FROM multi0)
        |SELECT * FROM single UNION ALL SELECT * FROM multi
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    "d_query_documents" -> QueryDocsOracle,

    // identical semantics by construction — the entry differs only in
    // WHERE the scored chunks live (persisted parquet vs in-plan),
    // which SQL cannot observe
    "d_query_documents_persisted" -> QueryDocsOracle,

    "d_query_documents_filtered" ->
      """WITH norm AS (
        |  SELECT doc_id, lang, source,
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
        |  FROM documents),
        |chunks AS (
        |  SELECT doc_id, lang, source, i, substr(t, (i*200+1)::INT, 200) AS chunk
        |  FROM norm, unnest(range(0, CAST(ceil(len(t)/200.0) AS BIGINT))) AS u(i)),
        |scored AS (
        |  SELECT doc_id, lang, source, i,
        |    (('0x'||substr(md5(chunk), 1, 15))::BIGINT % 1000000) / 1000000.0 AS score_raw
        |  FROM chunks
        |  WHERE (lang = 'en' OR lang IN ('de', 'fr')) AND source <> 'src3'),
        |topc AS (
        |  SELECT doc_id, lang, source, score_raw FROM scored
        |  ORDER BY score_raw DESC, doc_id, i LIMIT 50)
        |SELECT doc_id, lang, source,
        |  round(avg(score_raw), 6) AS score, count(*) AS n_chunks
        |FROM topc GROUP BY doc_id, lang, source
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin)
    // Every SparkEntry.queries entry now carries a DuckDB hash
    // oracle (ta_tokens_bpe was last — its oracle replays the
    // exported merge table in a recursive CTE, TextQueries).
}
