package graft

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.filters.MetaFilter
import graft.index.DocumentIndex
import graft.text.SplitterConfig

/** Document queries answer from one top-k chunk job: `queryDocuments`
  * runs exactly one Spark job and `renderSections` at most two, and
  * both return row for row what the earlier join-based plans return
  * (kept below as the reference implementation).
  */
class DocumentQuerySpec extends SparkSpecBase {

  private val Config = SplitterConfig(keepSeparators = true, chunkSize = 64, chunkOverlap = 0)

  private val Vocab = Seq("spark", "shuffle", "stage", "vector", "embedding", "space",
    "minhash", "duplicate", "token", "chunk", "query", "index", "cosine", "score",
    "table", "join", "broadcast", "partition", "executor", "driver", "parquet",
    "column", "filter", "metadata", "section", "render", "document", "catalog",
    "corpus", "split", "window", "heap", "merge", "sketch", "bloom", "hash")

  /** Seeded corpus: 40 documents of 80-250 words with `lang`/`priority`
    * metadata, plus two uris with identical text (exact score ties).
    */
  private lazy val corpus: DataFrame = {
    import spark.implicits._
    val rnd = new Random(7)
    def words(n: Int) = Seq.fill(n)(Vocab(rnd.nextInt(Vocab.size))).mkString(" ")
    val langs = Seq("en", "de", "fr")
    val docs = (0 until 40).map { i =>
      val ext = if (i % 4 == 0) "md" else "txt"
      (s"doc$i.$ext", words(80 + rnd.nextInt(170)), langs(i % 3), (i % 10).toLong)
    }
    val twin = words(120)
    (docs ++ Seq(("twin-a.txt", twin, "en", 3L), ("twin-b.txt", twin, "de", 5L)))
      .toDF("uri", "text", "lang", "priority")
  }

  private lazy val index: DocumentIndex = {
    val dir = Files.createTempDirectory("dquery").toString
    DocumentIndex.create(spark, Config).upsertDocuments(corpus).save(dir)
    DocumentIndex.load(spark, dir, Config)
  }

  /** Distinct seeded query texts of 2-5 vocabulary words. */
  private lazy val queries: Seq[String] = {
    val rnd = new Random(11)
    Iterator.continually(Seq.fill(2 + rnd.nextInt(4))(Vocab(rnd.nextInt(Vocab.size))).mkString(" "))
      .distinct.take(24).toSeq
  }

  private val Filters = Seq(
    MetaFilter.parse("""{"lang": "de"}"""),
    MetaFilter.parse("""{"priority": {"$gte": 5}}"""))

  // -- reference: the plans these calls had before the single-pass rewrite --

  private def refQueryDocuments(idx: DocumentIndex, queryText: String, maxDocuments: Int,
      maxChunks: Int, filter: Option[MetaFilter]): DataFrame = {
    val qv = idx.embedder.embed(idx.splitter.tokenizer.encode(queryText.replace('\n', ' ')))
    val topChunks = idx.chunks.queryItems(qv.map(_.toDouble).toIndexedSeq, maxChunks, filter)
    val metaCols = idx.catalog.columns.toSeq.filterNot(Set("document_id", "uri", "text"))
    val scores = topChunks
      .groupBy(col("document_id"))
      .agg(avg(col("score")).as("score"), count(lit(1)).as("n_chunks"))
    idx.catalog.drop("text")
      .join(broadcast(scores), Seq("document_id"))
      .orderBy(desc("score"), col("document_id"))
      .limit(maxDocuments)
      .select((Seq(col("document_id"), col("uri"), col("score"), col("n_chunks"))
        ++ metaCols.map(col)): _*)
  }

  private def refRenderSections(idx: DocumentIndex, queryText: String, maxTokens: Int,
      maxSections: Int, maxDocuments: Int, maxChunks: Int): DataFrame = {
    import spark.implicits._
    val qv = idx.embedder.embed(idx.splitter.tokenizer.encode(queryText.replace('\n', ' ')))
    val topChunks = idx.chunks.queryItems(qv.map(_.toDouble).toIndexedSeq, maxChunks)
      .select(col("document_id"), col("start_pos"), col("end_pos"), col("score"))
    val tok = idx.splitter.tokenizer
    val topDocs = refQueryDocuments(idx, queryText, maxDocuments, maxChunks, None)
      .select(col("document_id"))
    topChunks
      .join(broadcast(topDocs), "document_id")
      .join(idx.catalog.select(col("document_id"), col("uri"), col("text")), "document_id")
      .select(col("document_id"), col("uri"), col("text"),
        col("start_pos"), col("end_pos"), col("score"))
      .as[(String, String, String, Int, Int, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (docId, rows) =>
        val rs = rows.toVector.sortBy(r => (-r._6, r._4))
        graft.text.SectionRenderer.render(
            rs.head._3, rs.map(r => graft.text.ScoredChunk(r._4, r._5, r._6)),
            maxTokens, maxSections, tok)
          .zipWithIndex.map { case (sec, i) =>
            (docId, rs.head._2, i, sec.text, sec.tokenCount, sec.score)
          }
      }
      .toDF("document_id", "uri", "section_idx", "text", "token_count", "score")
  }

  // -- helpers --

  private def types(df: DataFrame): Seq[(String, DataType)] =
    df.schema.fields.toSeq.map(f => (f.name, f.dataType))

  private def sections(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(r => (r.getString(0), r.getInt(2)))

  // -- specs --

  test("queryDocuments runs one job and renderSections at most two") {
    val q = queries.head
    val filter = Some(Filters.head)
    // warm-up: first-call planning and codegen are not the guarded cost
    index.queryDocuments(q).collect()
    index.queryDocuments(q, filter = filter).collect()
    index.renderSections(q).collect()
    assert(jobsIn(index.queryDocuments(queries(1)).collect()) == 1)
    assert(jobsIn(index.queryDocuments(queries(2), filter = filter).collect()) == 1)
    assert(jobsIn(index.renderSections(queries(3)).collect()) <= 2)
    assert(jobsIn(index.renderSections(queries(4), 120, 2, 50, 50).collect()) <= 2)
  }

  test("queryDocuments returns the join-based plan's rows, filtered or not, ties included") {
    val cases = queries.zipWithIndex.flatMap { case (q, i) =>
      val filter = if (i % 3 == 0) Some(Filters((i / 3) % Filters.size)) else None
      // maxChunks 5 cuts through chunk ties; 50 is the default budget
      Seq((q, 10, 50, filter), (q, 3, 5, filter))
    } ++ Seq(("spark shuffle stage", 50, 200, None))
    cases.foreach { case (q, maxDocs, maxChunks, filter) =>
      val got = index.queryDocuments(q, maxDocs, maxChunks, filter)
      val want = refQueryDocuments(index, q, maxDocs, maxChunks, filter)
      assert(types(got) == types(want))
      assert(got.collect().toSeq == want.collect().toSeq, s"'$q' $maxDocs/$maxChunks $filter")
    }
  }

  test("exactly tied documents rank by document_id, as the join-based plan ranks them") {
    import spark.implicits._
    val twin = corpus.filter(col("uri") === "twin-a.txt").select("text").as[String].head()
    val q = twin.split(" ").take(6).mkString(" ")
    // every chunk scored, so both twins are in the result
    val got = index.queryDocuments(q, 50, 500).collect().toSeq
    val uris = got.map(_.getAs[String]("uri"))
    val (a, b) = (uris.indexOf("twin-a.txt"), uris.indexOf("twin-b.txt"))
    assert(a >= 0 && b >= 0)
    assert(got(a).getAs[Double]("score") == got(b).getAs[Double]("score"))
    assert(math.abs(a - b) == 1)
    assert(got == refQueryDocuments(index, q, 50, 500, None).collect().toSeq)
  }

  test("renderSections returns the join-based plan's rows") {
    queries.take(8).foreach { q =>
      Seq((2000, 1, 10, 50), (120, 2, 50, 50)).foreach { case (tk, sc, dc, cc) =>
        val got = index.renderSections(q, tk, sc, dc, cc)
        val want = refRenderSections(index, q, tk, sc, dc, cc)
        assert(types(got) == types(want))
        assert(sections(got) == sections(want), s"'$q' ($tk, $sc, $dc, $cc)")
      }
    }
  }

  test("an empty index returns empty frames with the documented columns") {
    val empty = DocumentIndex.create(spark)
    val docs = empty.queryDocuments("anything at all")
    assert(types(docs) == Seq("document_id" -> StringType, "uri" -> StringType,
      "score" -> DoubleType, "n_chunks" -> LongType))
    assert(types(docs) == types(refQueryDocuments(empty, "anything at all", 10, 50, None)))
    assert(docs.collect().isEmpty)
    val secs = empty.renderSections("anything at all")
    assert(types(secs) == Seq("document_id" -> StringType, "uri" -> StringType,
      "section_idx" -> IntegerType, "text" -> StringType, "token_count" -> IntegerType,
      "score" -> DoubleType))
    assert(types(secs) == types(refRenderSections(empty, "anything at all", 2000, 1, 10, 50)))
    assert(secs.collect().isEmpty)
  }
}
