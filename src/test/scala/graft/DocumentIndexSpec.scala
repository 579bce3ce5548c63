package graft

import java.nio.file.Files

import graft.index.DocumentIndex
import graft.text.SplitterConfig

class DocumentIndexSpec extends SparkSpecBase {

  private def corpus = {
    import spark.implicits._
    Seq(
      ("a.txt", "spark shuffles data between stages. " * 20),
      ("b.txt", "vectors live in embedding space. " * 20),
      ("c.md", "# title\n\nminhash finds near duplicates quickly.\n\nmore prose here."))
      .toDF("uri", "text")
  }

  private def mkIndex = DocumentIndex.create(
    spark, SplitterConfig(keepSeparators = true, chunkSize = 64, chunkOverlap = 0))
    .upsertDocuments(corpus)

  test("upsert catalogs every uri and chunks every document") {
    import spark.implicits._
    val idx = mkIndex
    assert(idx.catalog.count() == 3)
    val stats = idx.catalogStats.collect().head
    assert(stats.getAs[Long]("documents") == 3L)
    assert(stats.getAs[Long]("chunks") >= 3L)
    // every chunk's document_id resolves through the catalog
    val orphans = idx.chunks.items.join(idx.catalog, Seq("document_id"), "left_anti")
    assert(orphans.count() == 0)
  }

  test("upsert is latest-wins per uri") {
    import spark.implicits._
    val idx = mkIndex
    val v2 = Seq(("a.txt", "entirely new tiny text")).toDF("uri", "text")
    val updated = idx.upsertDocuments(v2)
    assert(updated.catalog.count() == 3)
    val aId = DocumentIndex.docIdFor("a.txt")
    val aChunks = updated.chunks.items.filter(s"document_id = '$aId'")
    assert(aChunks.count() == 1) // tiny text → one chunk
  }

  test("a uri repeated within one batch keeps one version in catalog and chunks") {
    import spark.implicits._
    val docs = Seq(
      ("a.txt", "spark shuffles data", "en"),
      ("b.txt", "vectors live in embedding space", "en"),
      ("a.txt", "minhash finds near duplicates", "de"))
      .toDF("uri", "text", "lang")
    val idx = DocumentIndex.create(
      spark, SplitterConfig(keepSeparators = true, chunkSize = 64, chunkOverlap = 0))
      .upsertDocuments(docs)
    val ids = idx.chunks.items.select("chunk_id").as[String].collect().toSeq
    assert(ids.distinct.size == ids.size, s"duplicate chunk ids: $ids")
    val aId = DocumentIndex.docIdFor("a.txt")
    val cat = idx.catalog.filter(s"document_id = '$aId'")
      .select("text", "lang").as[(String, String)].collect().toSeq
    // the last row in input order wins, the same rule as across batches
    assert(cat == Seq(("minhash finds near duplicates", "de")))
    val aChunks = idx.chunks.items.filter(s"document_id = '$aId'")
      .select("lang").as[String].collect().toSeq
    assert(aChunks == Seq("de"))
    val top = idx.queryDocuments("minhash duplicates", maxDocuments = 1).collect().head
    assert(top.getAs[String]("uri") == "a.txt")
    assert(top.getAs[Long]("n_chunks") == 1L)
    assert(top.getAs[String]("lang") == "de")
  }

  test("deleteDocument removes catalog entry and chunks") {
    val idx = mkIndex.deleteDocument("b.txt")
    assert(idx.catalog.count() == 2)
    val bId = DocumentIndex.docIdFor("b.txt")
    assert(idx.chunks.items.filter(s"document_id = '$bId'").count() == 0)
  }

  test("queryDocuments ranks the on-topic document first") {
    import spark.implicits._
    val idx = mkIndex
    val top = idx.queryDocuments("spark shuffles data", maxDocuments = 2)
      .select("uri").as[String].collect().toSeq
    assert(top.head == "a.txt")
  }

  private def metaCorpus = {
    import spark.implicits._
    Seq(
      ("a.txt", "spark shuffles data between stages. " * 20, "en", 3L),
      ("b.txt", "vectors live in embedding space. " * 20, "en", 7L),
      ("c.txt", "spark shuffles data between stages. " * 20, "de", 5L))
      .toDF("uri", "text", "lang", "priority")
  }

  private def mkMetaIndex = DocumentIndex.create(
    spark, SplitterConfig(keepSeparators = true, chunkSize = 64, chunkOverlap = 0))
    .upsertDocuments(metaCorpus)

  test("document metadata rides on every chunk row and on the catalog") {
    val idx = mkMetaIndex
    assert(idx.chunks.items.columns.contains("lang"))
    assert(idx.chunks.items.columns.contains("priority"))
    assert(idx.chunks.items.filter("lang IS NULL OR priority IS NULL").count() == 0)
    assert(idx.catalog.columns.contains("lang"))
    val aId = DocumentIndex.docIdFor("a.txt")
    val langs = idx.chunks.items.filter(s"document_id = '$aId'")
      .select("lang").distinct().collect().map(_.getString(0)).toSeq
    assert(langs == Seq("en"))
  }

  test("queryDocuments applies a metadata filter pre-similarity") {
    import spark.implicits._
    val idx = mkMetaIndex
    // a.txt and c.txt have identical text; the lang filter must pick c
    val top = idx.queryDocuments("spark shuffles data", maxDocuments = 3,
        filter = Some(graft.filters.MetaFilter.parse("""{"lang": "de"}""")))
      .select("uri").as[String].collect().toSeq
    assert(top == Seq("c.txt"))
    // numeric operator over document metadata
    val hiPri = idx.queryDocuments("spark shuffles data", maxDocuments = 3,
        filter = Some(graft.filters.MetaFilter.parse("""{"priority": {"$gte": 5}}""")))
      .select("uri").as[String].collect().toSeq
    assert(hiPri.toSet == Set("b.txt", "c.txt"))
  }

  test("queryDocuments decorates results with document metadata") {
    val idx = mkMetaIndex
    val rows = idx.queryDocuments("embedding space vectors", maxDocuments = 1).collect()
    assert(rows.head.getAs[String]("uri") == "b.txt")
    assert(rows.head.getAs[String]("lang") == "en")
    assert(rows.head.getAs[Long]("priority") == 7L)
  }

  test("re-upsert with new metadata keys null-fills older documents") {
    import spark.implicits._
    val idx = mkIndex // no metadata columns
    val v2 = Seq(("d.txt", "fresh doc with metadata", "fr", 1L))
      .toDF("uri", "text", "lang", "priority")
    val updated = idx.upsertDocuments(v2)
    assert(updated.catalog.count() == 4)
    val dId = DocumentIndex.docIdFor("d.txt")
    assert(updated.chunks.items.filter(s"document_id = '$dId' AND lang = 'fr'").count() >= 1)
    // pre-existing chunks survive with null metadata (side file absent)
    val aId = DocumentIndex.docIdFor("a.txt")
    assert(updated.chunks.items.filter(s"document_id = '$aId' AND lang IS NULL").count() >= 1)
  }

  test("metadata survives save/load") {
    import spark.implicits._
    val dir = Files.createTempDirectory("didxm").toString
    mkMetaIndex.save(dir)
    val loaded = DocumentIndex.load(spark, dir)
    val top = loaded.queryDocuments("spark shuffles data", maxDocuments = 3,
        filter = Some(graft.filters.MetaFilter.parse("""{"lang": "de"}""")))
      .select("uri").as[String].collect().toSeq
    assert(top == Seq("c.txt"))
  }

  test("save/load round-trip") {
    import spark.implicits._
    val dir = Files.createTempDirectory("didx").toString
    mkIndex.save(dir)
    val loaded = DocumentIndex.load(spark, dir)
    assert(loaded.catalog.count() == 3)
    val top = loaded.queryDocuments("embedding space vectors", maxDocuments = 1)
      .select("uri").as[String].collect().toSeq
    assert(top == Seq("b.txt"))
  }
}
