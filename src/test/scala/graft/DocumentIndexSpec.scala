package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.index.{DocumentIndex, IndexNotFoundException, VectorIndex}
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

  // -- index storage: batch-sized writes, job-free loads --

  private def parquetFiles(dir: String): Int =
    Files.list(Paths.get(dir)).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet"))

  /** A loaded component matches what `spark.read.parquet` infers for
    * the same directory: the same schema (names, order, types,
    * nullability) and the same rows.
    */
  private def assertLoadsAsInferred(loaded: DataFrame, dir: String): Unit = {
    val inferred = spark.read.parquet(dir)
    assert(loaded.schema == inferred.schema, dir)
    def rows(df: DataFrame) = df.collect().toSeq.map(_.toSeq.map {
      case a: Seq[_] => a.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).sorted
    assert(rows(loaded) == rows(inferred), dir)
  }

  test("a small batch saves one file per component and load runs no job") {
    import spark.implicits._
    val batch = (0 until 40).map(i => (s"doc$i.txt", s"document $i talks about topic ${i % 7}. " * 5))
      .toDF("uri", "text")
    val dir = Files.createTempDirectory("didxw").toString
    DocumentIndex.create(spark).upsertDocuments(batch).save(dir)
    assert(parquetFiles(s"$dir/catalog") == 1)
    assert(parquetFiles(s"$dir/chunks") == 1)
    DocumentIndex.load(spark, dir) // warm-up
    assert(jobsIn(DocumentIndex.load(spark, dir)) == 0)
    assert(DocumentIndex.load(spark, dir).catalog.count() == 40)
  }

  test("load gives the schema and rows spark.read.parquet infers") {
    import spark.implicits._
    val cfg = SplitterConfig(keepSeparators = true, chunkSize = 64, chunkOverlap = 0)
    val newKeys = Seq(("d.txt", "fresh doc with metadata", "fr", 1L))
      .toDF("uri", "text", "lang", "priority")
    Seq(
      mkMetaIndex,
      // metadata keys the saved rows lack: the null-fill path
      mkIndex.upsertDocuments(newKeys),
      DocumentIndex.create(spark)
    ).foreach { idx =>
      val dir = Files.createTempDirectory("didxl").toString
      idx.save(dir)
      val loaded = DocumentIndex.load(spark, dir, cfg)
      assertLoadsAsInferred(loaded.catalog, s"$dir/catalog")
      assertLoadsAsInferred(loaded.chunks.items, s"$dir/chunks")
    }
    val vdir = Files.createTempDirectory("vidxl").toString
    VectorIndex.build(Seq((1L, Array(1f, 0f), "en"), (2L, Array(0f, 1f), null))
      .toDF("id", "vec", "lang"), "id", "vec").save(vdir)
    assertLoadsAsInferred(VectorIndex.load(spark, vdir, "id", "vec").items, vdir)
  }

  test("loading a path without a saved index names the path") {
    val root = Files.createTempDirectory("didxe").toString
    val missing = s"$root/absent"
    val e1 = intercept[IndexNotFoundException](DocumentIndex.load(spark, missing))
    assert(e1.path == s"$missing/catalog" && e1.getMessage.contains(e1.path))
    val e2 = intercept[IndexNotFoundException](VectorIndex.load(spark, missing, "id", "vec"))
    assert(e2.path == missing && e2.getMessage.contains(missing))
    // a directory holding no part file
    val bare = Files.createDirectories(Paths.get(root, "bare", "catalog")).getParent.toString
    Files.write(Paths.get(bare, "catalog", "_SUCCESS"), Array.emptyByteArray)
    val e3 = intercept[IndexNotFoundException](DocumentIndex.load(spark, bare))
    assert(e3.path == s"$bare/catalog" && e3.getMessage.contains(e3.path))
    val e4 = intercept[IndexNotFoundException](VectorIndex.load(spark, root, "id", "vec"))
    assert(e4.path == root && e4.getMessage.contains(root))
  }
}
