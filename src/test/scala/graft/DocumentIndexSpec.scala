package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Window

import graft.embed.{Embedder, HashingEmbedder}
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

  test("queryDocuments with a filter on a field no document has returns no documents") {
    import graft.filters.MetaFilter._
    val idx = mkMetaIndex
    Seq(Eq("absent", "de") -> Nil, Nin("absent", Seq("x")) -> Nil,
      Or(Seq(Eq("absent", 1), Eq("lang", "de"))) -> Seq("c.txt")).foreach { case (f, want) =>
      val uris = idx.queryDocuments("spark shuffles data", maxDocuments = 3, filter = Some(f))
        .collect().map(_.getAs[String]("uri")).toSeq
      assert(uris == want, f.toString)
    }
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

  private def parquetFiles(dirs: Seq[String]): Int =
    dirs.map(d => Files.list(Paths.get(d)).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet"))).sum

  /** A loaded component matches what `spark.read.parquet` infers for
    * the directories its committed manifest names: the same schema
    * (names, order, types, nullability) and the same rows.
    */
  private def assertLoadsAsInferred(loaded: DataFrame, dirs: Seq[String]): Unit = {
    val inferred = spark.read.parquet(dirs: _*)
    assert(loaded.schema == inferred.schema, dirs)
    assert(rows(loaded) == rows(inferred), dirs)
  }

  /** Every row of `df` as a string, sorted: equal iff the rows are. */
  private def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toSeq.map {
    case a: Seq[_] => a.mkString("[", ",", "]")
    case v => String.valueOf(v)
  }.mkString("|")).sorted

  test("a small batch saves one file per component and load runs no job") {
    import spark.implicits._
    val batch = (0 until 40).map(i => (s"doc$i.txt", s"document $i talks about topic ${i % 7}. " * 5))
      .toDF("uri", "text")
    val dir = Files.createTempDirectory("didxw").toString
    DocumentIndex.create(spark).upsertDocuments(batch).save(dir)
    assert(parquetFiles(IndexFiles.committedDirs(dir, "catalog")) == 1)
    assert(parquetFiles(IndexFiles.committedDirs(dir, "chunks")) == 1)
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
      assertLoadsAsInferred(loaded.catalog, IndexFiles.committedDirs(dir, "catalog"))
      assertLoadsAsInferred(loaded.chunks.items, IndexFiles.committedDirs(dir, "chunks"))
    }
    val vdir = Files.createTempDirectory("vidxl").toString
    VectorIndex.build(Seq((1L, Array(1f, 0f), "en"), (2L, Array(0f, 1f), null))
      .toDF("id", "vec", "lang"), "id", "vec").save(vdir)
    assertLoadsAsInferred(VectorIndex.load(spark, vdir, "id", "vec").items,
      IndexFiles.committedDirs(vdir, "items"))
  }

  test("loading a path without a saved index names the path") {
    import spark.implicits._
    val root = Files.createTempDirectory("didxe").toString
    val missing = s"$root/absent"
    val e1 = intercept[IndexNotFoundException](DocumentIndex.load(spark, missing))
    assert(e1.path == missing && e1.getMessage.contains(e1.path))
    val e2 = intercept[IndexNotFoundException](VectorIndex.load(spark, missing, "id", "vec"))
    assert(e2.path == missing && e2.getMessage.contains(missing))
    // a directory holding component files but no committed manifest
    val bare = Files.createDirectories(Paths.get(root, "bare", "catalog")).getParent.toString
    Files.write(Paths.get(bare, "catalog", "_SUCCESS"), Array.emptyByteArray)
    val e3 = intercept[IndexNotFoundException](DocumentIndex.load(spark, bare))
    assert(e3.path == bare && e3.getMessage.contains(e3.path))
    val e4 = intercept[IndexNotFoundException](VectorIndex.load(spark, root, "id", "vec"))
    assert(e4.path == root && e4.getMessage.contains(root))
    // a committed index of another kind: a VectorIndex has no catalog
    val vdir = s"$root/vectors"
    VectorIndex.build(Seq((1L, Array(1f, 0f))).toDF("id", "vec"), "id", "vec").save(vdir)
    val e5 = intercept[IndexNotFoundException](DocumentIndex.load(spark, vdir))
    assert(e5.path == vdir && e5.getMessage.contains("catalog"))
  }

  // -- all-or-nothing save --

  private val cfg64 = SplitterConfig(keepSeparators = true, chunkSize = 64, chunkOverlap = 0)

  /** The saved catalog and chunk rows under `dir`. */
  private def savedRows(dir: String): (Seq[String], Seq[String]) = {
    val idx = DocumentIndex.load(spark, dir, cfg64)
    (rows(idx.catalog), rows(idx.chunks.items))
  }

  private def assertNoTempDirs(dir: String): Unit = IndexFiles.assertOnlyCommitted(dir)

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  /** `e` is, or is caused by, upsertDocuments' error for a null `column`. */
  private def namesNull(e: Throwable, column: String): Boolean = causes(e).exists {
    case iae: IllegalArgumentException =>
      iae.getMessage.contains("upsertDocuments") && iae.getMessage.contains(s"null $column")
    case _ => false
  }

  test("a save whose chunk write fails leaves the saved index unchanged") {
    import spark.implicits._
    val em = new MarkerFailingEmbedder("zzpoison")
    val dir = Files.createTempDirectory("didxa").toString
    DocumentIndex.create(spark, cfg64, em).upsertDocuments(corpus).save(dir)
    val before = savedRows(dir)
    // a new version of a.txt and a new d.txt; only the chunk write embeds
    val batch = Seq(("a.txt", "replacement text carrying zzpoison here"), ("d.txt", "a fresh document"))
      .toDF("uri", "text")
    val e = intercept[Exception] {
      DocumentIndex.load(spark, dir, cfg64, em).upsertDocuments(batch).save(dir)
    }
    assert(causes(e).exists(c => String.valueOf(c.getMessage).contains("refused zzpoison")), e)
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    assert(sc.statusTracker.getActiveJobIds.isEmpty)
    assert(savedRows(dir) == before)
    assertNoTempDirs(dir)
  }

  test("a chunk write that fails inside save leaves the saved index unchanged; on the driver, upsertDocuments raises") {
    import spark.implicits._
    val em = new MarkerFailingEmbedder("zzpoison")
    val dir = Files.createTempDirectory("didxx").toString
    DocumentIndex.create(spark, cfg64, em).upsertDocuments(corpus).save(dir)
    val before = savedRows(dir)
    val batch = Seq(("a.txt", "replacement text carrying zzpoison here"), ("d.txt", "a fresh document"))
      .toDF("uri", "text")
    def refused(e: Throwable): Boolean =
      causes(e).exists(c => String.valueOf(c.getMessage).contains("refused zzpoison"))
    // the executor path embeds in the chunk write, while the catalog
    // write runs on save's second thread
    val e = executorSide {
      val pending = DocumentIndex.load(spark, dir, cfg64, em).upsertDocuments(batch)
      intercept[Exception](pending.save(dir))
    }
    assert(refused(e), e)
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    assert(sc.statusTracker.getActiveJobIds.isEmpty)
    assert(savedRows(dir) == before)
    assertNoTempDirs(dir)
    // a batch held on the driver is embedded by upsertDocuments itself
    val d = intercept[Exception](DocumentIndex.load(spark, dir, cfg64, em).upsertDocuments(batch))
    assert(refused(d), d)
    assert(savedRows(dir) == before)
    assertNoTempDirs(dir)
  }

  test("save runs every job of both components under the caller's job group and local properties") {
    val dir = Files.createTempDirectory("didxp").toString
    // the executor path's components are written by Spark's writer, one
    // of them on save's second thread
    val idx = executorSide(mkIndex)
    // a driver-held index is written in the calling thread, with no job
    val held = mkIndex
    // a first save leaves an idle writer thread, created without the
    // group below; the second save must not run on its stale properties
    idx.save(dir)
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.add(e.properties): Unit
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup("didx-save-group", "save under a job group")
    sc.setLocalProperty("graft.spec.tag", "save-tag")
    try {
      idx.save(dir)
      assert(jobsIn(held.save(Files.createTempDirectory("didxph").toString)) == 0)
      ListenerBusDrain(sc)
    } finally {
      sc.clearJobGroup()
      sc.setLocalProperty("graft.spec.tag", null)
      sc.removeSparkListener(listener)
    }
    val props = seen.asScala.toSeq
    assert(props.nonEmpty)
    props.foreach { p =>
      assert(p.getProperty("spark.jobGroup.id") == "didx-save-group", p)
      assert(p.getProperty("graft.spec.tag") == "save-tag", p)
    }
    // jobs of both writes: the catalog's and the chunks' SQL executions
    val executions = props.flatMap(p => Option(p.getProperty("spark.sql.execution.root.id"))).distinct
    assert(executions.size >= 2, executions)
    assert(DocumentIndex.load(spark, dir).catalog.count() == 3)
  }

  test("a null uri or text in upsertDocuments is a named IllegalArgumentException and saves nothing") {
    import spark.implicits._
    val dir = Files.createTempDirectory("didxn").toString
    DocumentIndex.create(spark, cfg64).upsertDocuments(corpus).save(dir)
    val before = savedRows(dir)
    Seq(
      "uri" -> Seq[(String, String)]((null, "a document without a uri"), ("d.txt", "fine")),
      "text" -> Seq[(String, String)](("d.txt", null), ("a.txt", "fine"))
    ).foreach { case (column, docs) =>
      def named(e: Throwable): Boolean = namesNull(e, column)
      // lazy: the upsert itself runs nothing; the first action raises
      val idx = DocumentIndex.load(spark, dir, cfg64).upsertDocuments(docs.toDF("uri", "text"))
      val onSave = intercept[Exception](idx.save(dir))
      assert(named(onSave), onSave)
      val onRead = intercept[Exception](idx.chunks.items.collect())
      assert(named(onRead), onRead)
      assert(named(intercept[Exception](idx.queryDocuments("fine").collect())))
      assert(savedRows(dir) == before)
      assertNoTempDirs(dir)
    }
    // a null uri never becomes a catalog row with a null document_id
    val nullUri = DocumentIndex.create(spark, cfg64)
      .upsertDocuments(Seq[(String, String)]((null, "text")).toDF("uri", "text"))
    assert(namesNull(intercept[Exception](nullUri.catalog.collect()), "uri"))
  }

  // -- the two ingest paths: a driver-held batch and the executor window --

  /** Every row of `df`, floats and doubles as their bits, sorted. */
  private def exactRows(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toSeq.map {
    case a: Seq[_] => a.map {
      case f: Float => java.lang.Float.floatToRawIntBits(f).toString
      case v => String.valueOf(v)
    }.mkString("[", ",", "]")
    case d: Double => "d" + java.lang.Double.doubleToRawLongBits(d)
    case v => String.valueOf(v)
  }.mkString("|")).sorted

  /** Catalog and chunk schemas (nullability included) and rows, bit for bit. */
  private def exactState(idx: DocumentIndex) =
    (idx.catalog.schema, idx.chunks.items.schema, exactRows(idx.catalog), exactRows(idx.chunks.items))

  private def typedBatch(rows: Seq[(String, String, String, String, java.lang.Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("uri", "text", "doc_type", "lang", "priority")
  }

  test("a driver-held batch ingests exactly as the executor path, and an append runs no job, not 4") {
    val prose = "spark shuffles data between stages. vectors live in embedding space. " * 12
    val code = "def f(x):\n    return x\n\nclass A:\n    pass\n" * 10
    val first = typedBatch(Seq(
      ("a.txt", prose, null, "en", 3L),
      ("b.py", code, null, null, null),
      ("c.md", "# title\n\nminhash finds near duplicates.\n\n" * 8, "txt", "de", 5L),
      ("a.txt", "the last row of a repeated uri wins. " * 9, null, "fr", 4L),
      ("d", code, "py", "en", 7L)))
    val second = typedBatch(Seq(
      ("b.py", "a rewritten module body. " * 30, null, "en", 1L),
      ("e.md", "# new\n\na new document arrives.\n\n" * 5, null, null, 2L),
      ("e.md", "# newer\n\nthe second version of it.\n\n" * 5, null, "de", null)))
    val empty = typedBatch(Nil)
    def scenarios(): Seq[(String, DocumentIndex)] = {
      val base = Files.createTempDirectory("didxeq").toString
      DocumentIndex.create(spark, cfg64).upsertDocuments(first).save(base)
      val rewritten = Files.createTempDirectory("didxeqr").toString
      DocumentIndex.create(spark, cfg64).upsertDocuments(first).upsertDocuments(second).save(rewritten)
      val appended = Files.createTempDirectory("didxeqa").toString
      DocumentIndex.create(spark, cfg64).upsertDocuments(first).save(appended)
      DocumentIndex.load(spark, appended, cfg64).upsertDocuments(second).save(appended)
      Seq(
        "new" -> DocumentIndex.create(spark, cfg64).upsertDocuments(first),
        "empty" -> DocumentIndex.create(spark, cfg64).upsertDocuments(empty),
        "empty onto loaded" -> DocumentIndex.load(spark, base, cfg64).upsertDocuments(empty),
        "onto loaded" -> DocumentIndex.load(spark, base, cfg64).upsertDocuments(second),
        "appended, saved" -> DocumentIndex.load(spark, appended, cfg64),
        "rewritten, saved" -> DocumentIndex.load(spark, rewritten, cfg64))
    }
    // whether a new index's catalog went through the executor path's dedup window
    def windowed(f: => Seq[(String, DocumentIndex)]): (Seq[(String, DocumentIndex)], Boolean) = {
      val built = f
      (built, built.head._2.catalog.queryExecution.analyzed.exists(_.isInstanceOf[Window]))
    }
    val (driverBuilt, driverWindowed) = windowed(scenarios())
    assert(!driverWindowed)
    val onDriver = driverBuilt.map { case (name, idx) => name -> exactState(idx) }
    // the executor path, and a batch taken to the driver but over the one-task size
    val bound = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    Seq(
      "executor" -> (() => executorSide(windowed(scenarios()))),
      "over the size bound" -> { () =>
        spark.conf.set(bound, "1k")
        try windowed(scenarios()) finally spark.conf.unset(bound)
      }
    ).foreach { case (path, build) =>
      val (built, isWindowed) = build()
      assert(isWindowed, path)
      onDriver.zip(built.map { case (name, idx) => name -> exactState(idx) }).foreach {
        case ((name, d), (_, e)) =>
          assert(d._1 == e._1, s"$path $name: catalog schema")
          assert(d._2 == e._2, s"$path $name: chunk schema")
          assert(d._3 == e._3, s"$path $name: catalog rows")
          assert(d._4 == e._4, s"$path $name: chunk rows")
      }
    }
    // the repeated uris kept their last rows
    val (_, _, catalog, _) = onDriver.find(_._1 == "onto loaded").get._2
    assert(catalog.exists(_.contains("the second version of it")))
    assert(!catalog.exists(_.contains("a new document arrives")))
    assert(!onDriver.head._2._3.exists(_.contains("spark shuffles data")))

    def appendJobs(): Int = {
      val dir = Files.createTempDirectory("didxj").toString
      DocumentIndex.create(spark, cfg64).upsertDocuments(first).save(dir)
      jobsIn(DocumentIndex.load(spark, dir, cfg64).upsertDocuments(second).save(dir))
    }
    appendJobs() // warm-up
    assert(appendJobs() == 0)
    assert(executorSide(appendJobs()) == 4)
  }
}

/** A HashingEmbedder that throws on any chunk containing `marker`, so a
  * save whose batch carries the marker fails in the chunk write only.
  */
final class MarkerFailingEmbedder(marker: String) extends Embedder {
  private val inner = new HashingEmbedder(64)
  def dim: Int = inner.dim
  def embed(tokens: Seq[String]): Array[Float] = {
    if (tokens.mkString.contains(marker))
      throw new IllegalStateException(s"embedder refused $marker")
    inner.embed(tokens)
  }
}
