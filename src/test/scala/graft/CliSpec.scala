package graft

import java.nio.file.Files

class CliSpec extends SparkSpecBase {

  test("create → add → stats → remove lifecycle (vectra-cli surface)") {
    import spark.implicits._
    val corpus = Files.createTempDirectory("cli_corpus")
    Files.writeString(corpus.resolve("a.md"), "# one\n\nspark joins explained here")
    Files.writeString(corpus.resolve("b.txt"), "vectors and cosine similarity")
    val index = Files.createTempDirectory("cli_idx").resolve("idx").toString

    Cli.run(spark, List("create", index))
    Cli.run(spark, List("add", index, "--uri", corpus.toString))
    val idx1 = graft.index.DocumentIndex.load(spark, index)
    assert(idx1.catalog.count() == 2)

    val bUri = idx1.catalog.filter($"uri".endsWith("b.txt"))
      .select("uri").as[String].head()
    // query formats execute end-to-end (output goes to stdout)
    Cli.run(spark, List("query", index, "spark joins", "--format", "stats"))
    Cli.run(spark, List("query", index, "spark joins", "--format", "chunks"))
    Cli.run(spark, List("query", index, "spark joins",
      "--format", "sections", "--tokens", "50"))

    Cli.run(spark, List("remove", index, "--uri", bUri))
    val idx2 = graft.index.DocumentIndex.load(spark, index)
    assert(idx2.catalog.count() == 1)
    assert(idx2.catalogStats.collect().head.getAs[Long]("documents") == 1L)
  }

  test("add over a directory without a committed manifest creates the index") {
    val corpus = Files.createTempDirectory("cli_corpus_stray")
    Files.writeString(corpus.resolve("a.txt"), "spark joins explained here")
    val index = Files.createTempDirectory("cli_stray").resolve("idx")
    // a leftover catalog directory and no chunks: what a save that died
    // before its commit, or an older layout, leaves behind
    Files.createDirectories(index.resolve("catalog"))
    Files.write(index.resolve("catalog").resolve("_SUCCESS"), Array.emptyByteArray)
    assert(!graft.index.VectorIndex.isIndexCreated(spark, index.toString))
    Cli.run(spark, List("add", index.toString, "--uri", corpus.toString))
    assert(graft.index.VectorIndex.isIndexCreated(spark, index.toString))
    assert(graft.index.DocumentIndex.load(spark, index.toString).catalog.count() == 1)
  }
}
