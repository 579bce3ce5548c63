package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.index.DocumentIndex
import graft.sources.FileFetcher
import graft.text.SplitterConfig

/** Command-line surface matching the reference's vectra-cli
  * (reference: vectra-cli.py:11-157 — create / delete / add / remove /
  * stats / query with document-count, chunk-count, section-count,
  * tokens and format options). Zero-egress twist: `add` ingests local
  * files/directories (recursive) instead of web pages; everything else
  * is 1:1. The "index folder" is a parquet directory.
  *
  * Usage:
  *   create <index>
  *   delete <index>
  *   add    <index> --uri <file-or-dir>... [--chunk-size N]
  *   remove <index> --uri <uri>...
  *   stats  <index>
  *   query  <index> "<text>" [-dc N] [-cc N] [-sc N] [-t N]
  *          [--format sections|stats|chunks]
  */
object Cli {

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { usage(); sys.exit(2) }
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER",
        s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args.toList) finally spark.stop()
  }

  private def usage(): Unit =
    System.err.println("usage: graft.Cli (create|delete|add|remove|stats|query) <index> [options]")

  private def opt(rest: List[String], name: String): Option[String] =
    rest.dropWhile(a => a != name && a != shortOf(name)) match {
      case _ :: v :: _ => Some(v)
      case _ => None
    }

  private def optAll(rest: List[String], name: String): Seq[String] =
    rest.dropWhile(a => a != name && a != shortOf(name)) match {
      case _ :: tail => tail.takeWhile(!_.startsWith("-"))
      case _ => Nil
    }

  private def shortOf(name: String): String = name match {
    case "--uri" => "-u"
    case "--chunk-size" => "-cs"
    case "--document-count" => "-dc"
    case "--chunk-count" => "-cc"
    case "--section-count" => "-sc"
    case "--tokens" => "-t"
    case "--format" => "-f"
    case other => other
  }

  def run(spark: SparkSession, args: List[String]): Unit = args match {
    case "create" :: index :: _ =>
      println(s"Creating index at $index")
      DocumentIndex.create(spark).save(index)

    case "delete" :: index :: _ =>
      println(s"Deleting index at $index")
      graft.index.VectorIndex.deleteIndex(spark, index)

    case "add" :: index :: rest =>
      val chunkSize = opt(rest, "--chunk-size").map(_.toInt).getOrElse(512)
      val uris = optAll(rest, "--uri")
      require(uris.nonEmpty, "add requires --uri <file-or-dir>...")
      val cfg = SplitterConfig(keepSeparators = true, chunkSize = chunkSize, chunkOverlap = 0)
      // html → markdown first (reference: web_fetcher html_to_markdown)
      // so the md separator table chunks on headings; doc_type rides
      // along so the splitter is chosen per document.
      val docs = uris.map(u => FileFetcher.fetchDir(spark, u)).reduce(_ unionByName _)
        .transform(FileFetcher.htmlAsMarkdown)
        .select(col("uri"), col("text"), col("doc_type"))
      val idx = loadOrCreate(spark, index, cfg).upsertDocuments(docs)
      idx.save(index)
      println(s"Added ${docs.count()} documents")

    case "remove" :: index :: rest =>
      val uris = optAll(rest, "--uri")
      require(uris.nonEmpty, "remove requires --uri <uri>...")
      val idx = uris.foldLeft(DocumentIndex.load(spark, index))(_ deleteDocument _)
      idx.save(index)
      println(s"Removed ${uris.length} documents")

    case "stats" :: index :: _ =>
      DocumentIndex.load(spark, index).catalogStats.show(truncate = false)

    case "query" :: index :: text :: rest =>
      val dc = opt(rest, "--document-count").map(_.toInt).getOrElse(10)
      val cc = opt(rest, "--chunk-count").map(_.toInt).getOrElse(50)
      val sc = opt(rest, "--section-count").map(_.toInt).getOrElse(1)
      val tk = opt(rest, "--tokens").map(_.toInt).getOrElse(2000)
      val fmt = opt(rest, "--format").getOrElse("sections")
      val idx = DocumentIndex.load(spark, index)
      fmt match {
        case "stats" =>
          idx.queryDocuments(text, dc, cc).show(dc, truncate = false)
        case "chunks" =>
          val qv = idx.embedder.embed(idx.splitter.tokenizer.encode(text))
          idx.chunks.queryItems(qv.map(_.toDouble).toIndexedSeq, cc)
            .select("document_id", "uri", "start_pos", "end_pos", "score")
            .show(cc, truncate = false)
        case _ =>
          idx.renderSections(text, tk, sc, dc, cc)
            .orderBy(desc("score"))
            .show(dc * sc, truncate = 120)
      }

    case _ => usage(); sys.exit(2)
  }

  /** An index exists when a committed manifest does (checked through
    * the Hadoop FileSystem, as the index persistence paths are — a
    * java.io.File would misreport on HDFS/object-store locations); a
    * directory left without one, say by a save that died, is created
    * anew.
    */
  private def loadOrCreate(spark: SparkSession, index: String,
      cfg: SplitterConfig): DocumentIndex =
    if (graft.index.VectorIndex.isIndexCreated(spark, index))
      DocumentIndex.load(spark, index, cfg)
    else DocumentIndex.create(spark, cfg)
}
