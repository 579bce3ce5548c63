package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.Assertions._

/** What a saved index holds on disk, read the way a spec can check it:
  * the directories its committed manifest (`_index.json`) names.
  */
object IndexFiles {

  private def manifest(root: String): org.json4s.JValue =
    org.json4s.jackson.JsonMethods.parse(Files.readString(Paths.get(root, "_index.json")))

  /** The directories of `component` the committed manifest at `root`
    * names, in version order (the base first).
    */
  def committedDirs(root: String, component: String): Seq[String] = {
    import org.json4s._
    implicit val formats: Formats = DefaultFormats
    (manifest(root) \ "components").children
      .filter(c => (c \ "name").extract[String] == component)
      .flatMap(c => (c \ "parts").children.map(p =>
        Paths.get(root, component, (p \ "dir").extract[String]).toString))
  }

  private def list(p: Path): Seq[Path] =
    if (Files.isDirectory(p)) Files.list(p).iterator().asScala.toSeq else Nil

  /** Every parquet file under `root`'s component directories. */
  def parquetFiles(root: String): Seq[Path] =
    list(Paths.get(root)).filter(Files.isDirectory(_)).flatMap(list).flatMap(list)
      .filter(_.getFileName.toString.endsWith(".parquet"))

  /** `root` holds the committed manifest, the component directories and,
    * in them, only directories the manifest names: nothing a failed save
    * wrote was left behind.
    */
  def assertOnlyCommitted(root: String): Unit = {
    val entries = list(Paths.get(root))
    val components = entries.filter(Files.isDirectory(_))
    assert((entries.toSet -- components).map(_.getFileName.toString) == Set("_index.json"),
      s"files at $root: ${entries.mkString(", ")}")
    components.foreach { c =>
      val named = committedDirs(root, c.getFileName.toString).toSet
      list(c).foreach(d => assert(named(d.toString), s"$d is named by no committed manifest"))
    }
  }
}
