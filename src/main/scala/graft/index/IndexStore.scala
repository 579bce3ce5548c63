package graft.index

import java.nio.charset.StandardCharsets.UTF_8
import java.util.{Locale, UUID}

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.Job
import org.apache.parquet.hadoop.{ParquetOutputFormat, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.{LocalOutputFile, OutputFile}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression,
  InterpretedMutableProjection, Unevaluable}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project, Repartition}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOptions,
  ParquetUtils, ParquetWriteSupport}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, MapType, StringType, StructField,
  StructType, VariantType}

/** The saved form of an index, shared by [[VectorIndex]] and
  * [[DocumentIndex]]: versioned, append-only parquet directories and one
  * manifest that names the committed ones.
  *
  * {{{
  * <root>/_index.json              the committed manifest
  * <root>/<component>/v<N>-<id>/   the part files a save wrote at version N
  * }}}
  *
  * Per component (`catalog` and `chunks`, or a VectorIndex's `items`)
  * the manifest holds the schema and the directories in version order: a
  * base, written whole, then the deltas appended since. It also holds the
  * tombstones, the keys deleted at each version. A delta row carries its
  * version in [[VersionCol]]; a base row has none, so it is older than
  * every delta. A row is live unless a later version holds a row or a
  * tombstone with its key, and [[load]] hides the others with one lazy
  * anti-join, so a loaded component exposes exactly the live rows and the
  * columns it was saved with.
  *
  * [[save]] commits in three steps: it writes new directories under names
  * no manifest uses yet, writes the new manifest under a temporary name,
  * and renames that over `_index.json`. The rename is the commit point; it
  * replaces the file atomically on a local file system and on HDFS. Until
  * it happens a reader sees the previous version whole, after it the new
  * one, and the directories of a save that failed or died before it are
  * named by no manifest.
  *
  * So a directory needs no commit protocol of its own, and one of two
  * writers fills it ([[writeAll]]): a component whose rows are already on
  * the driver (a small batch's local relation, as an append writes it)
  * becomes one parquet file written in the calling thread, with no Spark
  * job; any other goes through Spark's file writer.
  */
private[graft] object IndexStore {
  private val ManifestName = "_index.json"
  private[index] val VersionCol = "_graft_version"

  final case class Part(dir: String, version: Long, files: Int)

  final case class Component(name: String, schema: StructType, parts: Seq[Part]) {
    def baseFiles: Int = parts.head.files
    def deltaFiles: Int = parts.tail.map(_.files).sum
  }

  final case class Manifest(version: Long, components: Seq[Component],
      deleted: Seq[(String, Long)]) {
    def component(name: String): Component = components.find(_.name == name).get
    /** Whether any component holds more than its base. */
    def hasDeltas: Boolean = deleted.nonEmpty || components.exists(_.parts.size > 1)

    def json: String = {
      import org.json4s.JsonDSL._
      import org.json4s.jackson.JsonMethods
      JsonMethods.compact(JsonMethods.render(
        ("version" -> version) ~
        ("components" -> components.map { c =>
          ("name" -> c.name) ~ ("schema" -> JsonMethods.parse(c.schema.json)) ~
          ("parts" -> c.parts.map(p => ("dir" -> p.dir) ~ ("version" -> p.version) ~ ("files" -> p.files)))
        }) ~
        ("deleted" -> deleted.map { case (k, v) => ("key" -> k) ~ ("version" -> v) })))
    }
  }

  private def parse(text: String): Manifest = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val formats: Formats = DefaultFormats
    val j = JsonMethods.parse(text)
    Manifest((j \ "version").extract[Long],
      (j \ "components").children.map { c =>
        Component((c \ "name").extract[String],
          DataType.fromJson(JsonMethods.compact(c \ "schema")).asInstanceOf[StructType],
          (c \ "parts").children.map(p =>
            Part((p \ "dir").extract[String], (p \ "version").extract[Long], (p \ "files").extract[Int])))
      },
      (j \ "deleted").children.map(d => ((d \ "key").extract[String], (d \ "version").extract[Long])))
  }

  /** Where a loaded index came from: its qualified root and the manifest
    * it was loaded at.
    */
  final case class Origin(root: String, manifest: Manifest)

  /** What changed since an index was loaded: the rows to append, per
    * component, and the keys deleted.
    */
  final case class Changes(rows: Seq[(String, DataFrame)], deleted: Seq[String]) {
    def isEmpty: Boolean = rows.isEmpty && deleted.isEmpty
  }

  /** Called with (root, step) at each commit step: `data` (the new
    * directories are written), `manifest` (so is the new manifest, under
    * its temporary name), `rename` (just before the commit rename) and
    * `committed` (just after it). Specs set it to throw there, standing in
    * for a crash.
    */
  @volatile private[graft] var commitHook: (String, String) => Unit = (_, _) => ()

  private def qualified(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    (fs, fs.makeQualified(p))
  }

  private def read(fs: FileSystem, root: Path): Option[Manifest] =
    try {
      val in = fs.open(new Path(root, ManifestName))
      try Some(parse(new String(in.readAllBytes(), UTF_8))) finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  /** Whether `path` holds a committed index. */
  def exists(spark: SparkSession, path: String): Boolean = {
    val (fs, root) = qualified(spark, path)
    fs.exists(new Path(root, ManifestName))
  }

  /** The live rows of components `names` of the index committed at
    * `path`, in that order, and where they came from. Runs no Spark job:
    * the file lists and schemas come from the manifest. An index that is
    * only a base loads as a plain parquet scan of each component's one
    * directory; otherwise every component hides its rows superseded
    * through `keyCol`, whose later versions are read from the first
    * component's deltas and the tombstones, and is coalesced to its base
    * file count. A path without a committed
    * manifest, or whose manifest lacks a component, raises
    * [[IndexNotFoundException]].
    */
  def load(spark: SparkSession, path: String, names: Seq[String],
      keyCol: String): (Origin, Seq[DataFrame]) = {
    val (fs, root) = qualified(spark, path)
    val saved = read(fs, root).getOrElse(
      throw new IndexNotFoundException(path, s"no committed $ManifestName"))
    val m = saved.copy(components = names.map(n => saved.components.find(_.name == n)
      .getOrElse(throw new IndexNotFoundException(path, s"its manifest has no $n"))))
    def scan(c: Component, parts: Seq[Part], versioned: Boolean): DataFrame = {
      val dirs = parts.map(p => new Path(new Path(root, c.name), p.dir).toString)
      if (versioned) spark.read.schema(c.schema.add(VersionCol, LongType)).parquet(dirs: _*)
      else spark.read.schema(c.schema).parquet(dirs: _*)
    }
    val frames = if (!m.hasDeltas) m.components.map(c => scan(c, c.parts, versioned = false)) else {
      val raw = m.components.map(c => scan(c, c.parts, versioned = true))
      val key = m.components.head
      val keyType = key.schema(keyCol).dataType
      val tombstones = Option.when(m.deleted.nonEmpty)(spark.createDataFrame(
          java.util.Arrays.asList(m.deleted.map { case (k, v) => Row(k, v) }: _*),
          StructType(Seq(StructField("_key", StringType), StructField("_kv", LongType))))
        .select(col("_key").cast(keyType).as("_key"), col("_kv")))
      // only the deltas hold later versions; the keys are a few small
      // files, read as one broadcast task
      val appended = Option.when(key.parts.size > 1)(
        scan(key, key.parts.tail, versioned = true)
          .select(col(keyCol).as("_key"), col(VersionCol).as("_kv")))
      val keys = (appended ++ tombstones).reduce(_ unionByName _).coalesce(1)
      // each small delta file would be a read split of its own: at most
      // as many partitions as the base's files keeps a delta-bearing
      // component's tasks per scan where the base alone puts them
      raw.zip(m.components).map { case (df, c) =>
        df.join(broadcast(keys),
            col(keyCol) === col("_key") && col("_kv") > coalesce(col(VersionCol), lit(0L)), "left_anti")
          .drop(VersionCol)
          .coalesce(math.max(1, c.baseFiles))
      }
    }
    (Origin(root.toString, m), frames)
  }

  /** Commit `full` (component name → all its rows) at `path`.
    *
    * When the index was loaded from `path` (`origin`) and that version is
    * still the committed one, only `changes` is written: each changed
    * component's new rows as one delta directory, tagged with the new
    * version, and the deleted keys as tombstones in the manifest; nothing
    * changed writes nothing. Every other case writes every component
    * whole as a new base: a new index, another path, a head that moved on
    * since the load, a change that alters a saved column's type, and a
    * save whose delta files would outnumber the base files, or whose
    * component would be read from more directories than Spark lists
    * without a job (`spark.sql.sources.parallelPartitionDiscovery.threshold`)
    * — so a rewrite is also the compaction. A rewrite deletes the
    * directories the version before it named once it has committed.
    *
    * The written directories are new, so a save over the path an index is
    * lazily read from never touches its input. The components are written
    * at once ([[writeAll]]: a driver-held one in the calling thread, the
    * others by Spark's writer); if a write fails, nothing is committed, the
    * new directories are deleted and the failure is rethrown. A save
    * commits only if the version it started from is still the committed
    * one when it renames its manifest; otherwise it raises
    * [[IndexCommitConflictException]] and leaves the other save's version
    * in place.
    */
  def save(path: String, full: Seq[(String, DataFrame)], origin: Option[Origin] = None,
      changes: => Changes = Changes(Nil, Nil)): Unit = {
    require(full.nonEmpty, "IndexStore.save: no components")
    val spark = full.head._2.sparkSession
    val (fs, root) = qualified(spark, path)
    val head = read(fs, root)
    val base = head.filter(h => origin.exists(o => o.root == root.toString && o.manifest.version == h.version))
    val tag = s"-${UUID.randomUUID.toString.take(8)}"
    base.map(h => (h, changes)) match {
      case Some((_, c)) if c.isEmpty => ()
      case Some((h, c)) if appendable(spark, h, full, c) =>
        val v = h.version + 1
        val dir = f"v$v%08d$tag"
        val schemas = c.rows.map { case (name, _) =>
          name -> extended(h.component(name).schema, full.toMap.apply(name).schema)
        }.toMap
        val dirs = write(fs, root, Some(h.version), c.rows.map { case (name, df) =>
          (aligned(df, schemas(name)).withColumn(VersionCol, lit(v)), new Path(new Path(root, name), dir))
        })
        val next = Manifest(v, h.components.map { comp =>
          dirs.get(comp.name).fold(comp) { files =>
            comp.copy(schema = schemas(comp.name), parts = comp.parts :+ Part(dir, v, files))
          }
        }, h.deleted ++ c.deleted.map(_ -> v))
        commit(fs, root, next, Some(h.version), c.rows.map(r => new Path(new Path(root, r._1), dir)), Nil)
      case _ =>
        val v = head.fold(1L)(_.version + 1)
        val dir = f"v$v%08d$tag"
        val paths = full.map { case (name, _) => new Path(new Path(root, name), dir) }
        val files = write(fs, root, head.map(_.version), full.map(_._2).zip(paths))
        val next = Manifest(v,
          full.map { case (name, df) => Component(name, df.schema, Seq(Part(dir, v, files(name)))) }, Nil)
        val superseded = head.toSeq.flatMap(_.components.flatMap { c =>
          c.parts.map(p => new Path(new Path(root, c.name), p.dir))
        })
        commit(fs, root, next, head.map(_.version), paths, superseded)
    }
  }

  /** Whether `c` can be appended to `h`: every changed component keeps
    * the saved columns' names and types (new columns may follow them), and
    * the delta files stay below the base files and the directories below
    * Spark's listing-job threshold.
    */
  private def appendable(spark: SparkSession, h: Manifest, full: Seq[(String, DataFrame)],
      c: Changes): Boolean = {
    val threshold = spark.sessionState.conf.parallelPartitionDiscoveryThreshold
    val keepsColumns = c.rows.forall { case (name, _) =>
      val saved = h.component(name).schema.fields
      val now = full.toMap.apply(name).schema.fields
      now.length >= saved.length && saved.zip(now).forall { case (s, n) =>
        s.name == n.name && DataTypeUtils.sameType(s.dataType, n.dataType)
      }
    }
    keepsColumns &&
      h.components.map(_.deltaFiles).sum + c.rows.size <= h.components.map(_.baseFiles).sum &&
      h.components.forall(_.parts.size < threshold)
  }

  /** `saved` followed by the columns of `now` it lacks. */
  private def extended(saved: StructType, now: StructType): StructType =
    StructType(saved.fields ++ now.fields.drop(saved.length).map(_.copy(nullable = true)))

  /** `df` with exactly `schema`'s columns, in its order: a column `df`
    * lacks is null.
    */
  private def aligned(df: DataFrame, schema: StructType): DataFrame = {
    val have = df.columns.toSet
    df.select(schema.fields.toSeq.map { f =>
      (if (have(f.name)) col(f.name) else lit(null)).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** Write each (frame, dir) at once ([[writeAll]]) and give each dir's
    * part-file count, by component name: 1 for a frame written on the
    * driver, known without listing it. A failure while the committed
    * version is no longer `from` is that save's conflict.
    */
  private def write(fs: FileSystem, root: Path, from: Option[Long],
      parts: Seq[(DataFrame, Path)]): Map[String, Int] = {
    val files = try if (parts.isEmpty) Nil else writeAll(parts.map { case (df, p) => df -> p.toString })
    catch {
      case NonFatal(e) if read(fs, root).map(_.version) != from =>
        throw new IndexCommitConflictException(root.toString, e)
    }
    parts.map(_._2.getParent.getName).zip(files).toMap
  }

  /** One lock for every commit in this JVM: the check that the version a
    * save started from is still committed, and its rename, are one step.
    */
  private val commitLock = new Object

  private def commit(fs: FileSystem, root: Path, next: Manifest, expect: Option[Long],
      written: Seq[Path], superseded: Seq[Path]): Unit = {
    val tmp = new Path(root, s".$ManifestName.${UUID.randomUUID}.tmp")
    var committed = false
    try {
      commitHook(root.toString, "data")
      put(fs, tmp, next.json.getBytes(UTF_8))
      commitHook(root.toString, "manifest")
      commitLock.synchronized {
        if (read(fs, root).map(_.version) != expect)
          throw new IndexCommitConflictException(root.toString, null)
        commitHook(root.toString, "rename")
        replace(fs, tmp, new Path(root, ManifestName))
        committed = true
      }
    } finally if (!committed) {
      fs.delete(tmp, false)
      written.foreach(fs.delete(_, true))
    }
    commitHook(root.toString, "committed")
    // best effort: a version no manifest names is never read
    superseded.foreach(p => try fs.delete(p, true) catch { case NonFatal(_) => })
  }

  /** Write `bytes` to a new file. A local file is written through
    * java.nio: Hadoop's local file system would add a checksum file and
    * fork a `chmod` for each of the two.
    */
  private def put(fs: FileSystem, p: Path, bytes: Array[Byte]): Unit =
    if (fs.getScheme == "file") {
      java.nio.file.Files.write(java.nio.file.Paths.get(p.toUri), bytes,
        java.nio.file.StandardOpenOption.CREATE_NEW)
    } else {
      val out = fs.create(p, false)
      try out.write(bytes) finally out.close()
    }

  /** Rename `src` over `dst` atomically: rename(2) on a local file system,
    * HDFS's overwriting rename elsewhere.
    */
  private def replace(fs: FileSystem, src: Path, dst: Path): Unit =
    if (fs.getScheme == "file") {
      java.nio.file.Files.move(java.nio.file.Paths.get(src.toUri), java.nio.file.Paths.get(dst.toUri),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
    } else {
      org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, fs.getConf)
        .rename(src, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }

  /** Write each part's frame into its own new directory, all at once,
    * all or nothing, and give each directory's part-file count.
    *
    * Each part takes one of two writers:
    *  - a part whose rows are already on the driver ([[heldRows]]) is
    *    written first, in the calling thread, as one parquet file
    *    ([[writeLocal]]): no Spark job and no commit protocol;
    *  - every other part goes through Spark's writer, each but the last
    *    on its own thread, which carries the caller's local properties
    *    (job group, scheduler pool) and active session, the last on the
    *    caller's thread — so the parts' planning, pre-jobs and commits
    *    overlap instead of queueing.
    *
    * A part directory that exists already is an error on either writer.
    * No `_SUCCESS` marker is written: the manifest is what marks a
    * version done. If any write fails, Spark's straggling tasks are
    * awaited, every part's directory is deleted, and the first failure in
    * part order is rethrown with the others suppressed.
    */
  private[index] def writeAll(parts: Seq[(DataFrame, String)]): Seq[Int] = {
    require(parts.nonEmpty, "writeAll: no parts")
    val spark = parts.head._1.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val sc = spark.sparkContext
    val tag = s"graft-write-${UUID.randomUUID}"
    def viaSpark(part: (DataFrame, String)): Int = {
      sc.addJobTag(tag)
      try part._1.write.mode(SaveMode.ErrorIfExists)
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .parquet(part._2)
      finally sc.removeJobTag(tag)
      val dir = new Path(part._2)
      dir.getFileSystem(sc.hadoopConfiguration).listStatus(dir).count(_.getPath.getName.endsWith(".parquet"))
    }
    def outcome(body: => Int): Either[Throwable, Int] =
      try Right(body) catch {
        case e: java.util.concurrent.ExecutionException => Left(e.getCause)
        case t: Throwable => Left(t)
      }
    val held = parts.map { case (df, _) => heldRows(df) }
    val (onDriver, onSpark) = parts.indices.partition(held(_).isDefined)
    val extra = onSpark.dropRight(1).map { i =>
      i -> SQLExecution.withThreadLocalCaptured(spark, writers)(viaSpark(parts(i)))
    }
    val here = onDriver.map(i => i -> outcome(writeLocal(spark, held(i).get, parts(i)._2))) ++
      onSpark.lastOption.map(i => i -> outcome(viaSpark(parts(i))))
    val outcomes = (here ++ extra.map { case (i, f) => i -> outcome(f.get()) }).sortBy(_._1).map(_._2)
    val failures = outcomes.flatMap(_.left.toOption)
    if (failures.nonEmpty) {
      awaitTasks(sc, tag)
      parts.foreach { case (_, dir) =>
        val p = new Path(dir)
        p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
      }
      failures.tail.foreach(failures.head.addSuppressed)
      throw failures.head
    }
    outcomes.flatMap(_.toOption)
  }

  /** The columns and rows of `df` when they are already on the driver and
    * Spark's writer would write them as one file: its optimized plan is a
    * local relation under projections the driver can evaluate and a
    * one-partition coalesce (the shapes `ConvertToLocalRelation` folds),
    * of at most `spark.sql.files.maxRecordsPerFile` rows, with distinct
    * column names and only types Spark's parquet writer takes as they
    * are. A plan with any other leaf is turned away before it is
    * optimized. The rows are projected lazily, by Spark's interpreted
    * projection, as `ConvertToLocalRelation` does.
    */
  private def heldRows(df: DataFrame): Option[(Seq[Attribute], Iterator[InternalRow])] = {
    val qe = df.queryExecution
    if (!qe.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])) None
    else {
      val plan = qe.optimizedPlan
      val conf = df.sparkSession.sessionState.conf
      val names = plan.output.map(a => if (conf.caseSensitiveAnalysis) a.name else a.name.toLowerCase(Locale.ROOT))
      val rows = plan.collect { case r: LocalRelation => r.data.size }.sum
      val oneFile = conf.maxRecordsPerFile <= 0 || rows <= conf.maxRecordsPerFile
      if (oneFile && names.distinct.size == names.size && plan.output.forall(a => plainParquet(a.dataType)))
        localRows(plan).map(plan.output -> _)
      else None
    }
  }

  private def localRows(plan: LogicalPlan): Option[Iterator[InternalRow]] = {
    def evaluable(e: Expression) =
      !e.exists(x => x.isInstanceOf[Unevaluable] && !x.isInstanceOf[AttributeReference])
    plan match {
      case r: LocalRelation if !r.isStreaming => Some(r.data.iterator)
      case Repartition(1, false, child) => localRows(child)
      case Project(list, child) if list.forall(evaluable) => localRows(child).map { rows =>
        val project = new InterpretedMutableProjection(list, child.output)
        project.initialize(0)
        rows.map(project(_))
      }
      case _ => None
    }
  }

  private lazy val parquetFormat = new ParquetFileFormat

  /** A type Spark's parquet writer takes as it is: no variant, which it
    * may shred by the data, and none it rejects.
    */
  private def plainParquet(t: DataType): Boolean = t match {
    case _: VariantType => false
    case s: StructType => s.forall(f => plainParquet(f.dataType))
    case a: ArrayType => plainParquet(a.elementType)
    case m: MapType => plainParquet(m.keyType) && plainParquet(m.valueType)
    case _ => parquetFormat.supportDataType(t)
  }

  /** Write [[heldRows]] into the new directory `dir` as one parquet
    * file, in the calling thread, and give its file count (1). It is the
    * file Spark's writer makes of one partition: its name, and
    * Spark's `ParquetWriteSupport` configured by `ParquetUtils.prepareWrite`
    * from the session's SQL settings (codec, timestamp type, legacy
    * format, field ids) and the file-wide `parquet.*` settings of its
    * Hadoop configuration. A local directory and file are made through
    * java.nio: Hadoop's local file system would add a checksum file and
    * fork a `chmod` for each file and directory.
    */
  private def writeLocal(spark: SparkSession, held: (Seq[Attribute], Iterator[InternalRow]),
      dir: String): Int = {
    val sqlConf = spark.sessionState.conf
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    ParquetUtils.prepareWrite(sqlConf, job, DataTypeUtils.fromAttributes(held._1),
      new ParquetOptions(Map.empty[String, String], sqlConf))
    val conf = job.getConfiguration
    val codec = ParquetOutputFormat.getCompression(conf)
    val name = s"part-00000-${UUID.randomUUID}-c000${codec.getExtension}.parquet"
    val path = new Path(dir)
    val fs = path.getFileSystem(conf)
    val file = if (fs.getScheme == "file") {
      val local = java.nio.file.Paths.get(fs.makeQualified(path).toUri)
      java.nio.file.Files.createDirectories(local.getParent)
      new LocalOutputFile(java.nio.file.Files.createDirectory(local).resolve(name))
    } else {
      if (fs.exists(path)) throw new org.apache.hadoop.fs.FileAlreadyExistsException(s"$dir already exists")
      fs.mkdirs(path)
      HadoopOutputFile.fromPath(new Path(path, name), conf)
    }
    SQLConf.withExistingConf(sqlConf) {
      val writer = new RowWriter(file).withConf(conf).withCompressionCodec(codec)
        .withRowGroupSize(ParquetOutputFormat.getLongBlockSize(conf))
        .withPageSize(ParquetOutputFormat.getPageSize(conf))
        .withDictionaryPageSize(ParquetOutputFormat.getDictionaryPageSize(conf))
        .withDictionaryEncoding(ParquetOutputFormat.getEnableDictionary(conf))
        .withWriterVersion(ParquetOutputFormat.getWriterVersion(conf))
        .withValidation(ParquetOutputFormat.getValidation(conf))
        .withMaxPaddingSize(conf.getInt(ParquetOutputFormat.MAX_PADDING_BYTES, ParquetWriter.MAX_PADDING_SIZE_DEFAULT))
        .withPageWriteChecksumEnabled(ParquetOutputFormat.getPageWriteChecksumEnabled(conf))
        .withStatisticsEnabled(ParquetOutputFormat.getStatisticsEnabled(conf))
        .withBloomFilterEnabled(ParquetOutputFormat.getBloomFilterEnabled(conf))
        .build()
      try held._2.foreach(writer.write) finally writer.close()
    }
    1
  }

  private final class RowWriter(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, RowWriter](file) {
    override protected def self(): RowWriter = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }

  /** Block until no task of a job tagged `tag` runs, as the status
    * store sees it (at most a minute). The other tasks of a failed job
    * are killed asynchronously; one still starting up would create its
    * output file in a directory after [[writeAll]] deleted it.
    */
  private def awaitTasks(sc: org.apache.spark.SparkContext, tag: String): Unit = {
    sc.cancelJobsWithTag(tag)
    val status = sc.statusTracker
    def busy = status.getJobIdsForTag(tag).iterator.flatMap(status.getJobInfo).exists { j =>
      j.status == org.apache.spark.JobExecutionStatus.RUNNING ||
        j.stageIds.iterator.flatMap(status.getStageInfo).exists(_.numActiveTasks > 0)
    }
    val deadline = System.nanoTime + 60000000000L
    while (busy && System.nanoTime < deadline) Thread.sleep(10)
  }

  /** Threads for [[writeAll]]'s extra parts: one per concurrent write,
    * idle threads retire after a minute, daemon so they never hold the
    * JVM open.
    */
  private lazy val writers = java.util.concurrent.Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "graft-index-writer")
    t.setDaemon(true)
    t
  }
}

/** A load path that holds no committed index: no manifest at `path`. */
final class IndexNotFoundException(val path: String, reason: String)
    extends java.io.IOException(s"no saved index at $path: $reason")

/** A save whose starting version was no longer the committed one when it
  * came to commit: another save committed at `path` in between. Nothing of
  * this save is visible.
  */
final class IndexCommitConflictException(val path: String, cause: Throwable)
    extends java.io.IOException(
      s"index at $path changed while this save ran; it committed nothing", cause)
