package graft.index

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.CalendarInterval

import graft.{IndexFiles, SparkSpecBase}

/** `IndexStore.writeAll`'s driver writer: a part whose rows are already
  * on the driver is written in the calling thread as the one parquet file
  * Spark's writer would make of it, with no job.
  */
class IndexStoreSpec extends SparkSpecBase {

  private val schema = StructType(Seq(
    StructField("s", StringType, nullable = false),
    StructField("i", IntegerType, nullable = false),
    StructField("l", LongType),
    StructField("d", DoubleType),
    StructField("v", ArrayType(FloatType, containsNull = false)),
    StructField("ts", TimestampType),
    StructField("day", DateType),
    StructField("dec", DecimalType(12, 3)),
    StructField("m", MapType(StringType, IntegerType)),
    StructField("st", StructType(Seq(StructField("a", StringType), StructField("b", LongType))))))

  /** A local relation of every column type, nulls where a column allows them. */
  private def frame(n: Int): DataFrame = spark.createDataFrame((0 until n).map { i =>
    Row(s"row-$i", i, if (i % 3 == 0) null else i * 1000000007L, if (i % 4 == 0) null else i / 7.0,
      Seq.tabulate(i % 5)(j => (i * j).toFloat / 3),
      if (i % 6 == 0) null else java.sql.Timestamp.valueOf(f"2024-01-${i % 28 + 1}%02d 10:11:12.345678"),
      if (i % 7 == 0) null else java.sql.Date.valueOf(f"2023-0${i % 9 + 1}-15"),
      if (i % 8 == 0) null else new java.math.BigDecimal(s"$i.125"),
      if (i % 2 == 0) Map(s"k$i" -> i) else null,
      if (i % 5 == 0) null else Row(s"a$i", i.toLong))
  }.asJava, schema)

  private def newDir(prefix: String): String =
    Paths.get(Files.createTempDirectory(prefix).toString, "part").toString

  private def entries(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).iterator().asScala.map(_.getFileName.toString).toSeq.sorted

  private def parquetFile(dir: String): Path = {
    val files = Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    assert(files.size == 1, files)
    files.head
  }

  /** The footer of the one parquet file in `dir`, minus what differs per
    * write: its parquet schema, key-value metadata, row count and, per
    * column chunk, its path, codec and encodings.
    */
  private def footer(dir: String) = {
    val p = new org.apache.hadoop.fs.Path(parquetFile(dir).toUri)
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, spark.sparkContext.hadoopConfiguration))
    try {
      val f = reader.getFooter
      (f.getFileMetaData.getSchema, f.getFileMetaData.getKeyValueMetaData.asScala.toMap,
        f.getBlocks.asScala.map(_.getRowCount).sum,
        f.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala.map(c =>
          (c.getPath.toDotString, c.getCodec, c.getEncodings.asScala.toSet))))
    } finally reader.close()
  }

  test("a driver-held part is the file Spark writes: footer, rows and one file, with no job") {
    val df = frame(50)
    val mine = newDir("istore")
    val jobs = jobsIn(IndexStore.writeAll(Seq(df -> mine)))
    assert(jobs == 0)
    val bySpark = newDir("istore-spark")
    df.coalesce(1).write.parquet(bySpark)

    val (schemaM, kvM, rowsM, colsM) = footer(mine)
    val (schemaS, kvS, rowsS, colsS) = footer(bySpark)
    assert(schemaM == schemaS)
    assert(kvM.keySet.contains("org.apache.spark.version"))
    assert(kvM.keySet.contains("org.apache.spark.sql.parquet.row.metadata"))
    assert(kvM == kvS)
    assert(rowsM == 50 && rowsS == 50)
    assert(colsM == colsS)
    assert(Files.size(parquetFile(mine)) == Files.size(parquetFile(bySpark)))

    // one file, named as Spark names it, and nothing else: no checksum,
    // no _temporary, no _SUCCESS
    val names = entries(mine)
    assert(names.size == 1, names)
    assert(names.head.matches("part-00000-[0-9a-f-]{36}-c000\\.snappy\\.parquet"), names)

    val back = spark.read.parquet(mine).collect().toSeq
    assert(back == df.collect().toSeq)
    assert(spark.read.parquet(mine).schema == spark.read.parquet(bySpark).schema)
  }

  test("projections and a one-partition coalesce over a local relation stay on the driver") {
    val df = frame(20).coalesce(1)
      .withColumn("n", length(col("s")) + col("i"))
      .select(col("n"), col("s"), col("v"), lit(7L).as("_graft_version"))
    val dir = newDir("istorep")
    assert(jobsIn(IndexStore.writeAll(Seq(df -> dir))) == 0)
    assert(spark.read.parquet(dir).collect().toSeq == df.collect().toSeq)
    // a part that reads files, or needs a job, takes Spark's writer
    val lazyDir = newDir("istorel")
    assert(jobsIn(IndexStore.writeAll(Seq(spark.read.parquet(dir) -> lazyDir))) > 0)
    assert(spark.read.parquet(lazyDir).collect().toSet == df.collect().toSet)
  }

  test("a local part Spark's writer would split or refuse is left to Spark's writer") {
    // more rows than spark.sql.files.maxRecordsPerFile: Spark's file split
    val key = "spark.sql.files.maxRecordsPerFile"
    spark.conf.set(key, "4")
    val split = newDir("istores")
    try assert(jobsIn(IndexStore.writeAll(Seq(frame(10).coalesce(1) -> split))) > 0)
    finally spark.conf.unset(key)
    assert(IndexStore.writeAll(Seq(frame(10).coalesce(1) -> newDir("istores1"))) == Seq(1))
    assert(entries(split).count(_.endsWith(".parquet")) == 3)
    // a repeated column name: Spark's named error, and no directory
    val twice = newDir("istored")
    val e = intercept[org.apache.spark.sql.AnalysisException](
      IndexStore.writeAll(Seq(frame(2).select(col("s"), col("i").as("s")) -> twice)))
    assert(e.getCondition == "COLUMN_ALREADY_EXISTS", e)
    assert(!Files.exists(Paths.get(twice)))
    // a type the parquet source rejects: Spark's named error, and no directory
    val interval = newDir("istorei")
    val intervals = spark.createDataFrame(java.util.List.of(Row(new CalendarInterval(1, 2, 3L))),
      StructType(Seq(StructField("span", CalendarIntervalType))))
    val u = intercept[org.apache.spark.sql.AnalysisException](
      IndexStore.writeAll(Seq(intervals -> interval)))
    assert(u.getCondition == "UNSUPPORTED_DATA_TYPE_FOR_DATASOURCE", u)
    assert(!Files.exists(Paths.get(interval)))
  }

  test("an empty driver-held part writes one zero-row file and loads as zero rows") {
    val root = Files.createTempDirectory("istoree").toString
    val empty = frame(0)
    assert(jobsIn(IndexStore.save(root, Seq("items" -> empty))) == 0)
    val dirs = IndexFiles.committedDirs(root, "items")
    assert(dirs.size == 1)
    assert(entries(dirs.head).size == 1)
    assert(footer(dirs.head)._3 == 0)
    val bySpark = newDir("istoree-spark")
    empty.write.parquet(bySpark)
    assert(footer(dirs.head)._1 == footer(bySpark)._1)
    val loaded = IndexStore.load(spark, root, Seq("items"), "s")._2.head
    assert(loaded.count() == 0)
    assert(loaded.schema == spark.read.schema(empty.schema).parquet(bySpark).schema)
    val manifest = new String(Files.readAllBytes(Paths.get(root, "_index.json")))
    assert(manifest.contains("\"files\":1"), manifest)
  }

  test("a part directory that exists already raises and leaves no part behind") {
    val taken = newDir("istorex")
    Files.createDirectories(Paths.get(taken))
    val other = newDir("istorex-other")
    val e = intercept[java.nio.file.FileAlreadyExistsException](
      IndexStore.writeAll(Seq(frame(3) -> other, frame(3) -> taken)))
    assert(e.getMessage.contains("part"), e)
    assert(!Files.exists(Paths.get(other)))
  }

  test("a Spark-written part that fails next to a driver-written one deletes both and commits nothing") {
    val root = Files.createTempDirectory("istoref").toString
    IndexStore.save(root, Seq("a" -> frame(4), "b" -> frame(4)))
    val manifest = Files.readAllBytes(Paths.get(root, "_index.json"))
    val before = IndexFiles.parquetFiles(root).map(_.toString).sorted
    val refuse = udf((i: Long) => if (i >= 0) throw new IllegalStateException("refused row") else i)
    val failing = spark.range(8).select(refuse(col("id")).as("id"))
    val e = intercept[Exception](IndexStore.save(root, Seq("a" -> frame(6), "b" -> failing)))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("refused row")), e)
    assert(java.util.Arrays.equals(Files.readAllBytes(Paths.get(root, "_index.json")), manifest))
    IndexFiles.assertOnlyCommitted(root)
    assert(IndexFiles.parquetFiles(root).map(_.toString).sorted == before)
    assert(IndexStore.load(spark, root, Seq("a"), "s")._2.head.count() == 4)
  }
}
