package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Runs one workload in this JVM and writes everything it measured to a
  * JSON file for run.py.
  *
  * Usage: graftbench.Main --workload W --data DIR --work DIR --seconds S
  *   --trace 0|1 --cores N --out FILE
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val work = opt("work")
    val cores = opt("cores").toInt
    val trace = opt("trace") == "1"

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val rec = new Recorder
    val tracer = new Tracer(spark)
    val ctx = new Ctx(spark, tracer, rec, opt("data"), work, opt("seconds").toDouble, trace, cores)
    if (trace) tracer.start("setup")
    try workload match {
      case "rag_docs"     => RagDocs.run(ctx)
      case "serve_cdc"    => ServeCdc.run(ctx)
      case "curate_batch" => CurateBatch.run(ctx)
      case other          => throw new IllegalArgumentException(s"unknown workload $other")
    } finally tracer.stop()

    val result = Map(
      "workload" -> workload,
      "session_s" -> sessionS,
      "rss_hwm_kb" -> vmHwmKb,
      "trace" -> (if (trace) tracer.toJson else Map.empty)) ++ rec.toJson
    Files.write(Paths.get(opt("out")), Json.render(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Peak resident set of this process (Linux VmHWM), in kB. */
  private def vmHwmKb: Long = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
  }
}
