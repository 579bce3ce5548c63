package graftbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Readers for the files gen.py writes. */
object Inputs {
  def params(dir: String): Map[String, String] = {
    val p = new java.util.Properties()
    val in = Files.newInputStream(Paths.get(dir, "params.txt"))
    try p.load(in) finally in.close()
    import scala.jdk.CollectionConverters._
    p.asScala.toMap
  }

  private def unescape(s: String): String =
    if (s.indexOf('\\') < 0) s
    else {
      val b = new StringBuilder
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '\\' && i + 1 < s.length) {
          b.append(if (s.charAt(i + 1) == 'n') '\n' else s.charAt(i + 1))
          i += 2
        } else { b.append(c); i += 1 }
      }
      b.toString
    }

  def tsv(dir: String, name: String): Array[Array[String]] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get(dir, name)).asScala.iterator
      .filter(_.nonEmpty).map(_.split("\t", -1).map(unescape)).toArray
  }

  private def buffer(dir: String, name: String): ByteBuffer =
    ByteBuffer.wrap(Files.readAllBytes(Paths.get(dir, name))).order(ByteOrder.LITTLE_ENDIAN)

  def longs(dir: String, name: String): Array[Long] = {
    val b = buffer(dir, name).asLongBuffer()
    Array.tabulate(b.remaining())(b.get)
  }

  def ints(dir: String, name: String): Array[Int] = {
    val b = buffer(dir, name).asIntBuffer()
    Array.tabulate(b.remaining())(b.get)
  }

  def bytes(dir: String, name: String): Array[Byte] = Files.readAllBytes(Paths.get(dir, name))

  def floats(dir: String, name: String, dim: Int): Array[Array[Float]] = {
    val b = buffer(dir, name).asFloatBuffer()
    Array.fill(b.remaining() / dim) { val v = new Array[Float](dim); b.get(v); v }
  }
}

/** Thread-safe accumulator for everything a run reports. Latency samples
  * are kept raw (ms) per kind; run.py turns them into metrics.
  */
final class Recorder {
  private val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val values = mutable.LinkedHashMap.empty[String, Any]
  private val errors = mutable.ArrayBuffer.empty[String]
  val attempted = new AtomicLong()
  val failed = new AtomicLong()
  val checks = new AtomicLong()

  def sample(kind: String, ms: Double): Unit = synchronized {
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
  }

  def samplesOf(kind: String): Seq[Double] = synchronized {
    samples.get(kind).map(_.toSeq).getOrElse(Nil)
  }

  def put(key: String, v: Any): Unit = synchronized { values(key) = v }

  def error(what: String): Unit = synchronized {
    if (errors.size < 20) errors += what
    System.err.println(s"[perfbench] $what")
  }

  /** One output check of one op; a failed check fails the op. */
  def check(ok: Boolean, what: => String): Boolean = {
    checks.incrementAndGet()
    if (!ok) { failed.incrementAndGet(); error(s"check failed: $what") }
    ok
  }

  def toJson: Map[String, Any] = synchronized {
    Map("samples" -> samples.map { case (k, v) => k -> v.toSeq }.toMap,
      "values" -> values.toMap, "errors" -> errors.toSeq,
      "attempted" -> attempted.get, "failed" -> failed.get, "checks" -> checks.get)
  }
}

/** What every workload gets: the session, the tracer, the recorder, the
  * input and scratch directories and the run length.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val rec: Recorder,
    val data: String, val work: String, val seconds: Double, val trace: Boolean,
    val cores: Int) {

  val params: Map[String, String] = Inputs.params(data)
  def param(k: String): Int = params(k).toInt

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** Notes in the JVM log when a phase starts, in seconds of JVM uptime. */
  def mark(phase: String): Unit = System.err.println(
    f"[perfbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f s: $phase")

  /** Builds the workload's initial state `reps` times; each build's
    * duration is a set-up sample. The last build is the one used.
    */
  def setup(reps: Int)(build: => Unit): Unit = {
    mark("setup")
    for (_ <- 1 to reps) rec.sample("setup_build", Ctx.timeMs(span("setup.build")(build)))
    mark("setup done")
  }

  /** The measured phase: one untraced block, or, when tracing, untraced
    * and traced blocks in turn so the tracing overhead can be read off
    * latencies of the same op stream.
    */
  def blocks(run: (Boolean, Double) => Unit): Unit = {
    val plan = if (trace) Seq(false, true, false, true).map(_ -> seconds / 4)
      else Seq(false -> seconds)
    for ((traced, secs) <- plan) {
      mark(if (traced) "traced block" else "block")
      if (traced) tracer.start("block") else tracer.stop()
      run(traced, secs)
    }
    tracer.stop()
    mark("blocks done")
  }

  @volatile private var warming = false

  /** Runs `body` as warm-up: ops inside it are counted and checked, but
    * their latencies go under `warmup.<kind>`, out of the metrics, and it
    * is not traced. A fresh JVM pays JIT and Spark codegen over its first
    * runs of each op.
    */
  def warmUp(body: => Unit): Unit = {
    mark("warm-up")
    tracer.stop()
    warming = true
    try body
    finally {
      warming = false
      if (trace) tracer.start("setup")
    }
  }

  /** Runs one timed op: counts it, records its latency under `kind`
    * (prefixed `traced.` inside traced blocks, `warmup.` during warm-up)
    * and returns the result and its duration; a throw counts as a failed
    * op and returns None.
    */
  def op[T](kind: String, traced: Boolean)(body: => T): (Option[T], Double) = {
    rec.attempted.incrementAndGet()
    val t0 = System.nanoTime()
    val r = try Some(span("op." + kind)(body)) catch {
      case e: Exception =>
        rec.failed.incrementAndGet()
        rec.error(s"$kind threw: $e")
        None
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (r.isDefined)
      rec.sample(if (warming) s"warmup.$kind" else if (traced) s"traced.$kind" else kind, ms)
    (r, ms)
  }

  /** Closed-loop driver for one client: runs `step` (which returns the
    * timed milliseconds it used) until the timed total reaches `secs`;
    * untimed checks inside a step do not count. A wall-clock cap of
    * four times the budget bounds a run whose checks are slow.
    */
  def closedLoop(secs: Double)(step: => Double): Unit = {
    val wallCap = System.nanoTime() + (secs * 4e9).toLong
    var used = 0.0
    while (used < secs * 1000 && System.nanoTime() < wallCap) used += step
  }
}

object Ctx {
  def timeMs(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
  }
}
