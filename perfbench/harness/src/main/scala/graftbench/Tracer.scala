package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the harness's calls into graft, plus Spark-engine records
  * from listeners the harness registers while tracing is on.
  *
  * A span is (id, parent, name, start ms, end ms); its id rides on the
  * calling thread as a Spark local property, so every job the call
  * submits names the innermost open span. Times are epoch milliseconds
  * with sub-millisecond resolution, comparable with listener event times.
  * Everything stays in memory until [[toJson]]; aggregation into layer
  * metrics happens in run.py.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  @volatile private var on = false
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  private def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  private val nextId = new AtomicInteger()
  private val spans = new ConcurrentLinkedQueue[Seq[Any]]()
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)

  // listener state: touched on the listener-bus thread, read after quiescence
  private val jobs = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.LinkedHashMap.empty[Int, Array[Double]]
  private val queries = mutable.ArrayBuffer.empty[Seq[Any]]
  @volatile private var lastEventNs = System.nanoTime()

  // one record per on-period: label, start ms, end ms, codegen classes,
  // estimated codegen ms, driver GC ms
  private val periods = mutable.ArrayBuffer.empty[Seq[Any]]
  private var label = ""
  private var onSince = 0.0
  private var codegenAtOn = 0L
  private var gcAtOn = 0L

  private def gcTotal: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  // stage array slots: tasks, run ms, cpu ns, gc ms, shuffle write B,
  // shuffle read B, spill B, result B, scheduler delay ms
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      lastEventNs = System.nanoTime()
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
        .map(_.toInt).getOrElse(0)
      jobs(e.jobId) = mutable.Map("id" -> e.jobId, "span" -> span, "start" -> e.time,
        "end" -> e.time, "stages" -> e.stageIds)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      lastEventNs = System.nanoTime()
      jobs.get(e.jobId).foreach(_("end") = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      lastEventNs = System.nanoTime()
      stages.getOrElseUpdate(e.stageInfo.stageId, new Array[Double](9))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      lastEventNs = System.nanoTime()
      val a = stages.getOrElseUpdate(e.stageId, new Array[Double](9))
      a(0) += 1
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        a(1) += m.executorRunTime
        a(2) += m.executorCpuTime
        a(3) += m.jvmGCTime
        a(4) += m.shuffleWriteMetrics.bytesWritten
        a(5) += m.shuffleReadMetrics.totalBytesRead
        a(6) += m.memoryBytesSpilled + m.diskBytesSpilled
        a(7) += m.resultSize
        // the Spark UI's scheduler delay
        val gettingResult =
          if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        a(8) += math.max(0L, (info.finishTime - info.launchTime) - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      lastEventNs = System.nanoTime()
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      val start = ph.get("analysis").map(_.startTimeMs.toDouble)
        .orElse(ph.values.map(_.startTimeMs.toDouble).reduceOption(_ min _)).getOrElse(0.0)
      Tracer.this.synchronized {
        queries += Seq(funcName, start, ms("analysis"), ms("optimization"), ms("planning"),
          durationNs / 1e6)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Turn recording on for a period named `what`: registers the
    * listeners. Called from one thread.
    */
  def start(what: String): Unit = {
    if (!on) {
      label = what
      sc.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
      codegenAtOn = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      gcAtOn = gcTotal
      onSince = nowMs
      on = true
    }
  }

  /** Turn recording off: unregisters the listeners once their queues drain. */
  def stop(): Unit = {
    if (on) {
      on = false
      val h = CodegenMetrics.METRIC_COMPILATION_TIME
      val dc = h.getCount - codegenAtOn
      // the histogram keeps no sum; estimate the compile time from its mean
      periods += Seq(label, onSince, nowMs, dc, dc * h.getSnapshot.getMean, gcTotal - gcAtOn)
      quiesce()
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
  }

  /** Wait until the listener bus has been quiet for 300 ms (at most 10 s). */
  private def quiesce(): Unit = {
    lastEventNs = System.nanoTime()
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() - lastEventNs < 300000000L && System.nanoTime() < deadline)
      Thread.sleep(50)
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId.incrementAndGet()
      val outer = stack.get
      val prev = sc.getLocalProperty(Tracer.Prop)
      stack.set(id :: outer)
      sc.setLocalProperty(Tracer.Prop, id.toString)
      val t0 = nowMs
      try body
      finally {
        val t1 = nowMs
        sc.setLocalProperty(Tracer.Prop, prev)
        stack.set(outer)
        spans.add(Seq(id, outer.headOption.getOrElse(0), name, t0, t1))
      }
    }

  def toJson: Map[String, Any] = synchronized {
    Map(
      "spans" -> spans.asScala.toSeq,
      "jobs" -> jobs.values.map(_.toMap).toSeq,
      "stages" -> stages.map { case (id, a) =>
        Map("id" -> id, "job" -> stageJob.getOrElse(id, -1)) ++
          Seq("tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_write_b", "shuffle_read_b",
            "spill_b", "result_b", "delay_ms").zip(a).toMap
      }.toSeq,
      "queries" -> queries.toSeq,
      "periods" -> periods.toSeq)
  }
}

object Tracer {
  val Prop = "graftbench.span"
}
