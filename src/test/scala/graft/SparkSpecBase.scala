package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite; small core
  * count keeps the test JVM snappy).
  */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.setLogLevel("ERROR")
  }

  /** `f` with `spark.sql.autoBroadcastJoinThreshold` off, restored
    * afterwards: an index instance first queried inside keeps its top-k
    * rows in executor memory, however small it is (see
    * `VectorIndex.topItems`).
    */
  protected def executorSide[T](f: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try f finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Spark jobs started while `f` runs, counted after the bus drains. */
  protected def jobsIn(f: => Any): Int = {
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    try {
      f
      ListenerBusDrain(sc)
      n.get
    } finally sc.removeSparkListener(listener)
  }
}
