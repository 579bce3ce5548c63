package graft

import java.nio.file.Files
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.filters.MetaFilter
import graft.index.VectorIndex
import graft.serve.LocalVectorServing

class VectorIndexSpec extends SparkSpecBase {

  private def mkIndex = {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), "a"),
      (2L, Array(0.0f, 1.0f, 0.0f), "a"),
      (3L, Array(0.0f, 0.0f, 1.0f), "b"),
      (4L, Array(0.7f, 0.7f, 0.0f), "b"))
      .toDF("id", "vec", "tag")
    VectorIndex.build(df, "id", "vec")
  }

  test("queryItems returns cosine top-k with deterministic tiebreak") {
    import spark.implicits._
    val top = mkIndex.queryItems(Seq(1.0, 0.0, 0.0), 2)
      .select("id").as[Long].collect().toSeq
    assert(top == Seq(1L, 4L)) // exact match first, then the diagonal
  }

  test("queryItems respects metadata filter") {
    import spark.implicits._
    val top = mkIndex.queryItems(Seq(1.0, 1.0, 0.0), 10, Some(MetaFilter.Eq("tag", "a")))
      .select("id").as[Long].collect().toSeq
    assert(top.toSet == Set(1L, 2L))
  }

  test("upsert is latest-wins, delete removes, stats count") {
    import spark.implicits._
    val idx = mkIndex
    val updates = Seq((1L, Array(0.0f, 0.0f, 2.0f), "z")).toDF("id", "vec", "tag")
    val up = idx.upsertItems(updates)
    assert(up.items.count() == 4)
    assert(up.getItem(1L).select("tag").as[String].head() == "z")

    val del = up.deleteItems(Seq(Tuple1(2L)).toDF("id"))
    assert(del.items.count() == 3)
    assert(del.getItem(2L).count() == 0)

    val st = del.stats.collect().head
    assert(st.getAs[Long]("items") == 3L)
    assert(st.getAs[Long]("min_dim") == 3L && st.getAs[Long]("max_dim") == 3L)
  }

  test("insertItems is strict on duplicates; metadata config projects") {
    import spark.implicits._
    val idx = mkIndex
    val fresh = Seq((9L, Array(0.2f, 0.2f, 0.2f), "c")).toDF("id", "vec", "tag")
    assert(idx.insertItems(fresh).items.count() == 5)
    val dup = Seq((1L, Array(0.2f, 0.2f, 0.2f), "c")).toDF("id", "vec", "tag")
    // the guard is lazy (in-plan raise_error): it fires on
    // materialization, wrapped by Spark's executor exception chain
    val ex = intercept[Exception](idx.insertItems(dup).items.count())
    assert(ex.getMessage != null || ex.getCause != null)

    val projected = idx.withIndexedMetadata(Nil)
    assert(projected.items.columns.toSet == Set("id", "vec", "norm"))
  }

  test("save/load parquet round-trip preserves query results") {
    import spark.implicits._
    val dir = Files.createTempDirectory("vidx").toString
    val idx = mkIndex
    idx.save(dir)
    val loaded = VectorIndex.load(spark, dir, "id", "vec")
    val a = idx.queryItems(Seq(0.5, 0.5, 0.0), 4).select("id").as[Long].collect().toSeq
    val b = loaded.queryItems(Seq(0.5, 0.5, 0.0), 4).select("id").as[Long].collect().toSeq
    assert(a == b)
  }

  test("a local index saves with no job and loads row-identical") {
    val dir = Files.createTempDirectory("vidxl").toString
    val idx = mkIndex
    assert(jobsIn(idx.save(dir)) == 0)
    val loaded = VectorIndex.load(spark, dir, "id", "vec")
    assert(loaded.items.orderBy("id").collect().toSeq == idx.items.orderBy("id").collect().toSeq)
  }

  test("top-k plan is TakeOrderedAndProject (no global sort)") {
    // parquet-backed (a LocalTableScan input takes a different AQE
    // path); this is the plan shape that must hold at scale
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val idx = VectorIndex.build(emb, "vec_id", "embedding")
    val df = idx.queryItems(Seq.fill(64)(0.1), 5)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"plan was:\n$plan")
    assert(!plan.contains("rangepartitioning"), "top-k must not global-sort")
  }

  // -- topItems: the eager top-k returns queryItems(...).collect() --

  private val Dim = 8

  /** Seeded rows over `Dim`-d float vectors with the shapes the top-k
    * must rank: exact duplicates (score ties), zero vectors (score
    * 0.0), a null vector and an explicitly null norm (null scores), a
    * NaN element (NaN score), and nullable metadata.
    */
  private def edgeRows(n: Int): Seq[(Array[Float], java.lang.Double, String,
      java.lang.Integer, java.lang.Double)] = {
    val rnd = new Random(17)
    val tags = Seq("a", "b", "c", null)
    def vec = Array.fill(Dim)(rnd.nextGaussian().toFloat)
    val shared = vec
    (0 until n).map { i =>
      val v: Array[Float] = i % 23 match {
        case 0 | 1 | 2 => shared.clone()                 // exact ties
        case 3 => new Array[Float](Dim)                   // zero norm
        case 4 => null                                    // null vector
        case 5 => val x = vec; x(3) = Float.NaN; x        // NaN element
        case _ => vec
      }
      val norm: java.lang.Double =
        if (v == null || i % 23 == 6) null
        else math.sqrt(v.map(x => x.toDouble * x).sum)
      val label: java.lang.Integer = if (i % 11 == 0) null else Int.box(i % 7)
      (v, norm, tags(i % tags.size), label, Double.box(rnd.nextDouble()))
    }
  }

  /** Indexes over `edgeRows` keyed by long and by string ids, in 4
    * partitions: saved and loaded (one parquet file per partition) and
    * unsaved (a repartitioned in-memory frame).
    */
  private lazy val edgeFrames: Map[String, DataFrame] = {
    import spark.implicits._
    val rows = edgeRows(300)
    val longs = rows.zipWithIndex.map { case ((v, nm, t, l, w), i) => (i.toLong, v, nm, t, l, w) }
      .toDF("id", "vec", "norm", "tag", "label", "weight")
    val strings = rows.zipWithIndex.map { case ((v, nm, t, l, w), i) => (f"s$i%04d", v, nm, t, l, w) }
      .toDF("sid", "vec", "norm", "tag", "label", "weight")
    def saved(df: DataFrame): DataFrame = {
      val dir = Files.createTempDirectory("vidx_top").toString + "/idx"
      df.repartition(4).write.parquet(dir)
      spark.read.parquet(dir)
    }
    Map("long saved" -> saved(longs), "string saved" -> saved(strings),
      "long unsaved" -> longs.repartition(4))
  }

  private def edgeIndex(name: String): VectorIndex =
    VectorIndex.build(edgeFrames(name), if (name.startsWith("long")) "id" else "sid", "vec")

  /** `topItems` against `queryItems(...).collect()`: same columns, same
    * rows in the same order, scores equal bit for bit; and, given a
    * snapshot of `idx`, its (item row, score) pairs, each item row with
    * its score re-attached at the score column (a null score reads as
    * NaN).
    */
  private def assertSameTop(idx: VectorIndex, q: Seq[Double], k: Int,
      filter: Option[MetaFilter] = None, local: Option[LocalVectorServing] = None): Unit = {
    val want = assertSameRows(idx, q, k, filter, idx.topItems(q, k, filter))
    local.foreach { snap =>
      val clue = s"snapshot k=$k filter=$filter"
      val got = snap.queryItems(q, k, filter)
      assert(got.length == want.length, clue)
      got.zip(want).foreach { case ((r, s), w) =>
        val at = w.fieldIndex("score")
        val reattached = r.toSeq.patch(at, Seq(s), if (at == r.length) 0 else 1)
        assert(reattached.map(bits) == w.toSeq.updated(at, if (w.isNullAt(at)) Double.NaN else w.get(at))
          .map(bits), clue)
      }
    }
  }

  // floating-point values by their bits: NaN equals NaN, -0.0 is not 0.0
  private def bits(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case f: Float  => java.lang.Float.floatToIntBits(f)
    case s: scala.collection.Seq[_] => s.map(bits).toList
    case other     => other
  }

  /** `got` against `queryItems(q, k, filter).collect()`, as [[assertSameTop]];
    * returns the collected rows.
    */
  private def assertSameRows(idx: VectorIndex, q: Seq[Double], k: Int,
      filter: Option[MetaFilter], got: Array[Row]): Array[Row] = {
    val want = idx.queryItems(q, k, filter)
    val wantRows = want.collect()
    val clue = s"k=$k filter=$filter"
    assert(got.length == wantRows.length, clue)
    got.zip(wantRows).foreach { case (g, w) =>
      assert(g.schema.map(f => (f.name, f.dataType)) == want.schema.map(f => (f.name, f.dataType)), clue)
      assert(g.toSeq.map(bits) == w.toSeq.map(bits), clue)
    }
    wantRows
  }

  private def seededQueries(n: Int): Seq[Seq[Double]] = {
    val rnd = new Random(29)
    Seq.fill(n)(Seq.fill(Dim)(rnd.nextGaussian()))
  }

  // -- the two residencies of the prepared rows --

  /** `f` once on each residency: at the default threshold, under which
    * these small indexes keep their rows on the driver, then executor-side.
    */
  private def onBothResidencies(f: String => Unit): Unit = {
    f("driver")
    executorSide(f("executor"))
  }

  /** Where a queried `Dim`-d index keeps its rows, told by what a warm
    * call runs: no job on the driver, one over executor memory.
    */
  private def residency(idx: VectorIndex): String = {
    val q = Seq.fill(Dim)(1.0)
    idx.topItems(q, 1)
    jobsIn(idx.topItems(q, 1)) match {
      case 0 => "driver"
      case 1 => "executor"
      case n => s"$n jobs"
    }
  }

  test("topItems equals queryItems over ties, zero, null and NaN scores, every k") {
    val tied = edgeRows(1).head._1.map(_.toDouble).toSeq // the shared vector
    onBothResidencies { where => Seq("long saved", "string saved", "long unsaved").foreach { name =>
      val idx = edgeIndex(name)
      assert(idx.items.rdd.getNumPartitions > 1)
      assert(residency(idx) == where, name)
      val local = Some(LocalVectorServing.load(idx))
      (tied +: seededQueries(4)).foreach { q =>
        Seq(0, 1, 5, 26, 299, 300, 1000).foreach(k => assertSameTop(idx, q, k, None, local))
      }
      // a top-k that is nothing but exact ties, zero scores and nulls
      assertSameTop(idx, tied, 40, None, local)
      val top = idx.topItems(tied, 300)
      assert(java.lang.Double.isNaN(top.head.getAs[Double]("score")))
      assert(top.last.isNullAt(top.last.fieldIndex("score")))
      assert(top.count(_.getAs[Any]("score") == 0.0) >= 13)
    } }
  }

  test("topItems equals queryItems under every MetaFilter operator, null metadata included") {
    import MetaFilter._
    val filters = Seq(
      Eq("tag", "a"), Ne("tag", "a"), Gt("label", 3), Gte("label", 3), Lt("weight", 0.5),
      Lte("label", 2), In("tag", Seq("a", "c")), In("label", Nil), Nin("tag", Seq("b")),
      Nin("label", Nil), Eq("label", 4L), Eq("label", "4"), Gte("tag", "b"),
      And(Seq(Gte("label", 1), Ne("tag", "c"))), Or(Seq(Eq("tag", "b"), Lt("label", 2))),
      Or(Seq(And(Seq(In("label", Seq(1, 2, 3)), Gt("weight", 0.2))), Eq("tag", "zz"))))
    val qs = seededQueries(2)
    onBothResidencies { where => Seq("long saved", "string saved", "long unsaved").foreach { name =>
      val idx = edgeIndex(name)
      assert(residency(idx) == where, name)
      val local = Some(LocalVectorServing.load(idx))
      for (f <- filters; (q, k) <- Seq(qs(0) -> 3, qs(1) -> 500))
        assertSameTop(idx, q, k, Some(f), local)
    } }
  }

  test("filters on one instance each keep their own rows, and a flip of an analysis setting re-resolves") {
    import MetaFilter._
    val q = seededQueries(1).head
    onBothResidencies { where =>
      val idx = edgeIndex("long saved")
      def tags(f: MetaFilter): Set[String] = idx.topItems(q, 300, Some(f)).map(_.getAs[String]("tag")).toSet
      // alternating filters: a resolved filter is never answered for another
      Seq(Eq("tag", "a"), Eq("tag", "b"), Eq("tag", "a"), Gte("label", 4), Eq("tag", "b")).foreach { f =>
        assertSameTop(idx, q, 300, Some(f))
      }
      assert(tags(Eq("tag", "a")) == Set("a") && tags(Eq("tag", "b")) == Set("b"), where)
      val upper = Eq("TAG", "a")
      assert(tags(upper) == Set("a"), where)
      spark.conf.set("spark.sql.caseSensitive", "true")
      try {
        assert(idx.topItems(q, 300, Some(upper)).isEmpty, where)
        assertSameTop(idx, q, 300, Some(upper))
      } finally spark.conf.unset("spark.sql.caseSensitive")
      assert(tags(upper) == Set("a"), where)
      // a string compared with the int label: an ANSI cast fails on "abc",
      // a legacy cast reads it as null and matches nothing
      val word = Eq("label", "abc")
      def underAnsi(on: Boolean): Option[Array[Row]] = {
        spark.conf.set("spark.sql.ansi.enabled", on.toString)
        try scala.util.Try(idx.topItems(q, 300, Some(word))).toOption
        finally spark.conf.unset("spark.sql.ansi.enabled")
      }
      assert(underAnsi(on = true).isEmpty, where)
      assert(underAnsi(on = false).exists(_.isEmpty), where)
      assert(underAnsi(on = true).isEmpty, where)
    }
  }

  test("topItems on an empty index, an unsaved upsert and a delete") {
    import spark.implicits._
    val q = seededQueries(1).head
    val empty = VectorIndex.build(
      Seq.empty[(Long, Array[Float], String)].toDF("id", "vec", "tag"), "id", "vec")
    assert(empty.topItems(q, 5).isEmpty)
    assertSameTop(empty, q, 5, Some(MetaFilter.Eq("tag", "a")))
    val idx = VectorIndex.build(edgeFrames("long saved"), "id", "vec")
    val rnd = new Random(31)
    val updates = (0 until 40).map(i => (i.toLong * 7, Array.fill(Dim)(rnd.nextGaussian().toFloat),
      "u", Int.box(i % 5), Double.box(0.5)))
      .toDF("id", "vec", "tag", "label", "weight")
    val up = idx.upsertItems(updates)
    val del = up.deleteItems(Seq(Tuple1(14L), Tuple1(21L), Tuple1(1L)).toDF("id"))
    onBothResidencies { where =>
      // fresh instances, so each residency is chosen anew
      Seq(up, del).map(i => VectorIndex.build(i.items, "id", "vec")).foreach { lazyIdx =>
        assert(residency(lazyIdx) == where)
        (q +: seededQueries(3)).foreach { qq =>
          assertSameTop(lazyIdx, qq, 10)
          assertSameTop(lazyIdx, qq, 10, Some(MetaFilter.Eq("tag", "u")))
        }
      }
    }
  }

  test("topItems refuses a negative k and an empty query; k = 0 runs no job") {
    executorSide {
      val idx = mkIndex
      intercept[IllegalArgumentException](idx.topItems(Seq(1.0, 0.0, 0.0), -1))
      intercept[IllegalArgumentException](idx.topItems(Nil, 3))
      assert(jobsIn(assert(idx.topItems(Seq(1.0, 0.0, 0.0), 0).isEmpty)) == 0)
      // a warm call is one job
      idx.topItems(Seq(1.0, 0.0, 0.0), 2)
      assert(jobsIn(idx.topItems(Seq(0.0, 1.0, 0.0), 2)) == 1)
    }
  }

  test("on the driver: k = 0 runs no job, the first call one, a warm call none") {
    val idx = mkIndex
    intercept[IllegalArgumentException](idx.topItems(Seq(1.0, 0.0, 0.0), -1))
    intercept[IllegalArgumentException](idx.topItems(Nil, 3))
    assert(jobsIn(assert(idx.topItems(Seq(1.0, 0.0, 0.0), 0).isEmpty)) == 0)
    assert(jobsIn(idx.topItems(Seq(1.0, 0.0, 0.0), 2)) == 1)
    assert(jobsIn(idx.topItems(Seq(0.0, 1.0, 0.0), 2)) == 0)
    assert(jobsIn(idx.selectItems(col("tag") === "b")) == 0)
  }

  // -- the prepared rows: decoded once per instance, freed with it --

  /** What `f` returns, and the bytes the local file system read while it
    * ran (executors share this JVM in local mode). A task's
    * `inputMetrics.bytesRead` would not tell a decode from a cache hit:
    * Spark adds the size of a cached block it reads there too.
    */
  private def fileBytesIn[T](f: => T): (T, Long) = {
    val stats = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics
    def read = Option(stats.get("file")).map(_.getLong("bytesRead").longValue).getOrElse(0L)
    val before = read
    val out = f
    (out, read - before)
  }

  /** The ids of the context's persisted RDDs, as a new set: a key set of
    * `getPersistentRDDs` is a view that holds the RDDs themselves.
    */
  private def persistedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keysIterator.toSet

  test("topItems decodes a saved index once per instance and reads memory after") {
    executorSide {
      val sc = spark.sparkContext
      val Seq(q1, q2, q3) = seededQueries(3)
      val tag = Some(MetaFilter.Eq("tag", "a"))
      Seq("long saved", "string saved").foreach { name =>
        val idx = edgeIndex(name)
        val before = persistedIds
        val (first, read1) = fileBytesIn(idx.topItems(q1, 7))
        val (second, read2) = fileBytesIn(idx.topItems(q2, 7, tag))
        val (third, read3) = fileBytesIn(idx.topItems(q3, 300))
        assert(read1 > 0, name)
        assert(read2 == 0 && read3 == 0, s"$name read $read2 and $read3 bytes after the first call")
        assertSameRows(idx, q1, 7, None, first)
        assertSameRows(idx, q2, 7, tag, second)
        assertSameRows(idx, q3, 300, None, third)
        // drop the instance's rows: the next call decodes the source again
        val mine = persistedIds -- before
        assert(mine.size == 1, name)
        mine.foreach(id => sc.getPersistentRDDs(id).unpersist(blocking = true))
        val (again, readAgain) = fileBytesIn(idx.topItems(q2, 7, tag))
        assert(readAgain > 0, name)
        assertSameRows(idx, q2, 7, tag, again)
      }
      val unsaved = edgeIndex("long unsaved")
      (0 until 3).foreach { i =>
        assertSameTop(unsaved, q1, 7)
        assertSameTop(unsaved, Seq(q1, q2, q3)(i), 11, tag)
      }
    }
  }

  test("on the driver: a saved index is collected by one job, then read with none") {
    val Seq(q1, q2, q3) = seededQueries(3)
    val tag = Some(MetaFilter.Eq("tag", "a"))
    Seq("long saved", "string saved").foreach { name =>
      val idx = edgeIndex(name)
      val before = persistedIds
      var rows: Seq[(Array[Row], Long)] = Nil
      def call(q: Seq[Double], k: Int, f: Option[MetaFilter]): Int =
        jobsIn { rows :+= fileBytesIn(idx.topItems(q, k, f)) }
      assert(call(q1, 7, None) == 1 && rows(0)._2 > 0, name)
      assert(call(q2, 7, tag) == 0 && call(q3, 300, None) == 0, name)
      assert(rows(1)._2 == 0 && rows(2)._2 == 0,
        s"$name read ${rows(1)._2} and ${rows(2)._2} bytes after the first call")
      assert(persistedIds -- before == Set.empty, name)
      assertSameRows(idx, q1, 7, None, rows(0)._1)
      assertSameRows(idx, q2, 7, tag, rows(1)._1)
      assertSameRows(idx, q3, 300, None, rows(2)._1)
      // drop the driver's copy: every later call decodes the source again
      idx.releaseTopRows()
      val (again, readAgain) = fileBytesIn(idx.topItems(q2, 7, tag))
      assert(readAgain > 0, name)
      assertSameRows(idx, q2, 7, tag, again)
    }
  }

  /** The persisted RDD ids a queried index instance added; the instance
    * itself is unreachable once this returns.
    */
  private def queriedAndDropped(): Set[Int] = {
    val before = persistedIds
    val idx = edgeIndex("long saved")
    idx.topItems(seededQueries(1).head, 5)
    persistedIds -- before
  }

  test("an index's prepared rows leave the context once the index is unreachable") {
    val mine = executorSide(queriedAndDropped())
    assert(mine.size == 1)
    eventually(timeout(60.seconds), interval(200.millis)) {
      System.gc()
      assert((persistedIds & mine).isEmpty)
    }
  }

  /** Four threads' first `topItems` on one fresh instance, started at
    * once: their rows, and the jobs and persisted RDDs they added.
    */
  private def concurrentFirstCalls(q: Seq[Double]): (VectorIndex, Seq[Array[Row]], Int, Int) = {
    val idx = edgeIndex("long saved")
    val before = persistedIds
    val pool = Executors.newFixedThreadPool(4)
    try {
      val start = new CyclicBarrier(4)
      var results: Seq[Array[Row]] = Nil
      val jobs = jobsIn {
        val calls = (0 until 4).map { _ =>
          pool.submit(() => { start.await(30, TimeUnit.SECONDS); idx.topItems(q, 12) })
        }
        results = calls.map(_.get(120, TimeUnit.SECONDS))
      }
      (idx, results, jobs, (persistedIds -- before).size)
    } finally pool.shutdown()
  }

  test("concurrent first calls on one instance share one prepared scan") {
    val q = seededQueries(1).head
    val (idx, results, _, persisted) = executorSide(concurrentFirstCalls(q))
    assert(persisted == 1)
    results.foreach(assertSameRows(idx, q, 12, None, _))
  }

  test("on the driver: concurrent first calls on one instance run one collect") {
    val q = seededQueries(1).head
    val (idx, results, jobs, persisted) = concurrentFirstCalls(q)
    assert(jobs == 1 && persisted == 0)
    results.foreach(assertSameRows(idx, q, 12, None, _))
  }

  test("an index Spark cannot size (an RDD-backed frame) keeps its rows executor-side") {
    val rows = edgeFrames("long unsaved")
    val idx = VectorIndex.build(spark.createDataFrame(rows.rdd, rows.schema), "id", "vec")
    assert(idx.items.queryExecution.optimizedPlan.stats.sizeInBytes >
      spark.sessionState.conf.autoBroadcastJoinThreshold)
    val before = persistedIds
    assert(residency(idx) == "executor")
    assert((persistedIds -- before).size == 1)
    seededQueries(2).foreach { q =>
      assertSameTop(idx, q, 9)
      assertSameTop(idx, q, 9, Some(MetaFilter.Eq("tag", "b")))
    }
  }

  test("a MetaFilter leaf on a field the index lacks matches no row on every path") {
    import MetaFilter._
    val absent: Seq[MetaFilter] = Seq(
      Eq("absent", "a"), Ne("absent", "a"), Gt("absent", 1), Gte("absent", 1),
      Lt("absent", 1), Lte("absent", 1), In("absent", Seq("a", 2)), In("absent", Nil),
      Nin("absent", Seq("a")), Nin("absent", Nil))
    val filters = absent ++ absent.flatMap { f =>
      Seq(And(Seq(f, Ne("tag", "b"))), Or(Seq(f, Ne("tag", "b"))),
        Or(Seq(Gte("label", 4), And(Seq(Eq("tag", "a"), f)))))
    }
    val q = seededQueries(1).head
    Seq("long saved", "string saved", "long unsaved").foreach { name =>
      val idx = edgeIndex(name)
      val id = idx.idCol
      val rows = idx.items.collect()
      val local = LocalVectorServing.load(idx)
      def get(r: Row): String => Any =
        k => if (r.schema.fieldNames.contains(k) && !r.isNullAt(r.fieldIndex(k))) r.get(r.fieldIndex(k)) else null
      def ids(rs: Iterable[Row]): Set[Any] = rs.map(_.getAs[Any](id)).toSet
      filters.foreach { f =>
        val clue = s"$name $f"
        val want = ids(rows.filter(r => MetaFilter.matches(f, get(r))))
        assert(ids(idx.listItemsByMetadata(f).collect()) == want, clue)
        assert(ids(idx.topItems(q, 1000, Some(f))) == want, clue)
        assert(ids(local.queryItems(q, 1000, Some(f)).map(_._1)) == want, clue)
        assertSameTop(idx, q, 1000, Some(f))
      }
    }
  }
}
