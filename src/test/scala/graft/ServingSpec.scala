package graft

import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.filters.MetaFilter
import graft.index.VectorIndex
import graft.serve.{LocalVectorServing, VectorServing}

/** The warm serving path (graft.serve) is a latency optimization, not
  * a semantics change: every serving call must return exactly what the
  * cold oracle-checked query entry returns. Also pins the plan-reuse
  * contract — repeated calls return the identical result (same
  * DataFrame re-executed), and close() releases the pinned cache.
  */
class ServingSpec extends SparkSpecBase {

  private val dir = "/root/testdata/sf0.001"
  private def haveData = new java.io.File(s"$dir/embeddings.parquet").exists()

  private def queryVec: Seq[Double] =
    Tables.load(spark, dir, "embeddings").filter(col("vec_id") === 0L)
      .select(col("embedding")).head()
      .getSeq[Number](0).map(_.doubleValue()).toSeq

  test("warm queryItems matches the cold v_topk entry") {
    assume(haveData)
    val vs = new VectorServing(VectorIndex.build(
      Tables.load(spark, dir, "embeddings"), "vec_id", "embedding")).warm()
    try {
      val warm = vs.queryItems(queryVec, 10)
        .map(r => (r.getAs[Long]("vec_id"),
          BigDecimal(r.getAs[Double]("score")).setScale(6, BigDecimal.RoundingMode.HALF_UP)))
      val cold = SparkEntry.queries("v_topk")(spark, dir).collect()
        .map(r => (r.getAs[Long]("vec_id"),
          BigDecimal(r.getAs[Double]("score")).setScale(6, BigDecimal.RoundingMode.HALF_UP)))
      assert(warm.map(_._1).toSeq == cold.map(_._1).toSeq)
      assert(warm.map(_._2).toSeq == cold.map(_._2).toSeq)
      // plan reuse: a second call returns the identical rows
      assert(vs.queryItems(queryVec, 10).map(_.getAs[Long]("vec_id")).toSeq ==
        warm.map(_._1).toSeq)
    } finally vs.close()
  }

  test("warm queryItems answers each of two query vectors with equal hash codes with its own rows") {
    import spark.implicits._
    // a seeded birthday search for two distinct 2-d queries whose Seq
    // hash codes collide
    val rnd = new java.util.Random(7)
    val seen = scala.collection.mutable.HashMap.empty[Int, Seq[Double]]
    var pair: (Seq[Double], Seq[Double]) = null
    while (pair == null) {
      val v = scala.collection.immutable.ArraySeq.unsafeWrapArray(
        Array(rnd.nextGaussian(), rnd.nextGaussian()))
      seen.get(v.hashCode) match {
        case Some(u) if u != v => pair = (u, v)
        case _ => seen(v.hashCode) = v
      }
    }
    val (a, b) = pair
    assert(a.hashCode == b.hashCode && a != b)
    val angles = (0 until 60).map(i => (i.toLong, 2 * math.Pi * i / 60))
    val idx = VectorIndex.build(angles.map { case (i, t) =>
      (i, Array(math.cos(t).toFloat, math.sin(t).toFloat)) }.toDF("id", "vec"), "id", "vec")
    val vs = new VectorServing(idx).warm()
    try {
      def ids(rows: Array[org.apache.spark.sql.Row]) = rows.map(_.getAs[Long]("id")).toSeq
      val (wantA, wantB) = (idx.queryItems(a, 5).collect(), idx.queryItems(b, 5).collect())
      assert(ids(wantA) != ids(wantB))
      assert(vs.queryItems(a, 5).toSeq == wantA.toSeq)
      assert(vs.queryItems(b, 5).toSeq == wantB.toSeq)
    } finally vs.close()
  }

  /** A warm session over a fresh 40-row index. */
  private def warmSession(): VectorServing = {
    import spark.implicits._
    val idx = VectorIndex.build((0 until 40).map { i =>
      (i.toLong, Array(math.cos(i).toFloat, math.sin(i).toFloat)) }.toDF("id", "vec"), "id", "vec")
    new VectorServing(idx).warm()
  }

  /** A session's top-k, listing and lookup, checked against known ids. */
  private def answers(vs: VectorServing): Unit = {
    val first = vs.queryItems(Seq(1.0, 0.0), 3)
    assert(vs.queryItems(Seq(1.0, 0.0), 3).toSeq == first.toSeq)
    assert(vs.listItemsByMetadata(MetaFilter.Gte("id", 38L)).map(_.getAs[Long]("id")).toSeq ==
      Seq(38L, 39L))
    assert(vs.getItem(7L).map(_.getAs[Long]("id")).toSeq == Seq(7L))
  }

  test("close releases the rows every call is answered from") {
    def persisted = spark.sparkContext.getPersistentRDDs.keysIterator.toSet
    val before = persisted
    val vs = executorSide(warmSession())
    answers(vs)
    val mine = persisted -- before
    assert(mine.size == 1, "one copy: the top-k rows, which listings and lookups read too")
    vs.close()
    eventually(timeout(30.seconds), interval(100.millis)) {
      assert((persisted & mine).isEmpty)
    }
  }

  test("on the driver: warm calls run no job, and close releases the rows they read") {
    val vs = warmSession()
    assert(jobsIn(answers(vs)) == 0)
    vs.close()
    // the rows are gone: a call reads the source again, in a job
    assert(jobsIn(vs.getItem(7L)) == 1)
  }

  test("warm filtered queryItems and listItemsByMetadata match cold entries") {
    assume(haveData)
    val vs = new VectorServing(VectorIndex.build(
      Tables.load(spark, dir, "embeddings"), "vec_id", "embedding")).warm()
    try {
      val f = MetaFilter.parse("""{"label":{"$in":[2,4,6]}}""")
      val warmTopk = vs.queryItems(queryVec, 10, Some(f))
        .map(_.getAs[Long]("vec_id")).toSeq
      val coldTopk = SparkEntry.queries("v_topk_filtered")(spark, dir)
        .collect().map(_.getAs[Long]("vec_id")).toSeq
      assert(warmTopk == coldTopk)

      val mf = MetaFilter.parse(
        """{"$or":[{"label":{"$in":[1,3]}},
          |        {"$and":[{"label":{"$gte":7}},{"label":{"$lt":9}}]}]}""".stripMargin)
      val warmMeta = vs.listItemsByMetadata(mf)
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"))).toSeq
      val coldMeta = SparkEntry.queries("v_meta_filter")(spark, dir)
        .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"))).toSeq
      assert(warmMeta == coldMeta)

      val got = vs.getItem(42L)
      assert(got.length == 1 && got.head.getAs[Long]("vec_id") == 42L)
    } finally vs.close()
  }

  test("LocalVectorServing matches the cold v_topk / v_topk_filtered / v_meta_filter entries") {
    assume(haveData)
    val idx = VectorIndex.build(
      Tables.load(spark, dir, "embeddings"), "vec_id", "embedding")
    val lvs = LocalVectorServing.load(idx)

    val top = lvs.queryItems(queryVec, 10)
    val coldTop = SparkEntry.queries("v_topk")(spark, dir).collect()
    assert(top.map(_._1.getAs[Long]("vec_id")) ==
      coldTop.map(_.getAs[Long]("vec_id")).toSeq)
    assert(top.map(t => BigDecimal(t._2).setScale(6, BigDecimal.RoundingMode.HALF_UP)) ==
      coldTop.map(r => BigDecimal(r.getAs[Double]("score"))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)).toSeq)

    val f = MetaFilter.parse("""{"label":{"$in":[2,4,6]}}""")
    assert(lvs.queryItems(queryVec, 10, Some(f)).map(_._1.getAs[Long]("vec_id")) ==
      SparkEntry.queries("v_topk_filtered")(spark, dir).collect()
        .map(_.getAs[Long]("vec_id")).toSeq)

    val mf = MetaFilter.parse(
      """{"$or":[{"label":{"$in":[1,3]}},
        |        {"$and":[{"label":{"$gte":7}},{"label":{"$lt":9}}]}]}""".stripMargin)
    assert(lvs.listItemsByMetadata(mf).map(r =>
        (r.getAs[Long]("vec_id"), r.getAs[Int]("label"))) ==
      SparkEntry.queries("v_meta_filter")(spark, dir).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"))).toSeq)

    assert(lvs.getItem(42L).exists(_.getAs[Long]("vec_id") == 42L))
    assert(lvs.getItem(-1L).isEmpty)
  }

  test("LocalVectorServing refuses an index over maxLocalItems") {
    assume(haveData)
    val idx = VectorIndex.build(
      Tables.load(spark, dir, "embeddings"), "vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      LocalVectorServing.load(idx, maxLocalItems = 5)
    }
    assert(e.getMessage.contains("maxLocalItems"))
  }

  test("a filter field name resolves as the session resolves it, on both tiers") {
    import spark.implicits._
    val idx = VectorIndex.build(Seq(
      (1L, Array(1.0f, 0.0f), "a"), (2L, Array(0.0f, 1.0f), "b"), (3L, Array(1.0f, 1.0f), "a"))
      .toDF("id", "vec", "tag"), "id", "vec")
    val upper = MetaFilter.Eq("TAG", "a")
    def tiers(caseSensitive: Boolean): Seq[Seq[Long]] = {
      val prev = spark.conf.get("spark.sql.caseSensitive")
      spark.conf.set("spark.sql.caseSensitive", caseSensitive.toString)
      try {
        val lvs = LocalVectorServing.load(idx)
        Seq(
          idx.listItemsByMetadata(upper).select("id").as[Long].collect().sorted.toSeq,
          lvs.listItemsByMetadata(upper).map(_.getAs[Long]("id")),
          idx.topItems(Seq(1.0, 0.0), 3, Some(upper)).map(_.getAs[Long]("id")).toSeq,
          lvs.queryItems(Seq(1.0, 0.0), 3, Some(upper)).map(_._1.getAs[Long]("id")))
      } finally spark.conf.set("spark.sql.caseSensitive", prev)
    }
    assert(tiers(caseSensitive = false) == Seq(Seq(1L, 3L), Seq(1L, 3L), Seq(1L, 3L), Seq(1L, 3L)))
    assert(tiers(caseSensitive = true).forall(_.isEmpty))
  }

  test("getItem compares integral ids exactly, above 2^53 too, on both tiers") {
    import spark.implicits._
    val big = 1L << 53
    val idx = VectorIndex.build(Seq(
      (5L, Array(1.0f, 0.0f), "five"), (big, Array(0.0f, 1.0f), "big"),
      (big + 1, Array(1.0f, 1.0f), "big+1")).toDF("id", "vec", "name"), "id", "vec")
    val lvs = LocalVectorServing.load(idx)
    for ((id, name) <- Seq[(Any, String)](big -> "big", (big + 1) -> "big+1", 5 -> "five")) {
      assert(idx.getItem(id).collect().map(_.getAs[String]("name")).toSeq == Seq(name), s"id $id")
      assert(lvs.getItem(id).map(_.getAs[String]("name")).contains(name), s"id $id")
    }
    assert(lvs.getItem(5.0).map(_.getAs[String]("name")).contains("five"))
    assert(lvs.getItem(big + 2).isEmpty)
  }

  test("a document query over a snapshot of a saved index's chunks equals queryDocuments") {
    import spark.implicits._
    val words = Seq("spark", "table", "join", "query", "vector", "shard", "index", "chunk",
      "filter", "score", "plan", "stage", "merge", "token", "cosine", "batch")
    val rnd = new scala.util.Random(11)
    val langs = Seq("en", "de", "fr")
    val docs = (0 until 40).map { d =>
      (s"doc$d.txt", Seq.fill(20 + rnd.nextInt(40))(words(rnd.nextInt(words.size))).mkString(" "),
        langs(d % 3))
    }.toDF("uri", "text", "lang")
    val cfg = graft.text.SplitterConfig(
      separators = Nil, keepSeparators = false, chunkSize = 12, chunkOverlap = 0)
    val dir = java.nio.file.Files.createTempDirectory("servedocs").toString
    try {
      graft.index.DocumentIndex.create(spark, cfg).upsertDocuments(docs).save(dir)
      val idx = graft.index.DocumentIndex.load(spark, dir, cfg)
      val chunks = LocalVectorServing.load(idx.chunks)
      assert(chunks.size > 50)
      val text = graft.queries.DocQueries.QueryText
      for (filter <- Seq(None, Some(MetaFilter.parse("""{"lang": {"$in": ["en", "fr"]}}""")))) {
        val want = idx.queryDocuments(text, filter = filter).collect().map(r =>
          (r.getAs[String]("document_id"), r.getAs[Double]("score"), r.getAs[Long]("n_chunks"))).toSeq
        assert(want.size == 10 && want.exists(_._3 > 1), s"filter $filter")
        assert(Bench.localDocuments(idx, chunks, text, filter) == want, s"filter $filter")
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("RefreshingVectorServing: streamed CDC batches become visible in " +
      "serve_local results, row-identical to a cold rebuild") {
    assume(haveData)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    val base = Tables.load(spark, dir, "embeddings")
    val rvs = new graft.serve.RefreshingVectorServing(base, "vec_id", "embedding")
    val q0 = queryVec

    val preTop = rvs.serving.queryItems(q0, 5).map(_._1.getAs[Long]("vec_id"))
    assert(preTop.nonEmpty && !preTop.contains(999999L))
    val victim = preTop(1) // a current top-5 id we will delete

    // changelog contract: full new row + op; embedding cast to the
    // base table's array<float> so the merge coalesce type-checks
    def changeDf(rows: Seq[(Long, String, Seq[Double], Int)]) =
      rows.toDF("vec_id", "op", "embedding", "label")
        .withColumn("embedding", col("embedding").cast("array<float>"))

    val stream = MemoryStream[(Long, String, Seq[Double], Int)]
    val sq = stream.toDF().toDF("vec_id", "op", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        rvs.applyChanges(b)
      }
      .outputMode("append").start()
    val batch1 = Seq(
      (7L, "u", q0, 3),                    // vec 7 becomes an exact match
      (victim, "d", Seq.empty[Double], 0)) // a pre-CDC top-5 id disappears
    val batch2 = Seq(
      (999999L, "i", q0.map(-_), 2))       // fresh id, anti-parallel vector
    try {
      stream.addData(batch1)
      sq.processAllAvailable()
      stream.addData(batch2)
      sq.processAllAvailable()
    } finally sq.stop()
    assert(rvs.appliedBatches == 2L)

    // visibility: the update ranks vec 7 at cosine 1.0, the delete is
    // gone, the insert is servable
    val postTop = rvs.serving.queryItems(q0, 5)
    assert(postTop.map(_._1.getAs[Long]("vec_id")).contains(7L))
    assert(!postTop.map(_._1.getAs[Long]("vec_id")).contains(victim))
    assert(rvs.serving.getItem(999999L).exists(_.getAs[Int]("label") == 2))

    // row-identical to a cold rebuild over the maintained table
    val cold = LocalVectorServing.load(
      VectorIndex.build(rvs.currentTable, "vec_id", "embedding"))
    def asTuples(xs: Seq[(org.apache.spark.sql.Row, Double)]) =
      xs.map { case (r, s) => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"), s) }
    assert(asTuples(rvs.serving.queryItems(q0, 10)) ==
      asTuples(cold.queryItems(q0, 10)))
    val mf = MetaFilter.parse("""{"label":{"$in":[2,3]}}""")
    assert(rvs.serving.listItemsByMetadata(mf).map(_.getAs[Long]("vec_id")) ==
      cold.listItemsByMetadata(mf).map(_.getAs[Long]("vec_id")))

    // and identical to applying the same changelog in batch mode
    val viaBatch = graft.operators.MergeApply.applyChanges(
      graft.operators.MergeApply.applyChanges(
        base, changeDf(batch1), "vec_id").drop("status"),
      changeDf(batch2), "vec_id").drop("status")
    val got = rvs.currentTable.select("vec_id", "label").as[(Long, Int)].collect().toSet
    val want = viaBatch.select("vec_id", "label").as[(Long, Int)].collect().toSet
    assert(got == want)
  }
}
