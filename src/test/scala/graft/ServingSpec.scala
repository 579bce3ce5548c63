package graft

import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.filters.MetaFilter
import graft.index.VectorIndex
import graft.serve.{DocServing, VectorServing}

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

  test("close releases the top-k's prepared rows as well as the pinned items") {
    import spark.implicits._
    def persisted = spark.sparkContext.getPersistentRDDs.keysIterator.toSet
    val before = persisted
    val idx = VectorIndex.build((0 until 40).map { i =>
      (i.toLong, Array(math.cos(i).toFloat, math.sin(i).toFloat)) }.toDF("id", "vec"), "id", "vec")
    val vs = new VectorServing(idx).warm()
    val first = vs.queryItems(Seq(1.0, 0.0), 3)
    assert(vs.queryItems(Seq(1.0, 0.0), 3).toSeq == first.toSeq)
    val mine = persisted -- before
    assert(mine.size == 2, "the pinned items and the top-k rows")
    vs.close()
    eventually(timeout(30.seconds), interval(100.millis)) {
      assert((persisted & mine).isEmpty)
    }
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
    val lvs = graft.serve.LocalVectorServing.load(idx)

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

  test("LocalDocServing matches the cold d_query_documents_persisted entry") {
    assume(haveData)
    val lds = graft.serve.LocalDocServing.load(
      spark.read.parquet(graft.queries.DocQueries.persistedChunksPath(spark, dir)))
    val cold = SparkEntry.queries("d_query_documents_persisted")(spark, dir)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"),
        r.getAs[Long]("n_chunks"))).toSeq
    assert(lds.queryDocuments() == cold)
    // repeated calls are pure local arithmetic over the snapshot
    assert(lds.queryDocuments() == cold)
    // a pre-selection metadata filter restricts the chunk pool: the
    // unfiltered call must differ from an impossible-filter call
    val none = lds.queryDocuments(
      filter = Some(MetaFilter.parse("""{"doc_id":{"$lt":-1}}""")))
    assert(none.isEmpty)
  }

  test("LocalDocServing refuses a chunk table over maxLocalChunks") {
    assume(haveData)
    val chunks = spark.read.parquet(
      graft.queries.DocQueries.persistedChunksPath(spark, dir))
    val e = intercept[IllegalArgumentException] {
      graft.serve.LocalDocServing.load(chunks, maxLocalChunks = 5)
    }
    assert(e.getMessage.contains("maxLocalChunks"))
  }

  test("LocalVectorServing refuses an index over maxLocalItems") {
    assume(haveData)
    val idx = VectorIndex.build(
      Tables.load(spark, dir, "embeddings"), "vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      graft.serve.LocalVectorServing.load(idx, maxLocalItems = 5)
    }
    assert(e.getMessage.contains("maxLocalItems"))
  }

  test("DocServing (pinned and unpinned) matches the cold d_query_documents entry") {
    assume(haveData)
    val cold = SparkEntry.queries("d_query_documents")(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"),
        r.getAs[Long]("n_chunks"))).toSeq
    val mem = new DocServing(
      graft.queries.DocQueries.scoredChunkFrame(spark, dir)).warm()
    val disk = new DocServing(
      spark.read.parquet(graft.queries.DocQueries.persistedChunksPath(spark, dir)),
      servePartitions = 0, pin = false)
    try {
      def asTuples(rows: Array[org.apache.spark.sql.Row]) =
        rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"),
          r.getAs[Long]("n_chunks"))).toSeq
      assert(asTuples(mem.queryDocuments()) == cold)
      assert(asTuples(disk.queryDocuments()) == cold)
      // plan reuse across repeated calls
      assert(asTuples(mem.queryDocuments()) == cold)
    } finally { mem.close(); disk.close() }
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
    val cold = graft.serve.LocalVectorServing.load(
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

  test("ShardedVectorServing: scatter-gather is row-identical to the single-index " +
      "path, including across concurrent per-shard refresh") {
    assume(haveData)
    import spark.implicits._
    val base = Tables.load(spark, dir, "embeddings")
    val nShards = 3
    val sharded = new graft.serve.ShardedVectorServing(
      base, "vec_id", "embedding", nShards)
    val single = new graft.serve.RefreshingVectorServing(base, "vec_id", "embedding")
    val q0 = queryVec
    def asTuples(xs: Seq[(org.apache.spark.sql.Row, Double)]) =
      xs.map { case (r, s) => (r.getAs[Long]("vec_id"), s) }

    // placement partitions the corpus (every row on exactly one shard,
    // murmur3 spreads across all shards at this corpus size)
    assert(sharded.size == single.serving.size)
    assert((0 until nShards).forall(i => sharded.shard(i).serving.size > 0))

    // read identity, unfiltered and filtered
    assert(asTuples(sharded.queryItems(q0, 10)) ==
      asTuples(single.serving.queryItems(q0, 10)))
    val mf = MetaFilter.parse("""{"label":{"$in":[1,2,3,4]}}""")
    assert(asTuples(sharded.queryItems(q0, 10, Some(mf))) ==
      asTuples(single.serving.queryItems(q0, 10, Some(mf))))

    // one changelog batch routed to per-shard partitions with the SAME
    // spark-side hash the router uses, then applied CONCURRENTLY (one
    // thread per shard — the production wiring: changelog partition i →
    // shard(i).applyChanges) while a reader queries throughout
    val victim = asTuples(single.serving.queryItems(q0, 5)).map(_._1)(1)
    val changes = Seq(
      (7L, "u", q0, 3),
      (victim, "d", Seq.empty[Double], 0),
      (999999L, "i", q0.map(-_), 2))
      .toDF("vec_id", "op", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val stamped = changes
      .withColumn("_shard", pmod(hash(col("vec_id")), lit(nShards)))
      .localCheckpoint()
    val readerFailure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val stopReader = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      try {
        while (!stopReader.get()) {
          val res = sharded.queryItems(q0, 5)
          // never torn: always k rows, ordering contract intact
          assert(res.size == 5)
          assert(res.map(-_._2) == res.map(-_._2).sorted)
        }
      } catch { case t: Throwable => readerFailure.set(t) }
    })
    reader.start()
    val writers = (0 until nShards).map { i =>
      new Thread(() => {
        val part = stamped.filter(col("_shard") === i).drop("_shard")
        if (!part.isEmpty) sharded.shard(i).applyChanges(part)
      })
    }
    writers.foreach(_.start())
    writers.foreach(_.join())
    stopReader.set(true)
    reader.join()
    assert(readerFailure.get() == null,
      s"reader failed during concurrent refresh: ${readerFailure.get()}")

    // post-refresh identity with the single-index path given the same batch
    single.applyChanges(changes)
    assert(asTuples(sharded.queryItems(q0, 10)) ==
      asTuples(single.serving.queryItems(q0, 10)))
    assert(sharded.getItem(999999L).exists(_.getAs[Int]("label") == 2))
    assert(sharded.getItem(victim).isEmpty)
    assert(sharded.size == single.serving.size)
  }

  test("ShardedVectorServing.reshard: n→m drain+swap keeps query identity " +
      "before, during and after the transition") {
    assume(haveData)
    import spark.implicits._
    val base = Tables.load(spark, dir, "embeddings")
    val old = new graft.serve.ShardedVectorServing(base, "vec_id", "embedding", 3)
    val q0 = queryVec
    def asTuples(xs: Seq[(org.apache.spark.sql.Row, Double)]) =
      xs.map { case (r, s) => (r.getAs[Long]("vec_id"), s) }
    val before = asTuples(old.queryItems(q0, 10))
    assert(before.size == 10)

    // DURING: a reader hammers the OLD router while the new tier
    // builds — the transition must never tear or change results
    val readerFailure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val stopReader = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      try while (!stopReader.get())
        assert(asTuples(old.queryItems(q0, 10)) == before)
      catch { case t: Throwable => readerFailure.set(t) }
    })
    reader.start()
    val grown = old.reshard(5) // BUILD (old keeps serving)
    stopReader.set(true)
    reader.join()
    assert(readerFailure.get() == null,
      s"reader failed during reshard: ${readerFailure.get()}")

    // AFTER the swap: identical reads, every row on exactly one of the
    // 5 shards, all shards populated (murmur3 spread at this size)
    assert(grown.nShards == 5)
    assert(asTuples(grown.queryItems(q0, 10)) == before)
    assert(grown.size == old.size)
    assert((0 until 5).forall(i => grown.shard(i).serving.size > 0))
    assert((0 until 5).map(i => grown.shard(i).serving.size).sum == grown.size)
    val mf = MetaFilter.parse("""{"label":{"$in":[1,2,3,4]}}""")
    assert(asTuples(grown.queryItems(q0, 10, Some(mf))) ==
      asTuples(old.queryItems(q0, 10, Some(mf))))

    // the new tier stays maintainable: CDC lands on the RE-hashed
    // placement and reads see it
    val changes = Seq((424242L, "i", q0.map(-_), 2))
      .toDF("vec_id", "op", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    grown.applyChanges(changes)
    assert(grown.getItem(424242L).isDefined)
    assert(grown.size == old.size + 1)

    // shrink path: m < n over the updated tier keeps the updated rows
    val shrunk = grown.reshard(2)
    assert(shrunk.nShards == 2 && shrunk.size == grown.size)
    assert(shrunk.getItem(424242L).isDefined)
    assert(asTuples(shrunk.queryItems(q0, 10)) ==
      asTuples(grown.queryItems(q0, 10)))
  }
}
