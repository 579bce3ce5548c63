package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ann.{Centroids, IvfIndex}

/** graft.functions.expr.NearestCentroids (the top-np probe-list
  * kernel), the driver-side Centroids.nearest that shares its code,
  * and IvfIndex.selfProbeTable / knnJoinSelf — the knn_join
  * production path.
  */
class NearestCentroidsSpec extends SparkSpecBase {

  private def probeCol(vec: org.apache.spark.sql.Column,
      cents: Seq[(Long, Array[Double])], np: Int): org.apache.spark.sql.Column =
    Centroids(cents).probes(vec, np)

  test("kernel top-np matches the declarative (dist, cell) window ranking") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val corpus = Seq.tabulate(250) { i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1))
    }.toDF("vec_id", "embedding")
    val cents = Seq.tabulate(40) { c =>
      (c.toLong * 3, Array.fill(64)(rnd.nextDouble() * 2 - 1))
    }
    val dblCorpus = Seq.tabulate(250) { i =>
      (i.toLong, Array.fill(64)(rnd.nextDouble() * 2 - 1))
    }.toDF("vec_id", "embedding")
    val coarse = Centroids(cents)

    // the float and the double input column
    for (vecs <- Seq(corpus, dblCorpus)) {
      val kernel = vecs
        .select(col("vec_id"), probeCol(col("embedding"), cents, 5).as("p"))
        .as[(Long, Seq[Long])].collect().toMap

      val centsDf = cents.toDF("cell", "cv")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id")).orderBy(col("_d"), col("cell"))
      val expected = vecs
        .crossJoin(centsDf)
        .withColumn("_d", graft.functions.VectorFunctions.l2SqD(col("embedding"), col("cv")))
        .withColumn("_rn", row_number().over(w)).filter(col("_rn") <= 5)
        .orderBy(col("vec_id"), col("_rn"))
        .select("vec_id", "cell").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap

      assert(kernel == expected)

      // the driver-side pick for the same vector is the same list
      val driver = vecs.select(col("vec_id"), col("embedding").cast("array<double>"))
        .as[(Long, Array[Double])].collect()
        .map { case (id, v) => id -> coarse.nearest(v, 5) }.toMap
      assert(driver == kernel)
    }
  }

  test("ties resolve toward the lowest cell id, in order") {
    import spark.implicits._
    val corpus = Seq((0L, Array(1.0f, 1.0f))).toDF("vec_id", "embedding")
    // three identical centroids + one nearer: probe order must be the
    // near one, then the tied set ascending by id
    val cents = Seq(
      (9L, Array(0.0, 0.0)), (4L, Array(0.0, 0.0)),
      (6L, Array(0.0, 0.0)), (2L, Array(1.0, 1.0)))
    val got = corpus.select(probeCol(col("embedding"), cents, 3).as("p"))
      .as[Seq[Long]].head()
    assert(got == Seq(2L, 4L, 6L))
    assert(Centroids(cents).nearest(Array(1.0, 1.0), 3) == Seq(2L, 4L, 6L))
  }

  test("np larger than the centroid count clamps to all cells") {
    import spark.implicits._
    val corpus = Seq((0L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val cents = Seq((1L, Array(0.0, 0.0)), (0L, Array(1.0, 0.0)))
    val got = corpus.select(probeCol(col("embedding"), cents, 8).as("p"))
      .as[Seq[Long]].head()
    assert(got == Seq(0L, 1L))
  }

  test("a non-finite vector yields an EMPTY probe list, never the " +
      "uninitialized default cells (round-13 advice)") {
    import spark.implicits._
    val corpus = Seq(
      (0L, Array(Float.NaN, 1.0f)),
      (1L, Array(0.9f, 0.9f))).toDF("vec_id", "embedding")
    // cell ids deliberately NOT containing 0, so the old behavior
    // (np copies of the bestC default 0) would surface as bogus ids
    val cents = Seq((7L, Array(0.0, 0.0)), (9L, Array(1.0, 1.0)))
    val got = corpus
      .select(col("vec_id"), probeCol(col("embedding"), cents, 2).as("p"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(got(0L) == Seq.empty)      // NaN row: unsearchable, not wrong
    assert(got(1L) == Seq(9L, 7L))    // finite rows unaffected
  }

  test("kernel instances with equal array CONTENT are equal (Catalyst " +
      "semanticEquals / canonicalization — round-13 advice)") {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val childA = BoundReference(0, ArrayType(DoubleType), nullable = true)
    def mk(np: Int) = graft.functions.expr.NearestCentroids(
      childA, Array(1L, 2L), Array(Array(0.0, 1.0), Array(1.0, 0.0)), np)
    def mk1(off: Int) = graft.functions.expr.NearestCentroid(
      childA, Array(1L, 2L), Array(Array(0.0, 1.0), Array(1.0, 0.0)), off)
    assert(mk(3) == mk(3) && mk(3).hashCode == mk(3).hashCode)
    assert(mk(3).semanticEquals(mk(3)))
    assert(mk(3) != mk(4))
    assert(mk(3) != mk(3).copy(cells = Array(1L, 3L)))
    assert(mk1(0) == mk1(0) && mk1(0).hashCode == mk1(0).hashCode)
    assert(mk1(0) != mk1(8))
    assert(mk1(0) != mk1(0).copy(centroids = Array(Array(0.0, 1.0), Array(2.0, 0.0))))
  }

  test("knnJoinSelf over the persisted probe table equals the exact " +
      "IVF-probed label-blocked kNN computed declaratively") {
    import spark.implicits._
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val dir = Files.createTempDirectory("ivfknn").toString
    val cents = emb.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val idx = IvfIndex.build(emb, "vec_id", "embedding", cents, "cid", "cv", dir)

    val probePath = Files.createTempDirectory("ivfknnp").toString
    idx.selfProbeTable(np = 3, keepCols = Seq("label"))
      .write.mode("overwrite").parquet(probePath)
    val got = idx.knnJoinSelf(spark.read.parquet(probePath), Seq("label"), k = 3)
      .select(col("qid"), col("vec_id"), col("score"), col("rk"))
      .as[(Long, Long, Double, Long)].collect().toSet

    // declarative reference: per-vector probe list from the window
    // ranking, members from the assignment, label-blocked exact
    // cosine top-3 via row_number
    val centsR = idx.centroids.select(col("cell").cast("long"), col("cv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("_d"), col("cell"))
    val ranked = emb.crossJoin(centsR)
      .withColumn("_d", graft.functions.VectorFunctions.l2SqD(col("embedding"), col("cv")))
      .withColumn("_rn", row_number().over(w))
    val members = ranked.filter(col("_rn") === 1)
      .select(col("vec_id"), col("embedding"), col("label"), col("cell"))
    val probes = ranked.filter(col("_rn") <= 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("label").as("qlab"), col("cell"))
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(desc("_s"), col("vec_id"))
    val expected = members.join(probes,
        members("cell") === probes("cell") && col("label") === col("qlab") &&
          col("vec_id") =!= col("qid"))
      .withColumn("_s", graft.functions.VectorFunctions.cosine(col("embedding"), col("qv")))
      .withColumn("_rk", row_number().over(wq)).filter(col("_rk") <= 3)
      .select(col("qid"), col("vec_id"), round(col("_s"), 6).as("score"),
        col("_rk").cast("long"))
      .as[(Long, Long, Double, Long)].collect().toSet

    assert(got == expected)
    assert(got.nonEmpty)
  }
}
