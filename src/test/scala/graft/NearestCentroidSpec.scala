package graft

import org.apache.spark.sql.functions._

import graft.ann.Ann

class NearestCentroidSpec extends SparkSpecBase {

  test("kernel argmin matches the declarative (dist, cell) window pick") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val corpus = Seq.tabulate(200) { i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1))
    }.toDF("vec_id", "embedding")
    val cents = Seq.tabulate(9) { c =>
      (c.toLong * 10, Array.fill(16)(rnd.nextFloat() * 2 - 1))
    }.toDF("cid", "cv")

    val kernel = Ann.ivfAssign(corpus, "vec_id", "embedding", cents, "cid", "cv")
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap

    // declarative reference: score all pairs, window argmin by (dist, cell)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("_d"), col("cell"))
    val expected = corpus
      .crossJoin(cents.select(col("cid").as("cell"), col("cv")))
      .withColumn("_d", graft.functions.VectorFunctions.l2SqD(col("embedding"), col("cv")))
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap

    assert(kernel == expected)
  }

  test("exact-tie centroids resolve to the lowest cell id") {
    import spark.implicits._
    val v = Array(1.0f, 2.0f, 3.0f)
    val corpus = Seq((0L, v)).toDF("vec_id", "embedding")
    // two identical centroids with different ids: both distances are
    // bit-identical, the pick must be the lower id
    val cents = Seq((7L, Array(0.5, 0.5, 0.5)), (3L, Array(0.5, 0.5, 0.5)))
      .toDF("cid", "cv")
    val cell = Ann.ivfAssign(corpus, "vec_id", "embedding", cents, "cid", "cv")
      .select("cell").as[Long].head()
    assert(cell == 3L)
  }

  // 64 dims × 50 centroids: crosses the 16-element early-exit block
  // boundary many times per centroid, so a pruning bug that changed
  // the argmin decision would surface against the full-scan window
  test("blocked early exit keeps the argmin decision (64-dim, 50 centroids)") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val corpus = Seq.tabulate(300) { i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1))
    }.toDF("vec_id", "embedding")
    val cents = Seq.tabulate(50) { c =>
      (c.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1))
    }.toDF("cid", "cv")
    val kernel = Ann.ivfAssign(corpus, "vec_id", "embedding", cents, "cid", "cv")
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("_d"), col("cell"))
    val expected = corpus
      .crossJoin(cents.select(col("cid").as("cell"), col("cv")))
      .withColumn("_d", graft.functions.VectorFunctions.l2SqD(col("embedding"), col("cv")))
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    assert(kernel == expected)
  }

  test("offset-based subspace reads equal cast-then-slice") {
    import spark.implicits._
    import org.apache.spark.sql.graftshim.ColumnBridge
    val rnd = new scala.util.Random(41)
    val corpus = Seq.tabulate(120) { i =>
      (i.toLong, Array.fill(32)(rnd.nextFloat() * 2 - 1))
    }.toDF("vec_id", "embedding")
    val subDim = 8
    val books = Seq.tabulate(4) { _ =>
      (Array.tabulate(6)(_.toLong),
        Array.fill(6)(Array.fill(subDim)(rnd.nextDouble() * 2 - 1)))
    }
    val offsetCols = books.zipWithIndex.map { case ((ids, cvs), s) =>
      ColumnBridge.column(graft.functions.expr.NearestCentroid(
        ColumnBridge.expression(col("embedding")), ids, cvs,
        offset = s * subDim)).as(s"o$s")
    }
    val sliceCols = books.zipWithIndex.map { case ((ids, cvs), s) =>
      ColumnBridge.column(graft.functions.expr.NearestCentroid(
        ColumnBridge.expression(
          slice(col("embedding").cast("array<double>"), s * subDim + 1, subDim)),
        ids, cvs)).as(s"s$s")
    }
    val both = corpus.select(col("vec_id") +: (offsetCols ++ sliceCols): _*)
    val bad = both.filter((0 until 4)
      .map(s => col(s"o$s") =!= col(s"s$s")).reduce(_ || _)).count()
    assert(bad == 0L)
  }

  test("oversized centroid sets are refused by the nlist bound") {
    import spark.implicits._
    val corpus = Seq((0L, Array(1.0f))).toDF("vec_id", "embedding")
    def cents(n: Long) = spark.range(n)
      .select(col("id").as("cid"), array(col("id").cast("double")).as("cv"))
    // the bound is [1, 65536]: an empty set and every set past 65536
    // cells are the same named error
    for (n <- Seq(0L, 65537L, 70000L)) {
      val e = intercept[IllegalArgumentException](
        Ann.ivfAssign(corpus, "vec_id", "embedding", cents(n), "cid", "cv"))
      assert(e.getMessage.contains("[1, 65536]"), e.getMessage)
    }
    Ann.ivfAssign(corpus, "vec_id", "embedding", cents(65536L), "cid", "cv")
  }
}
