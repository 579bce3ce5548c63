package graft

import org.apache.spark.sql.functions._

import graft.ann.KMeans

class KMeansSpec extends SparkSpecBase {

  private def vecs = {
    import spark.implicits._
    // two well-separated blobs on the first two axes
    Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(1.1f, -0.1f, 0.0f)),
      (10L, Array(0.0f, 1.0f, 0.0f)),
      (11L, Array(0.1f, 0.9f, 0.0f)),
      (12L, Array(-0.1f, 1.1f, 0.0f)))
      .toDF("vec_id", "embedding")
  }

  private def seeds = {
    import spark.implicits._
    Seq((0L, Array(1.0, 0.0, 0.0)), (10L, Array(0.0, 1.0, 0.0)))
      .toDF("cid", "cv")
  }

  test("one Lloyd iteration lands centroids on the exact blob means") {
    val cents = KMeans.lloyd(vecs, "vec_id", "embedding", seeds, iters = 1)
      .orderBy(col("cid")).collect()
    assert(cents.length == 2)
    val c0 = cents(0).getSeq[Double](1)
    val c1 = cents(1).getSeq[Double](1)
    // float inputs are exact in binary (x.1f etc. are not, but their
    // double widenings are what both engines sum) — compare against
    // the same widen-sum-divide-round(9) arithmetic
    def mean(xs: Seq[Float]): Double = {
      val s = xs.map(x => BigDecimal(x.toDouble)
        .setScale(10, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
      // Spark round(double, 9) = BigDecimal.valueOf + HALF_UP
      BigDecimal.valueOf(s / xs.length)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(c0(0) == mean(Seq(1.0f, 0.9f, 1.1f)))
    assert(c0(1) == mean(Seq(0.0f, 0.1f, -0.1f)))
    assert(c1(0) == mean(Seq(0.0f, 0.1f, -0.1f)))
    assert(c1(1) == mean(Seq(1.0f, 0.9f, 1.1f)))
  }

  test("decimal means make the fit partition-order independent") {
    def fit(parts: Int) =
      KMeans.lloyd(vecs.repartition(parts), "vec_id", "embedding", seeds, iters = 2)
        .orderBy(col("cid")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toList)).toList
    assert(fit(1) == fit(7))
  }

  /** Crafted doubles whose `Double.toString` decimal has a 5 in the
    * 11th place — HALF_UP ties at scale 10 that the double itself may
    * sit just below or just above.
    */
  private val halfBoundary: Seq[Double] =
    Seq(0.12345678905, 1.00000000005, 5e-11, 1.5e-10, 9999.99999999995)
      .flatMap(x => Seq(x, -x)) ++ (0 until 200).map(k => k * 1e-10 + 5e-11)

  // also covers half-boundary, float-widened, large-magnitude,
  // long-overflow and signed-zero elements
  test("vector-state mean update equals the exploded formulation " +
      "(ragged rows, null elements, null vectors, any partitioning)") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.types.DecimalType
    val rnd = new scala.util.Random(7)
    // ragged lengths, occasional null elements / null vectors, values
    // at awkward decimal boundaries
    val random = (0 until 400).map { i =>
      val cell = (i % 7).toLong
      if (rnd.nextInt(20) == 0) (cell, null: Array[java.lang.Double])
      else {
        val len = 1 + rnd.nextInt(5)
        val v = Array.tabulate[java.lang.Double](len) { _ =>
          if (rnd.nextInt(15) == 0) null
          else java.lang.Double.valueOf(
            (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(6) - 3))
        }
        (cell, v)
      }
    }
    def rowsOf(cell: Long, xs: Seq[Double], width: Int) =
      xs.grouped(width).map(g => (cell, g.map(java.lang.Double.valueOf).toArray)).toSeq
    val crafted =
      rowsOf(10L, halfBoundary, 4) ++
      // float-widened Gaussians (the stored embedding shape)
      rowsOf(11L, Seq.fill(400)(rnd.nextGaussian().toFloat.toDouble), 8) ++
      // at and above the fast-path bound |x| < 1e4, up to 1e17
      rowsOf(12L, Seq(9999.999999999, 1e4, -1e4, 10000.00000000005,
        12345.6789012345, -98765.4321, 1e8, 1e12, -1e15, 1e17, 3e16), 3) ++
      // 9e8 is 9e18 scale-10 units: two of them overflow a long sum
      rowsOf(13L, Seq(9e8, 9e8, -9e8, 9e8), 1) ++
      rowsOf(14L, Seq(-0.0, 0.0, -0.0), 1)
    val df = (random ++ crafted).toDF("cell", "v").repartition(5)
      .withColumn("f", col("v").cast("array<float>"))
    // the pre-round-17 exploded formulation, verbatim
    def exploded(vc: String) = df
      .select(col("cell"), posexplode(col(vc).cast("array<double>")).as(Seq("j", "x")))
      .groupBy(col("cell"), col("j"))
      .agg(round(sum(col("x").cast(DecimalType(28, 10))).cast("double") /
        count(lit(1)), 9).as("m"))
      .groupBy(col("cell"))
      .agg(collect_list(struct(col("j"), col("m"))).as("_jm"))
      .select(col("cell").as("cid"),
        transform(array_sort(col("_jm")), e => e.getField("m")).as("cv"))
    import org.apache.spark.sql.graftshim.ColumnBridge
    // the aggregate reads the column as stored: float arrays uncast
    def vecSums(vc: String) = df
      .groupBy(col("cell"))
      .agg(ColumnBridge.column(
        graft.functions.expr.VecSumDecAgg(ColumnBridge.expression(col(vc)))
          .toAggregateExpression()).as("_sc"))
    def vectorState(vc: String) = vecSums(vc)
      .select(col("cell").as("cid"),
        zip_with(col("_sc.sums"), col("_sc.counts"),
          (s, c) => round(s.cast("double") / c, 9)).as("cv"))
      .filter(size(col("cv")) > 0)
    def rows(d: DataFrame) = d.orderBy(col("cid")).collect()
      .map(r => (r.getLong(0), r.getSeq[java.lang.Double](1).toList)).toList
    // the raw per-(cell, j) decimal sums too: round(…, 9) of the mean
    // would hide a one-unit error in the 10th decimal
    def sums(d: DataFrame) = d.collect()
      .map(r => ((r.getLong(0), r.getInt(1)), r.getDecimal(2))).toMap
    for (vc <- Seq("v", "f")) {
      val old = rows(exploded(vc))
      assert(old.map(_._1).toSet == (0L until 7L).toSet ++ (10L to 14L), vc)
      assert(rows(vectorState(vc)) == old, vc)
      val oldSums = sums(df
        .select(col("cell"), posexplode(col(vc).cast("array<double>")).as(Seq("j", "x")))
        .groupBy(col("cell"), col("j"))
        .agg(sum(col("x").cast(DecimalType(28, 10)))))
      val newSums = sums(vecSums(vc).select(col("cell"), posexplode(col("_sc.sums"))))
      assert(newSums == oldSums, vc)
    }
  }

  test("fast scale-10 conversion equals toDec wherever it is taken") {
    import graft.functions.expr.VecSumDecAgg.{Slow, toDec, unscaled10}
    val rnd = new scala.util.Random(11)
    var taken = 0L
    def check(x: Double): Boolean = {
      val u = unscaled10(x)
      if (u != Slow) {
        taken += 1
        val want = toDec(x).unscaledValue
        assert(java.math.BigInteger.valueOf(u) == want, s"x=$x fast=$u toDec=$want")
      }
      u == Slow
    }
    val n = 1200000
    var i = 0
    while (i < n) {
      val x = i % 4 match {
        case 0 => (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(9) - 4)
        case 1 => rnd.nextGaussian().toFloat.toDouble
        case 2 => rnd.nextInt(20000000) * 1e-10 + 5e-11 // ties at scale 10
        case _ => java.lang.Double.longBitsToDouble(rnd.nextLong())
      }
      check(x)
      i += 1
    }
    assert(taken > n / 2, s"fast path taken for only $taken of $n")
    val crafted = halfBoundary ++ (0 until 100000).map(k => k * 1e-10 + 5e-11)
    assert(crafted.count(check) > 0, "crafted ties never reached the fallback")
    // the non-finite and out-of-bound inputs always fall back
    for (x <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
        1e4, -1e4, 1e17))
      assert(unscaled10(x) == Slow, s"x=$x")
  }

  test("clusters that lose all members drop out") {
    import spark.implicits._
    // both seeds sit in blob A's territory except one that captures all
    val farSeeds = Seq(
      (0L, Array(1.0, 0.0, 0.0)),
      (99L, Array(100.0, 100.0, 100.0))) // captures nothing
      .toDF("cid", "cv")
    val cents = KMeans.lloyd(vecs, "vec_id", "embedding", farSeeds, iters = 1)
    assert(cents.select("cid").collect().map(_.getLong(0)).toSet == Set(0L))
  }
}
