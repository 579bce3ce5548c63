package graft

import org.apache.spark.sql.functions._

import graft.ann.Pq

/** The ann_pq DuckDB oracle checks engine parity on the driver
  * corpus; these check the quantizer itself: partition-invariant
  * deterministic fits, byte-packable codes, and that ADC actually
  * retrieves near neighbors on separable data.
  */
class PqSpec extends SparkSpecBase {

  private val Dim = 8
  private val NSub = 2

  /** Two well-separated clusters on the unit sphere: ids < 50 hug
    * e0 (+ small deterministic jitter), ids >= 50 hug e4.
    */
  private lazy val clustered = {
    import spark.implicits._
    (0L until 100L).map { i =>
      val base = if (i < 50) 0 else 4
      val v = Array.tabulate(Dim) { j =>
        val jitter = ((i * 7 + j * 13) % 11).toDouble / 100.0
        if (j == base) 1.0 else jitter
      }
      (i, v)
    }.toDF("vec_id", "embedding")
  }

  test("fit is deterministic and partition-invariant") {
    def centroids(parts: Int): Seq[Seq[(Long, Seq[Double])]] =
      Pq.fit(clustered.repartition(parts), "vec_id", "embedding",
          dim = Dim, nSub = NSub, seedMod = 25, iters = 2)
        .map(_.orderBy("cid").collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq)
    assert(centroids(1) == centroids(13))
  }

  test("null and short vectors take no part in the fit") {
    import spark.implicits._
    def books(corpus: org.apache.spark.sql.DataFrame) =
      Pq.fit(corpus, "vec_id", "embedding",
          dim = Dim, nSub = NSub, seedMod = 25, iters = 2)
        .map(_.orderBy("cid").collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq)
    // 200 and 225 fall on the seed rule (id ≡ 0 mod 25), 201 and 226
    // do not: the null/short vector shows up as a seed and as a member
    val degenerate = Seq[(Long, Array[Double])](
      (200L, null), (201L, null),
      (225L, Array(0.5, 0.5, 0.5)), (226L, Array(0.9, 0.1, 0.0)))
      .toDF("vec_id", "embedding")
    assert(books(clustered.union(degenerate)) == books(clustered))
  }

  test("codes are dense, byte-packable, and cover every row") {
    val books = Pq.fit(clustered, "vec_id", "embedding",
      dim = Dim, nSub = NSub, seedMod = 25, iters = 1)
    val enc = Pq.encode(clustered, "vec_id", "embedding", books, Dim)
    assert(enc.count() == 100)
    for (s <- 0 until NSub) {
      val stats = enc.agg(
        min(col(s"code$s")), max(col(s"code$s")),
        countDistinct(col(s"code$s"))).head()
      assert(stats.getLong(0) >= 0L && stats.getLong(1) < 256L,
        s"subspace $s codes not byte-ranged: $stats")
    }
  }

  test("ADC retrieves the query's cluster on separable data") {
    import spark.implicits._
    val books = Pq.fit(clustered, "vec_id", "embedding",
      dim = Dim, nSub = NSub, seedMod = 25, iters = 2)
    val enc = Pq.encode(clustered, "vec_id", "embedding", books, Dim)
    val qv = clustered.filter($"vec_id" === 0L)
      .select($"embedding").head().getSeq[Double](0).toArray
    val top = Pq.adcTopK(enc, "vec_id", "embedding", books, qv, k = 10)
      .select($"vec_id").as[Long].collect()
    assert(top.length == 10)
    // every retrieved id must come from the query's cluster (< 50)
    assert(top.forall(_ < 50L), s"cross-cluster retrieval: ${top.toList}")
    // ADC ascending means the first hit is the query itself
    assert(top.head == 0L)
  }

  test("adcTopK carries extra columns through the code-only scan (IVF×PQ shape)") {
    import spark.implicits._
    val books = Pq.fit(clustered, "vec_id", "embedding",
      dim = Dim, nSub = NSub, seedMod = 25, iters = 1)
    val enc = Pq.encode(
      clustered.withColumn("part_cell", (col("vec_id") / 50).cast("long")),
      "vec_id", "embedding", books, Dim)
    val qv = clustered.filter($"vec_id" === 0L)
      .select($"embedding").head().getSeq[Double](0).toArray
    val out = Pq.adcTopK(enc.filter($"part_cell" === 0L),
      "vec_id", "embedding", books, qv, k = 5, carryCols = Seq("part_cell"))
    val rows = out.select($"vec_id", $"part_cell").as[(Long, Long)].collect()
    assert(rows.length == 5)
    assert(rows.forall { case (id, cell) => cell == 0L && id < 50L })
  }
}
