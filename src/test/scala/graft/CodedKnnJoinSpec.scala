package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ann.{CodedKnnJoin, IvfIndex, Pq, Sq}

/** The coded corpus kNN joins (graft.ann.CodedKnnJoin) and their SDC
  * kernels — the knn_join_ivfpq / knn_join_ivfsq operators.
  */
class CodedKnnJoinSpec extends SparkSpecBase {

  private val Dim = 64

  private def fixture() = {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val dir = Files.createTempDirectory("codedknn").toString
    val cents = emb.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val idx = IvfIndex.build(emb, "vec_id", "embedding", cents, "cid", "cv", dir)
    (emb, dir, idx)
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select(col("qid"), col("vec_id"), col("score"), col("rk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet

  test("with candidates >= every block, the SDC cut is a no-op and BOTH " +
      "coded joins equal the exact knnJoinSelf row-for-row") {
    val (emb, dir, idx) = fixture()
    val n = emb.count().toInt
    // exact side
    val exactProbe = s"$dir/pe"
    idx.selfProbeTable(np = 3, keepCols = Seq("label"))
      .write.mode("overwrite").parquet(exactProbe)
    val exact = rows(idx.knnJoinSelf(
      spark.read.parquet(exactProbe), Seq("label"), k = 3))
    // candidates = n bounds every per-query candidate set, so the cut
    // keeps everything and the exact rerank IS the scorer
    val books = Pq.fit(emb, "vec_id", "embedding",
      dim = Dim, nSub = 8, seedMod = math.max(1L, n / 32L), iters = 1)
    val pqProbe = s"$dir/pq"
    CodedKnnJoin.buildProbeTable(idx, books, np = 3, Seq("label"))
      .write.mode("overwrite").parquet(pqProbe)
    val viaPq = rows(CodedKnnJoin.knnJoinSelf(idx,
      spark.read.parquet(pqProbe), books, Seq("label"), k = 3, candidates = n))
    assert(viaPq == exact)
    val grid = Sq.fit(emb, "embedding", Dim)
    val sqProbe = s"$dir/sq"
    CodedKnnJoin.buildProbeTable(idx, grid, np = 3, Seq("label"))
      .write.mode("overwrite").parquet(sqProbe)
    val viaSq = rows(CodedKnnJoin.knnJoinSelf(idx,
      spark.read.parquet(sqProbe), grid, Seq("label"), k = 3, candidates = n))
    assert(viaSq == exact)
    assert(exact.nonEmpty)
  }

  test("the coded probe table's rank-1 rows reproduce the layout's cell " +
      "assignment (members side == the layout)") {
    val (emb, dir, idx) = fixture()
    val grid = Sq.fit(emb, "embedding", Dim)
    val fromProbe = CodedKnnJoin.buildProbeTable(idx, grid, np = 3, Seq("label"))
      .filter(col("prank") === 1)
      .select(col("qid"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fromLayout = idx.cells
      .select(col("vec_id"), col("cell").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromProbe == fromLayout)
  }

  test("a query-subset evaluation still ranks against the FULL corpus " +
      "(queryPred filters probes, never members)") {
    val (emb, dir, idx) = fixture()
    val grid = Sq.fit(emb, "embedding", Dim)
    val sqProbe = s"$dir/sq"
    CodedKnnJoin.buildProbeTable(idx, grid, np = 3, Seq("label"))
      .write.mode("overwrite").parquet(sqProbe)
    val probes = spark.read.parquet(sqProbe)
    val full = rows(CodedKnnJoin.knnJoinSelf(idx, probes, grid,
      Seq("label"), k = 3, candidates = 6))
    val subset = rows(CodedKnnJoin.knnJoinSelf(idx, probes, grid,
      Seq("label"), k = 3, candidates = 6, queryPred = col("qid") < 8))
    assert(subset == full.filter(_._1 < 8))
    assert(subset.nonEmpty)
  }

  test("the SQ8 join refuses a probe artifact encoded at another dim " +
      "(schema-metadata gate, no job)") {
    val (emb, dir, idx) = fixture()
    val grid = Sq.fit(emb, "embedding", Dim)
    val sqProbe = s"$dir/sq"
    CodedKnnJoin.buildProbeTable(idx, grid, np = 3, Seq("label"))
      .write.mode("overwrite").parquet(sqProbe)
    val drifted = Sq.Grid(grid.lo.take(Dim - 1), grid.step.take(Dim - 1))
    val e = intercept[IllegalArgumentException] {
      CodedKnnJoin.knnJoinSelf(idx, spark.read.parquet(sqProbe), drifted,
        Seq("label"), k = 3, candidates = 6)
    }
    assert(e.getMessage.contains(s"encoded at dim $Dim"),
      s"unexpected message: ${e.getMessage}")
  }

  test("SqSdc compute over packed codes matches the brute " +
      "dequantized-gap fold and truncates to the step2 prefix") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val a = Array[Byte](0, 127.toByte, 255.toByte, 10, 9, 8, 7, 6, 5)
    val b = Array[Byte](3, 130.toByte, 250.toByte, 10, 9, 7, 7, 6, 4)
    val pa = new GenericArrayData(graft.functions.expr.SqPack.pack(a))
    val pb = new GenericArrayData(graft.functions.expr.SqPack.pack(b))
    val step = Array(0.5, 0.25, 2.0, 1.0, 0.5, 1.5, 2.5, 0.75, 1.25)
    val step2 = step.map(s => s * s)
    def brute(n: Int): Double = (0 until n).map { d =>
      val di = (a(d) & 0xff) - (b(d) & 0xff)
      (di * di).toDouble * step2(d)
    }.sum
    assert(graft.functions.expr.SqSdc.compute(pa, pb, step2, 9) == brute(9))
    assert(graft.functions.expr.SqSdc.compute(pa, pb, step2.take(2), 9) == brute(2))
    assert(graft.functions.expr.SqSdc.compute(pa, pa, step2, 9) == 0.0)
  }

  test("SqPack round-trips codes little-endian with a zero-padded tail") {
    val b = Array[Byte](1, 2, 255.toByte, 0, 4, 5, 6, 7, 8, 9)
    val packed = graft.functions.expr.SqPack.pack(b)
    assert(packed.length == 2)
    b.indices.foreach { d =>
      val got = ((packed(d >>> 3) >>> ((d & 7) << 3)) & 0xffL).toInt
      assert(got == (b(d) & 0xff), s"byte $d")
    }
    // pad bytes beyond the input are zero
    assert(((packed(1) >>> 16) & 0xffffffffffffL) == 0L)
  }

  test("SqSdc rejects mismatched packed code lengths (dim-drifted " +
      "artifacts must fail loudly, not fold a truncated partial distance)") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val a = new GenericArrayData(
      graft.functions.expr.SqPack.pack(Array.fill[Byte](16)(1)))
    val b = new GenericArrayData(
      graft.functions.expr.SqPack.pack(Array.fill[Byte](8)(1)))
    val step2 = Array.fill(16)(1.0)
    val e = intercept[IllegalArgumentException] {
      graft.functions.expr.SqSdc.compute(a, b, step2, 16)
    }
    assert(e.getMessage.contains("code length mismatch"))
  }

  test("chooseJoinRung encodes the measured BENCH_DIM_r15 crossover: " +
      "exact below dim 256 or np 32, SQ8-SDC above, prefix fold from dim 512") {
    import CodedKnnJoin.chooseJoinRung
    assert(chooseJoinRung(dim = 64, np = 16) == "exact")  // bench gate geometry
    assert(chooseJoinRung(dim = 768, np = 16) == "exact") // measured: exact wins time, −18% bytes not worth it
    assert(chooseJoinRung(dim = 256, np = 32) == "sq")
    assert(chooseJoinRung(dim = 768, np = 48) == "sq-prefix") // measured: wins both axes
    assert(chooseJoinRung(dim = 4096, np = 64) == "sq-prefix")
    // PQ-SDC is never auto-chosen: its C≈32 rerank loses bytes at
    // every measured geometry (BENCH_DIM_r15: +146% np16, +28% np48)
    Seq((64, 16), (256, 32), (768, 48), (4096, 64)).foreach { case (d, p) =>
      assert(chooseJoinRung(d, p) != "pq")
    }
  }

  test("PQ buildProbeTable validates codebooks at artifact-build time " +
      "(a non-dense fit must fail BEFORE persisting corrupt packed codes)") {
    val (emb, _, idx) = fixture()
    val n = emb.count().toInt
    val goodBooks = Pq.fit(emb, "vec_id", "embedding",
      dim = Dim, nSub = 8, seedMod = math.max(1L, n / 32L), iters = 1)
    // non-dense codeword ids: shift every cid up by 1
    val badBooks = Pq.Books(
      goodBooks.codebooks.map(_.map { case (cid, cv) => (cid + 1, cv) }))
    val e = intercept[IllegalArgumentException] {
      CodedKnnJoin.buildProbeTable(idx, badBooks, np = 2).count()
    }
    assert(e.getMessage.contains("dense 0..K-1"))
  }

  test("PqSdc compute matches the brute codeword-table lookup over " +
      "packed codes, and flags out-of-range codes as +Inf") {
    // 2 subspaces, K = 3: lut(s)(ca*3+cb)
    val lut = Array(
      Array(0.0, 1.0, 4.0, 1.0, 0.0, 1.0, 4.0, 1.0, 0.0),
      Array(0.0, 9.0, 16.0, 9.0, 0.0, 25.0, 16.0, 25.0, 0.0))
    def pack(c0: Long, c1: Long): Long = c0 | (c1 << 8)
    assert(graft.functions.expr.PqSdc.compute(pack(0, 2), pack(2, 1), lut, 3)
      == 4.0 + 25.0)
    assert(graft.functions.expr.PqSdc.compute(pack(1, 1), pack(1, 1), lut, 3) == 0.0)
    assert(graft.functions.expr.PqSdc.compute(pack(3, 0), pack(0, 0), lut, 3)
      .isPosInfinity)
  }

  test("SDC kernel instances with equal array CONTENT are equal " +
      "(semanticEquals — the round-13 NearestCentroids law)") {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val ba = BoundReference(0, ArrayType(LongType), nullable = true)
    val bb = BoundReference(1, ArrayType(LongType), nullable = true)
    val la = BoundReference(0, LongType, nullable = true)
    val lb = BoundReference(1, LongType, nullable = true)
    def sq(s: Array[Double]) = graft.functions.expr.SqSdc(ba, bb, s, s.length)
    assert(sq(Array(1.0, 2.0)) == sq(Array(1.0, 2.0)))
    assert(sq(Array(1.0, 2.0)).hashCode == sq(Array(1.0, 2.0)).hashCode)
    assert(sq(Array(1.0, 2.0)) != sq(Array(1.0, 3.0)))
    def pq(l: Array[Array[Double]]) = graft.functions.expr.PqSdc(la, lb, l, 1)
    assert(pq(Array(Array(1.0))) == pq(Array(Array(1.0))))
    assert(pq(Array(Array(1.0))) != pq(Array(Array(2.0))))
  }
}
