package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ann.{IvfPqIndex, Pq, Quantizer}

/** The ann_ivf_pq_persisted oracle pins result identity to the
  * in-query ann_ivf_pq plan; these check the index mechanics: the
  * layout carries codes + vectors once per row, the probe is static
  * partition pruning (not a post-scan row filter), and search through
  * the persisted layout equals search over the in-memory encode.
  */
class IvfPqIndexSpec extends SparkSpecBase {

  private val Dim = 64
  private val NSub = 8

  private lazy val dir = Files.createTempDirectory("ivfpq").toString

  private lazy val idx: IvfPqIndex = {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val cents = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    // residual-fit books: the build contract (FAISS IVFPQ encodes
    // x − centroid(cell), so the codebooks must be trained on the
    // same residual frame the encode consumes)
    val withRes = IvfPqIndex.residualFrame(emb, "vec_id", "embedding",
      cents, "cid", "cv")
    val books = Pq.fit(withRes, "vec_id", "_res",
        dim = Dim, nSub = NSub, seedMod = 25L, iters = 1)
    IvfPqIndex.build(emb, "vec_id", "embedding", cents, "cid", "cv",
      books, dir)
  }

  private lazy val q0: Array[Double] =
    Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray

  test("layout covers the corpus once, with one byte-ranged code per subspace") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    assert(idx.cells.count() == emb.count())
    val ranges = idx.cells
      .agg(max(col("code0")), max(col(s"code${NSub - 1}")),
        min(col("code0")), min(col(s"code${NSub - 1}")))
      .head()
    assert(ranges.getLong(0) <= 255L && ranges.getLong(2) >= 0L,
      s"codes must be byte-rangeable: $ranges")
  }

  test("probe + search equals the in-memory residual IVF x PQ path row for row") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val cents = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val withRes = IvfPqIndex.residualFrame(emb, "vec_id", "embedding",
      cents, "cid", "cv")
    val books = Pq.fit(withRes, "vec_id", "_res",
        dim = Dim, nSub = NSub, seedMod = 25L, iters = 1)
    val enc = books.encode(withRes, "_res")
      .withColumnRenamed("_ivf_cell", "ivf_cell")
    val probed = idx.probeCells(q0, nprobe = 2)
    val probedCents = cents
      .select(col("cid").cast("long"), col("cv").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .filter { case (c, _) => probed.contains(c) }.toSeq
    val inMem = Quantizer.candidateTopK(
        enc.filter(col("ivf_cell").isin(probed: _*)), "vec_id", "embedding",
        books.perCell("ivf_cell", probedCents), q0,
        k = 5, candidates = 20, carryCols = Seq("ivf_cell"))
      .withColumnRenamed("ivf_cell", "cell")
      .collect().map(_.toString).toSeq
    val fromDisk = idx.searchCells(probed, q0, k = 5, candidates = 20)
      .withColumn("cell", col("cell").cast("long"))
      .collect().map(_.toString).toSeq
    assert(fromDisk == inMem)
    assert(fromDisk.nonEmpty)
  }

  test("probeCells: a query of another dim is a named error; a non-finite " +
      "query probes no cell and searchCells refuses the empty probe set") {
    for (q <- Seq(q0.take(Dim - 1), q0 :+ 0.0)) {
      val e = intercept[IllegalArgumentException](idx.probeCells(q, nprobe = 2))
      assert(e.getMessage.contains("query dim"), e.getMessage)
    }
    val nanQ = q0.updated(3, Double.NaN)
    val probed = idx.probeCells(nanQ, nprobe = 2)
    assert(probed.isEmpty)
    val e = intercept[IllegalArgumentException](
      idx.searchCells(probed, nanQ, k = 3, candidates = 10))
    assert(e.getMessage.contains("Pq.PerCell"), e.getMessage)
  }

  test("static cell probe compiles to partition pruning") {
    val probed = idx.probeCells(q0, nprobe = 2)
    val df = idx.searchCells(probed, q0, k = 3, candidates = 10)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), s"plan:\n$plan")
    assert(df.collect().length == 3)
  }
}
