package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ann.{CodedIndex, Pq, Quantizer}

/** The ann_pq_persisted oracle pins result identity to the in-query
  * ann_pq plan; these check the index mechanics: the layout carries
  * byte-ranged codes, search through the persisted layout equals
  * search over the in-memory encode, and the candidate scan reads
  * ONLY the code columns off disk (the 32× I/O reduction that is the
  * point of a persisted PQ layout).
  */
class PqIndexSpec extends SparkSpecBase {

  private val Dim = 64
  private val NSub = 8

  private lazy val dir = Files.createTempDirectory("pqidx").toString

  private lazy val books = {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    Pq.fit(emb, "vec_id", "embedding",
        dim = Dim, nSub = NSub, seedMod = 25L, iters = 1)
  }

  private lazy val idx: CodedIndex[Pq.Books] = {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    CodedIndex.build(emb, "embedding", books, dir)
    CodedIndex.load(spark, dir, "vec_id", "embedding", Pq.Books.load(NSub))
  }

  private lazy val q0: Array[Double] =
    Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray

  test("layout covers the corpus once, with one byte-ranged code per subspace") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    assert(idx.codes.count() == emb.count())
    val ranges = idx.codes
      .agg(max(col("code0")), max(col(s"code${NSub - 1}")),
        min(col("code0")), min(col(s"code${NSub - 1}")))
      .head()
    assert(ranges.getLong(0) <= 255L && ranges.getLong(2) >= 0L,
      s"codes must be byte-rangeable: $ranges")
  }

  test("search through the persisted layout equals the in-memory PQ path") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val enc = books.encode(emb, "embedding")
    val inMem = Quantizer.candidateTopK(enc, "vec_id", "embedding", books, q0,
        k = 5, candidates = 20)
      .collect().map(_.toString).toSeq
    val fromDisk = idx.search(q0, k = 5, candidates = 20)
      .collect().map(_.toString).toSeq
    assert(fromDisk == inMem)
    assert(fromDisk.nonEmpty)
  }

  test("candidate pass scans only the code columns, never the vectors") {
    val df = idx.search(q0, k = 3, candidates = 10)
    // AQE hides scan nodes from TreeNode.collect — read the plan text
    val scans = df.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("ReadSchema")).toSeq
    // two scans of the codes layout: the candidate pass (id + codes,
    // NO vector column — column pruning is the layout's point) and
    // the bounded rerank fetch (id + vector)
    assert(scans.exists(l => l.contains("code0") && !l.contains("embedding")),
      s"no code-only scan found:\n${scans.mkString("\n")}")
    assert(df.collect().length == 3)
  }

  test("a query vector of another dim is a named error, not a misaligned ADC") {
    Seq(q0.take(Dim - 1), q0 :+ 0.5).foreach { qv =>
      val e = intercept[IllegalArgumentException] {
        idx.search(qv, k = 3, candidates = 10).collect()
      }
      assert(e.getMessage.contains(s"fitted at $Dim"),
        s"unexpected message: ${e.getMessage}")
    }
  }
}
