package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ann.{Bq, CodedIndex, Quantizer}
import graft.functions.expr.BqKernel

/** The ann_bq / ann_bq_persisted oracles pin result identity to the
  * DuckDB bit replay; these check the 1-bit mechanics: kernel encode
  * ≡ the driver-side encodeLocal (the query is encoded on the driver,
  * the corpus in the kernel — drift would skew every hamming
  * distance), packed-byte hamming ≡ unpacked bit count, persisted
  * search ≡ in-memory search, the candidate scan reads ONLY the
  * 8-byte code column, and both kernels stay inside
  * WholeStageCodegen.
  */
class BqSpec extends SparkSpecBase {

  private val Dim = 64

  private lazy val dir = Files.createTempDirectory("bqidx").toString

  private lazy val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")

  private lazy val th: Bq.Thresholds = Bq.fit(emb, "embedding", Dim)

  private lazy val idx: CodedIndex[Bq.Thresholds] = {
    CodedIndex.build(emb, "embedding", th, dir)
    CodedIndex.load(spark, dir, "vec_id", "embedding", Bq.Thresholds.load)
  }

  private lazy val q0: Array[Double] =
    emb.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray

  test("thresholds are corpus midpoints and persist exactly") {
    assert(th.mid.length == Dim)
    assert(idx.model.mid.toSeq == th.mid.toSeq)
  }

  test("fit refuses an empty corpus with a clear message (no opaque NPE)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Bq.fit(empty.select(col("embedding")), "embedding", Dim)
    }
    assert(e.getMessage.contains("empty corpus"),
      s"unexpected message: ${e.getMessage}")
  }

  test("kernel encode matches driver-side encodeLocal on every row") {
    val rows = th.encode(emb, "embedding")
      .select(col("embedding").cast("array<double>"), col("bcodes"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val v = r.getSeq[Double](0).toArray
      val kernel = r.getAs[Array[Byte]](1)
      assert(kernel.length == Dim / 8)
      assert(kernel.toSeq == BqKernel.encodeLocal(v, th.mid).toSeq)
    }
  }

  test("packed-byte hamming equals unpacked bit-difference count") {
    val rows = th.encode(emb, "embedding")
      .limit(50)
      .select(col("embedding").cast("array<double>"), col("bcodes"))
      .collect()
    val qCodes = BqKernel.encodeLocal(q0, th.mid)
    rows.foreach { r =>
      val v = r.getSeq[Double](0).toArray
      val codes = r.getAs[Array[Byte]](1)
      val packed = codes.zip(qCodes)
        .map { case (a, b) => java.lang.Integer.bitCount((a ^ b) & 0xff) }.sum
      val unpacked = (0 until Dim).count(d => (v(d) > th.mid(d)) != (q0(d) > th.mid(d)))
      assert(packed == unpacked, s"packed $packed vs unpacked $unpacked")
    }
  }

  test("search through the persisted layout equals the in-memory path") {
    val enc = th.encode(emb, "embedding")
    val inMem = Quantizer.candidateTopK(enc, "vec_id", "embedding", th, q0,
        k = 5, candidates = 20)
      .collect().map(_.toString).toSeq
    val fromDisk = idx.search(q0, k = 5, candidates = 20)
      .collect().map(_.toString).toSeq
    assert(fromDisk == inMem)
    assert(fromDisk.nonEmpty)
  }

  test("candidate pass scans only the 8-byte code column, never the vectors") {
    val df = idx.search(q0, k = 3, candidates = 10)
    val scans = df.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(scans.exists(l => l.contains("bcodes") && !l.contains("embedding")),
      s"no code-only scan found:\n${scans.mkString("\n")}")
    assert(df.collect().length == 3)
  }

  test("hamming ranks the query's own vector first (self-distance 0)") {
    val top = idx.search(q0, k = 1, candidates = 10).head()
    assert(top.getLong(0) == 0L)
    assert(top.getInt(top.fieldIndex("hamming")) == 0)
    assert(top.getDouble(top.fieldIndex("exact_score")) == 1.0)
  }

  test("BqEncode/BqHamming generate compilable code (no interpreted fallback)") {
    import org.apache.spark.sql.execution.debug._
    val df = th.encode(emb, "embedding")
      .select(col("vec_id"), col("bcodes"))
    val cg = df.queryExecution.debug.codegenToSeq()
    assert(cg.nonEmpty)
    val ham = idx.search(q0, k = 3, candidates = 10)
    ham.collect() // finalize the adaptive plan before reading it
    val plan = ham.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("bq_hamming") && l.contains("*(")),
      s"bq_hamming projection not inside WholeStageCodegen:\n$plan")
  }

  test("recall on the planted near-dup corpus: jittered copy is retrieved") {
    // hash-jittered replicas (CorpusShapeSpec's planted groups) stay
    // within a few sign flips of their original — the 1-bit filter's
    // entire job is to keep such rows in the candidate set
    val got = idx.search(q0, k = 10, candidates = 100)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(got.contains(0L))
    assert(got.size == 10)
  }

  test("a query vector of another dim is a named error, not a prefix score") {
    Seq(q0.take(Dim - 1), q0 :+ 0.5).foreach { qv =>
      val e = intercept[IllegalArgumentException] {
        idx.search(qv, k = 3, candidates = 10).collect()
      }
      assert(e.getMessage.contains(s"fitted at $Dim"),
        s"unexpected message: ${e.getMessage}")
    }
  }
}
