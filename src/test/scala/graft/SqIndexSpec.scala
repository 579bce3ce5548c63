package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ann.{CodedIndex, Quantizer, Sq}

/** The ann_sq_persisted oracle pins result identity to the in-query
  * ann_sq plan; these check the SQ8 mechanics: the grid brackets the
  * corpus, codes dequantize within half a step, search through the
  * persisted layout equals the in-memory path, and the candidate scan
  * reads ONLY the binary code column (the 4× I/O cut that is the
  * point of the layout).
  */
class SqIndexSpec extends SparkSpecBase {

  private val Dim = 64

  private lazy val dir = Files.createTempDirectory("sqidx").toString

  private lazy val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")

  private lazy val grid: Sq.Grid = Sq.fit(emb, "embedding", Dim)

  private lazy val idx: CodedIndex[Sq.Grid] = {
    CodedIndex.build(emb, "embedding", grid, dir)
    CodedIndex.load(spark, dir, "vec_id", "embedding", Sq.Grid.load)
  }

  private lazy val q0: Array[Double] =
    emb.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray

  test("grid brackets the corpus and persists exactly") {
    assert(grid.lo.length == Dim && grid.step.length == Dim)
    assert(grid.step.forall(_ >= 0.0))
    assert(idx.model.lo.toSeq == grid.lo.toSeq)
    assert(idx.model.step.toSeq == grid.step.toSeq)
  }

  test("every vector dequantizes within half a step per dimension") {
    val rows = grid.encode(emb, "embedding")
      .select(col("embedding").cast("array<double>"), col("codes"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val v = r.getSeq[Double](0)
      val codes = r.getAs[Array[Byte]](1)
      assert(codes.length == Dim)
      (0 until Dim).foreach { d =>
        val c = codes(d) & 0xff
        if (grid.step(d) > 0) {
          val deq = grid.lo(d) + (c + 0.5) * grid.step(d)
          assert(math.abs(v(d) - deq) <= grid.step(d) * 0.5 + 1e-12,
            s"dim $d: ${v(d)} vs dequant $deq (step ${grid.step(d)})")
        } else assert(c == 0)
      }
    }
  }

  test("search through the persisted layout equals the in-memory SQ path") {
    val enc = grid.encode(emb, "embedding")
    val inMem = Quantizer.candidateTopK(enc, "vec_id", "embedding", grid, q0,
        k = 5, candidates = 20)
      .collect().map(_.toString).toSeq
    val fromDisk = idx.search(q0, k = 5, candidates = 20)
      .collect().map(_.toString).toSeq
    assert(fromDisk == inMem)
    assert(fromDisk.nonEmpty)
  }

  test("candidate pass scans only the binary code column, never the vectors") {
    val df = idx.search(q0, k = 3, candidates = 10)
    val scans = df.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(scans.exists(l => l.contains("codes") && !l.contains("embedding")),
      s"no code-only scan found:\n${scans.mkString("\n")}")
    assert(df.collect().length == 3)
  }

  test("ADC ranks the query's own vector first (self-distance is minimal)") {
    val top = idx.search(q0, k = 1, candidates = 10).head()
    assert(top.getLong(0) == 0L)
    assert(top.getDouble(top.fieldIndex("exact_score")) == 1.0)
  }

  test("SqEncode/SqAdc generate compilable code (no interpreted fallback)") {
    import org.apache.spark.sql.execution.debug._
    // codegenString compiles every WholeStageCodegen subtree; a kernel
    // whose doGenCode emits broken Java shows up as an exception here
    // (silent fallback would keep results right but lose the tight
    // loop the kernels exist for)
    val df = grid.encode(emb, "embedding")
      .select(col("vec_id"), col("codes"))
    val cg = df.queryExecution.debug.codegenToSeq()
    assert(cg.nonEmpty)
    val adc = idx.search(q0, k = 3, candidates = 10)
    adc.collect() // finalize the adaptive plan before reading it
    // the '*(n)' node prefix marks WholeStageCodegen membership — the
    // sq_adc projection must carry it (an uncompilable kernel would
    // fall back to an unstarred Project)
    val plan = adc.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("sq_adc") && l.contains("*(")),
      s"sq_adc projection not inside WholeStageCodegen:\n$plan")
  }

  test("encoding below the grid floor clamps to code 0 (stale-grid contract)") {
    import spark.implicits._
    // the load-then-query contract invites encoding NEW rows
    // against a persisted stale grid; a value below lo must clamp to
    // 0, not floor negative and wrap through the byte cast to 255
    val grid2 = Sq.Grid(Array(10.0, 10.0), Array(1.0, 1.0))
    val rows = Seq((1L, Array(-500.0f, 9.99f)), (2L, Array(10.0f, 300.0f)))
      .toDF("vec_id", "embedding")
    val got = grid2.encode(rows, "embedding")
      .select(col("vec_id"), col("codes")).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(got(1L).toSeq == Seq(0.toByte, 0.toByte),
      s"below-lo must clamp to 0, got ${got(1L).toSeq}")
    assert(got(2L).toSeq == Seq(0.toByte, 255.toByte),
      s"expected (0, 255), got ${got(2L).toSeq}")
  }

  test("fit refuses an empty or all-null corpus with a named error") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val allNull = Seq[(Long, Array[Float])]((1L, null), (2L, null))
      .toDF("vec_id", "embedding")
    Seq(empty, allNull).foreach { corpus =>
      val e = intercept[IllegalArgumentException] {
        Sq.fit(corpus, "embedding", Dim)
      }
      assert(e.getMessage.contains("empty corpus"),
        s"unexpected message: ${e.getMessage}")
    }
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
