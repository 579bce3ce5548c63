package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ann.{CodedKnnJoin, IvfIndex, Pq, Sq}

/** Incremental maintenance of the CODED probe artifacts
  * (CodedKnnJoin.appendProbe, PQ and SQ8 rungs): a batch tick's rows,
  * encoded against the FROZEN code model and appended, must be
  * row-identical to a full rebuild that uses the same frozen model —
  * probe placement depends only on the layout's frozen centroids and
  * codes only on the frozen books/grid, so append ≡ rebuild is an
  * algebraic identity (the SelfProbeMaintenanceSpec discipline for
  * the coded rungs). A model refit is a re-index, never an append.
  */
class CodedProbeMaintenanceSpec extends SparkSpecBase {

  private val Dim = 64

  private def fixture(splitMod: Int, splitRem: Int) = {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val base = emb.filter(pmod(col("vec_id"), lit(splitMod)) =!= splitRem)
    val batch = emb.filter(pmod(col("vec_id"), lit(splitMod)) === splitRem)
    val dir = Files.createTempDirectory("codedmaint").toString
    val cents = emb.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val idx = IvfIndex.build(base, "vec_id", "embedding", cents, "cid", "cv", dir)
    (emb, base, batch, dir, idx)
  }

  private def pqRows(df: DataFrame) =
    df.select(col("qid"), col("q_label").cast("long"), col("prank"),
        col("cell"), col("qcode"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3), r.getLong(4))).toSet

  private def sqRows(df: DataFrame) =
    // qcode is the packed-long code array (SqPack); canon as a csv
    df.select(col("qid"), col("q_label").cast("long"), col("prank"),
        col("cell"), concat_ws(",", col("qcode")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3), r.getString(4))).toSet

  test("PQ probe append ≡ rebuild with the same frozen books") {
    val (emb, base, batch, dir, idx) = fixture(10, 7)
    // books fitted on the BASE corpus version and frozen — the model
    // the standing pipeline serves
    val books = Pq.fit(base, "vec_id", "embedding",
      dim = Dim, nSub = 8, seedMod = 25L, iters = 1)
    val path = s"$dir/pqprobe"
    CodedKnnJoin.buildProbeTable(idx, books, np = 3, Seq("label"))
      .write.mode("overwrite").parquet(path)
    idx.append(batch)
    CodedKnnJoin.appendProbe(idx, batch, path, books, np = 3, Seq("label"))
    val maintained = pqRows(spark.read.parquet(path))
    val rebuilt = pqRows(
      CodedKnnJoin.buildProbeTable(idx, books, np = 3, Seq("label")))
    assert(maintained == rebuilt)
    assert(maintained.nonEmpty)
  }

  test("SQ8 probe append ≡ rebuild with the same frozen grid, and the " +
      "coded join over the maintained artifact matches the rebuilt one") {
    val (emb, base, batch, dir, idx) = fixture(10, 3)
    val grid = Sq.fit(base, "embedding", Dim)
    val path = s"$dir/sqprobe"
    CodedKnnJoin.buildProbeTable(idx, grid, np = 3, Seq("label"))
      .write.mode("overwrite").parquet(path)
    idx.append(batch)
    CodedKnnJoin.appendProbe(idx, batch, path, grid, np = 3, Seq("label"))
    val maintained = sqRows(spark.read.parquet(path))
    val rebuilt = sqRows(
      CodedKnnJoin.buildProbeTable(idx, grid, np = 3, Seq("label")))
    assert(maintained == rebuilt)
    assert(maintained.nonEmpty)
    def joined(probes: DataFrame) =
      CodedKnnJoin.knnJoinSelf(idx, probes, grid, Seq("label"),
          k = 3, candidates = 6)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).toSet
    val viaMaintained = joined(spark.read.parquet(path))
    val viaRebuilt = joined(
      CodedKnnJoin.buildProbeTable(idx, grid, np = 3, Seq("label")))
    assert(viaMaintained == viaRebuilt)
    assert(viaMaintained.nonEmpty)
  }
}
