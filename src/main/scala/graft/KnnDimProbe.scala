package graft

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dimension-dependence sweep for the corpus kNN join family — the
  * measurement behind the coded joins' geometry-gated scale claim and
  * the `CodedKnnJoin.chooseJoinRung` selection rule: at the bench
  * corpus's dim=64, a float vector (256 B) costs about the same as a
  * shuffle row's key overhead, so carrying codes instead of vectors
  * barely moves total exchange bytes; at production embedding dims
  * (768-4096) the ratio inverts. This main builds the same IVF layout
  * + probe artifacts over an arbitrary-dimension corpus
  * (tools/make_dim_corpus.py) and, for each probe width in `npList`,
  * measures listener-summed shuffle bytes + warm wall time for the
  * exact join and all three coded rungs (SQ8-SDC, prefix-SDC, PQ-SDC),
  * reps per rung, emitting ONE JSON line per session. Two sessions
  * merge into BENCH_DIM_r{N}.json (tools/merge_dim_probe.py) — the
  * standard 2-session × 3-rep protocol, SHA-stamped.
  *
  * Usage: KnnDimProbe <embeddings.parquet> [npList=16,48] [cSq=6]
  *          [cPq=32] [reps=3] [outFile]
  */
object KnnDimProbe {
  def main(args: Array[String]): Unit = {
    val path = args(0)
    val npList = (if (args.length > 1) args(1) else "16,48")
      .split(',').map(_.trim.toInt).toSeq
    val cSq = if (args.length > 2) args(2).toInt else 6
    val cPq = if (args.length > 3) args(3).toInt else 32
    val reps = if (args.length > 4) args(4).toInt else 3
    val outFile = if (args.length > 5) Some(args(5)) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // match Bench: the 100-entry default thrashes across multi-query
      // runs (round-14 — every query re-compiles per sweep)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val bytes = new java.util.concurrent.atomic.AtomicLong()
    val rows = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          rows.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        }
      }
    })

    val emb = spark.read.parquet(path)
    val n = emb.count()
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val cent = graft.queries.QueryUtil.seedCentroids(emb, n)
    val dir = Files.createTempDirectory("knndim").toString
    val idx = graft.ann.IvfIndex.build(emb, "vec_id", "embedding",
      cent, "cid", "cv", dir)
    val nlist = idx.centroids.count()
    System.err.println(
      s"[dimprobe] $path n=$n dim=$dim nlist=$nlist np=${npList.mkString(",")} reps=$reps")

    // code models are corpus-version artifacts, shared across np
    val books = graft.ann.Pq.fit(emb, "vec_id", "embedding",
      dim = dim, nSub = 8, seedMod = math.max(1L, n / 32), iters = 1)
    val grid = graft.ann.Sq.fit(emb, "embedding", dim)

    /** warm once (artifact reads + codegen uncharged), then `reps`
      * timed runs; bytes from the median-bytes rep, sec as min+median
      * — the per-session stats the 2-session merge takes min/med over.
      */
    // the Bench.clearPinned lesson, applied here: the probe-table and
    // code-model BUILDS that precede each config leave dead broadcast/
    // shuffle state that only a driver GC lets ContextCleaner reclaim —
    // without this gap the FIRST measure after the builds ran 2.5× its
    // own later-config time (np16 exact 101 s vs np48 exact 40 s in the
    // same session, r15 session-1 artifact) while bytes matched exactly
    def gcGap(): Unit = { System.gc(); Thread.sleep(200) }
    def measure(tag: String, run: () => org.apache.spark.sql.DataFrame): String = {
      gcGap()
      run().write.format("noop").mode("overwrite").save() // warm
      ShuffleProbe.settle(bytes, rows)
      val ms = (1 to reps).map { _ =>
        gcGap()
        bytes.set(0); rows.set(0)
        val t0 = System.nanoTime()
        run().write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        ShuffleProbe.settle(bytes, rows)
        (bytes.get / 1e6, rows.get / 1e6, sec)
      }
      def med(xs: Seq[Double]): Double = {
        val s = xs.sorted
        if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
      }
      val (mb, mrows, secMin, secMed) =
        (med(ms.map(_._1)), med(ms.map(_._2)), ms.map(_._3).min, med(ms.map(_._3)))
      System.err.println(f"[dimprobe] $tag%-10s $mb%10.1f MB $mrows%8.2f M rows" +
        f"  sec min=$secMin%6.2f med=$secMed%6.2f (reps=$reps)")
      f""""$tag":{"mb":$mb%.1f,"mrows":$mrows%.3f,"sec_min":$secMin%.2f,"sec_med":$secMed%.2f}"""
    }

    val configs = npList.map { np =>
      // per-np ingest artifacts (not charged): exact + coded probe tables
      val exactProbe = s"$dir/p-exact-$np"
      idx.selfProbeTable(np, keepCols = Seq("label"))
        .write.mode("overwrite").parquet(exactProbe)
      val pqProbe = s"$dir/p-pq-$np"
      graft.ann.CodedKnnJoin.buildProbeTable(idx, books, np, Seq("label"))
        .write.mode("overwrite").parquet(pqProbe)
      val sqProbe = s"$dir/p-sq-$np"
      graft.ann.CodedKnnJoin.buildProbeTable(idx, grid, np, Seq("label"))
        .write.mode("overwrite").parquet(sqProbe)
      val rungs = Seq(
        measure("exact", () =>
          idx.knnJoinSelf(spark.read.parquet(exactProbe), Seq("label"), k = 3)),
        measure("coded-sq", () =>
          graft.ann.CodedKnnJoin.knnJoinSelf(idx, spark.read.parquet(sqProbe),
            grid, Seq("label"), k = 3, candidates = cSq)),
        // prefix-SDC: fold only the first dim/4 dimensions in the
        // candidate scorer (candidates widened 2× to absorb the
        // subsampled-distance selection noise)
        measure("coded-sq4", () =>
          graft.ann.CodedKnnJoin.knnJoinSelf(idx, spark.read.parquet(sqProbe),
            grid.copy(sdcDims = math.max(1, dim / 4)), Seq("label"), k = 3,
            candidates = cSq * 2)),
        measure("coded-pq", () =>
          graft.ann.CodedKnnJoin.knnJoinSelf(idx, spark.read.parquet(pqProbe),
            books, Seq("label"), k = 3, candidates = cPq)))
      s"""{"np":$np,"rungs":{${rungs.mkString(",")}}}"""
    }
    val line =
      s"""{"metric":"knn_dim_probe","corpus":"$path","n":$n,"dim":$dim,""" +
      s""""nlist":$nlist,"k":3,"c_sq":$cSq,"c_pq":$cPq,"reps":$reps,""" +
      s""""git_sha":"${Bench.gitSha}","configs":[${configs.mkString(",")}]}"""
    println(line)
    outFile.foreach { f =>
      java.nio.file.Files.write(java.nio.file.Paths.get(f),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    spark.stop()
  }
}
