package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Recall-vs-nprobe curve for the IVF-probed corpus kNN join
  * (IvfIndex.knnJoinSelf) — the measurement behind knn_join_ivf's
  * shipped probe width (round-13 verdict #1: a production twin whose
  * quality at the default setting is unmeasured is half-done; the
  * ann_ivf_pq_recall precedent picked nprobe=16 off exactly this kind
  * of curve) — plus the LSH parent (Ann.knnJoinLshTuned, the knn_join
  * entry) measured on the same truth, so the exact-vs-LSH-vs-IVF
  * ranking is one run's output (round-14 verdict #3 asked for that
  * ranking on a CLUSTERED corpus, where the coarse layers should
  * separate: the uniform bench sphere is IVF's documented worst case).
  *
  * For each np it reports BOTH the fixed-8-query recall@3 the oracled
  * knn_join_ivf_recall entry measures (24 truth pairs — cheap to
  * replay in SQL, but quantized to 1/24 steps) and the recall@3 over
  * the truth-query subset (default: FULL corpus — the statistic that
  * actually characterizes the geometry), plus the per-run knnJoinSelf
  * wall time against a prebuilt probe table (the production shape:
  * probe artifact paid at ingest).
  *
  * Usage: KnnRecallCurve <sfDir> [np,np,...] [timeonly] [qtruth=N]
  *          [lsh] [kmeans] [coded=C,C,...]
  * (np default 3,8,16; `timeonly` skips the exact-truth recall sides —
  * the label-blocked exact kNN is quadratic per block, prohibitive at
  * the 100× stress corpus where only the join TIMING is the question;
  * `qtruth=N` bounds the truth side to queries vec_id < N — N × block
  * instead of block² pairs, the affordable recall statistic at corpus
  * scale; `lsh` also measures the tuned-LSH join on the same truth;
  * `kmeans` ALSO builds a k-means-coarse layout (IvfIndex
  * .buildWithKMeans, same nlist) and reports `ivfkm np=` rungs — the
  * paired seed-row-vs-learned-centroid comparison, which matters on
  * CLUSTERED corpora where seed-row centroids land ∝ cluster mass and
  * leave sparse regions coarsely covered;
  * `coded=...` sweeps the knn_join_ivfpq SDC-candidate depth instead,
  * at the FIRST np in the list — the KnnJoinRerank dial)
  */
object KnnRecallCurve {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val timeOnly = args.contains("timeonly")
    val withLsh = args.contains("lsh")
    // `kmeans` or `kmeans=ITERS` (default 5 — MLlib buildWithKMeans's
    // default; at nlist in the hundreds Lloyd's may need more passes)
    val kMeansIters = args.find(a => a == "kmeans" || a.startsWith("kmeans="))
      .map(a => if (a == "kmeans") 5 else a.drop(7).toInt)
    // `lloyd=ITERS`: the ORACLE-REPLAYABLE refinement (graft.ann
    // .KMeans.lloyd from the same √n seed rows — no RNG, decimal-exact
    // means), the quantizer a SQL-oracled entry can actually ship
    val lloydIters = args.find(_.startsWith("lloyd="))
      .map(_.drop(6).split(',').map(_.toInt).toSeq).getOrElse(Nil)
    val qTruth = args.find(_.startsWith("qtruth=")).map(_.drop(7).toLong)
    val codedCs = args.find(_.startsWith("coded="))
      .map(_.drop(6).split(',').map(_.toInt).toSeq)
    val nps = args.drop(1)
      .filterNot(a => a == "timeonly" || a == "lsh" ||
        a.startsWith("kmeans") || a.startsWith("lloyd") ||
        a.startsWith("coded=") || a.startsWith("qtruth="))
      .headOption
      .map(_.split(',').map(_.toInt).toSeq)
      .getOrElse(Seq(3, 8, 16))
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
    import graft.functions.VectorFunctions.{cosine, topK}

    val emb = Tables.load(spark, sfDir, "embeddings")
    val n = emb.count()
    val cent = graft.queries.QueryUtil.seedCentroids(emb, n)
    val dir = Files.createTempDirectory("knncurve").toString
    val idx = graft.ann.IvfIndex.build(emb, "vec_id", "embedding",
      cent, "cid", "cv", dir)
    val nlist = idx.centroids.count()

    // exact label-blocked truth over the query subset (bounded-heap
    // TopKAgg per label block — never corpus×corpus; qtruth=N caps the
    // pair count at N × block instead of block²)
    val truthOpt = if (timeOnly) None else Some {
      val qsBase = emb.select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("label").as("qlab"))
      val qs = qTruth.map(qn => qsBase.filter(col("qid") < qn)).getOrElse(qsBase)
      emb.join(qs,
          col("label") === col("qlab") && col("vec_id") =!= col("qid"))
        .withColumn("_s", cosine(col("embedding"), col("qv")))
        .groupBy(col("qid"))
        .agg(topK(col("_s"), col("vec_id"), 3).as("top"))
        .select(col("qid"), explode(col("top.id")).as("nbr_id"))
        .cache()
    }
    val nTruth = truthOpt.map(_.count()).getOrElse(0L)
    println(s"[curve] sf=$sfDir n=$n nlist=$nlist truth_pairs=$nTruth" +
      qTruth.map(qn => s" (qtruth=$qn)").getOrElse(""))

    /** warm, time, and (when truth is on) score a join variant whose
      * output is (qid, nbr_id)-shaped after the select below. Each
      * report also accumulates into the session's final JSON line.
      */
    val jsonRows = scala.collection.mutable.ArrayBuffer.empty[String]

    /** deterministic candidate-pair count for an IVF probe join:
      * Σ over (cell, label) of probes × members — the host-noise-free
      * cost statistic behind the wall time (join work AND shuffle
      * bytes scale with it), and the direct view of cell skew: a hot
      * cell contributes quadratically.
      */
    def candidatePairs(index: graft.ann.IvfIndex,
                       probes: org.apache.spark.sql.DataFrame): Long = {
      val p = probes.groupBy(col("cell"), col("q_label").as("label"))
        .agg(count(lit(1)).as("n_p"))
      val m = index.cells.groupBy(col("cell"), col("label")).agg(count(lit(1)).as("n_m"))
      val raw = p.join(m, Seq("cell", "label"))
        .agg(sum(col("n_p") * col("n_m"))).head()
      val total = if (raw.isNullAt(0)) 0L else raw.getLong(0)
      // knnJoinSelf excludes vec_id =!= qid, and each row's own cell is
      // always among its probes, so the raw product over-counts by
      // exactly one self-pair per corpus row (round-15 advice)
      math.max(0L, total - index.cells.count())
    }

    def report(tag: String, run: () => org.apache.spark.sql.DataFrame,
               cand: Option[Long] = None): Unit = {
      System.gc() // the KnnDimProbe gcGap lesson: builds precede measures
      run().write.format("noop").mode("overwrite").save()
      val t0 = System.nanoTime()
      run().write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      truthOpt match {
        case Some(truth) =>
          val got = run()
          val gotQ = qTruth.map(qn => got.filter(col("qid") < qn)).getOrElse(got)
          val hits = truth.join(gotQ, Seq("qid", "nbr_id"), "left_semi").count()
          val got8 = got.filter(col("qid") < 8)
          val hits8 = truth.filter(col("qid") < 8)
            .join(got8, Seq("qid", "nbr_id"), "left_semi").count()
          val candS = cand.map(c => f"  cand_pairs=$c").getOrElse("")
          val candJ = cand.map(c => s""","cand_pairs":$c""").getOrElse("")
          println(f"[curve] $tag%-12s recall=${hits.toDouble / nTruth}%.4f " +
            f"($hits/$nTruth)  recall_8q=${hits8 / 24.0}%.4f ($hits8/24)  " +
            f"join_warm=$sec%.2f s$candS")
          jsonRows += f""""$tag":{"recall":${hits.toDouble / nTruth}%.4f,"hits":$hits,"recall_8q":${hits8 / 24.0}%.4f,"sec":$sec%.2f$candJ}"""
        case None =>
          val candS = cand.map(c => f"  cand_pairs=$c").getOrElse("")
          val candJ = cand.map(c => s""","cand_pairs":$c""").getOrElse("")
          println(f"[curve] $tag%-12s join_warm=$sec%.2f s (timeonly)$candS")
          jsonRows += f""""$tag":{"sec":$sec%.2f$candJ}"""
      }
    }
    def emitJson(): Unit = println(
      s"""{"metric":"knn_recall_curve","sf":"$sfDir","n":$n,"nlist":$nlist,""" +
      s""""truth_pairs":$nTruth,"qtruth":${qTruth.getOrElse(-1L)},""" +
      s""""git_sha":"${Bench.gitSha}","entries":{${jsonRows.mkString(",")}}}""")

    codedCs.foreach { cs =>
      // coded sweep: fit the flat-PQ books once (ann_pq geometry),
      // build the coded probe artifact at the first np, then vary the
      // SDC-candidate depth
      val np = nps.head
      val dimLen = emb.select(size(col("embedding"))).head().getInt(0)
      // Pq.fit returns driver-local codebooks — reuse free
      val books = graft.ann.Pq.fit(emb, "vec_id", "embedding",
        dim = dimLen, nSub = 8, seedMod = math.max(1L, n / 32), iters = 1)
      val grid = graft.ann.Sq.fit(emb, "embedding", dimLen)
      val probePath = s"$dir/codedprobe-np$np"
      graft.ann.CodedKnnJoin.buildProbeTable(idx, books,
          np = np, blockCols = Seq("label"))
        .write.mode("overwrite").parquet(probePath)
      val sqProbePath = s"$dir/sqprobe-np$np"
      graft.ann.CodedKnnJoin.buildProbeTable(idx, grid,
          np = np, blockCols = Seq("label"))
        .write.mode("overwrite").parquet(sqProbePath)
      val probes = spark.read.parquet(probePath)
      val sqProbes = spark.read.parquet(sqProbePath)
      cs.foreach { c =>
        report(f"codedpq np=$np C=$c", () => graft.ann.CodedKnnJoin.knnJoinSelf(
            idx, probes, books, Seq("label"), k = 3, candidates = c)
          .select(col("qid"), col("vec_id").as("nbr_id")))
        report(f"codedsq np=$np C=$c", () => graft.ann.CodedKnnJoin.knnJoinSelf(
            idx, sqProbes, grid, Seq("label"), k = 3, candidates = c)
          .select(col("qid"), col("vec_id").as("nbr_id")))
      }
      emitJson()
      spark.stop()
      return
    }

    if (withLsh) {
      // the LSH parent, tuned exactly as the knn_join entry tunes it
      // (AnnTuner's bucket-geometry rule) — one number, no np dial
      report("lsh", () => graft.ann.Ann.knnJoinLshTuned(
          emb, "vec_id", "embedding", blockCol = "label", k = 3,
          targetCandidates = 64, statsKey = Some(s"$sfDir|embeddings"))
        .select(col("vec_id").as("qid"), col("nbr_id")))
    }

    nps.foreach { np =>
      val probePath = s"$dir/probe-np$np"
      idx.selfProbeTable(np = np, keepCols = Seq("label"))
        .write.mode("overwrite").parquet(probePath)
      val probes = spark.read.parquet(probePath)
      report(s"ivf np=$np", () =>
        idx.knnJoinSelf(probes, Seq("label"), k = 3)
          .select(col("qid"), col("vec_id").as("nbr_id")),
        cand = Some(candidatePairs(idx, probes)))
    }
    lloydIters.foreach { iters =>
      val seeds = cent.select(col("cid"), col("cv"))
      val lcents = graft.ann.KMeans.lloyd(emb, "vec_id", "embedding",
        seeds, iters = iters)
      val lIdx = graft.ann.IvfIndex.build(emb, "vec_id", "embedding",
        lcents, "cid", "cv", s"$dir/lloyd$iters")
      nps.foreach { np =>
        val probePath = s"$dir/lloyd$iters-probe-np$np"
        lIdx.selfProbeTable(np = np, keepCols = Seq("label"))
          .write.mode("overwrite").parquet(probePath)
        val probes = spark.read.parquet(probePath)
        report(s"lloyd$iters np=$np", () =>
          lIdx.knnJoinSelf(probes, Seq("label"), k = 3)
            .select(col("qid"), col("vec_id").as("nbr_id")),
          cand = Some(candidatePairs(lIdx, probes)))
      }
    }
    kMeansIters.foreach { iters =>
      // paired comparison: the learned-centroid layout at the SAME
      // nlist — only the coarse quantizer differs
      val kmIdx = graft.ann.IvfIndex.buildWithKMeans(emb, "vec_id",
        "embedding", nlist.toInt, s"$dir/km", maxIter = iters)
      nps.foreach { np =>
        val probePath = s"$dir/kmprobe-np$np"
        kmIdx.selfProbeTable(np = np, keepCols = Seq("label"))
          .write.mode("overwrite").parquet(probePath)
        val probes = spark.read.parquet(probePath)
        report(s"ivfkm np=$np", () =>
          kmIdx.knnJoinSelf(probes, Seq("label"), k = 3)
            .select(col("qid"), col("vec_id").as("nbr_id")),
          cand = Some(candidatePairs(kmIdx, probes)))
      }
    }
    emitJson()
    spark.stop()
  }
}
