package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, pmod}

import graft.Barrier
import graft.ann.KMeans
import graft.dedup.Dedup
import graft.embed.HashingEmbedder
import graft.pipeline.CurationPipeline
import graft.text.{SplitterConfig, TextSplitter}

/** curate_batch: batch corpus analytics. Repeated CurationPipeline runs
  * into a noop sink, alternating with SemDeDup-style semantic pair
  * search seeded with the sqrt(n) id-rule centroids dd_semantic uses.
  */
object CurateBatch {
  private val SemIters = 2
  private val SemThreshold = 0.9
  private val MaxBlock = 4096
  private val WarmRounds = 6

  def run(c: Ctx): Unit = {
    import c.spark.implicits._
    val docs = Inputs.tsv(c.data, "docs.tsv") // id, text, lang
    val vecs = Inputs.floats(c.data, "vecs.bin", c.param("dim"))

    var docDf: DataFrame = null
    var vecDf: DataFrame = null
    var seeds: DataFrame = null
    c.setup(3) {
      Seq(docDf, vecDf).filter(_ != null).foreach(_.unpersist())
      docDf = docs.toSeq.map(d => (d(0).toLong, d(1), d(2))).toDF("doc_id", "text", "lang")
        .localCheckpoint()
      vecDf = vecs.indices.map(i => (i.toLong, vecs(i))).toDF("vec_id", "embedding")
        .localCheckpoint()
      val m = math.max(1L, math.floor(math.sqrt(vecs.length.toDouble)).toLong)
      seeds = vecDf.filter(pmod(col("vec_id"), lit(m)) === 0)
        .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    }

    def pipeline(): DataFrame = CurationPipeline.run(docDf, "doc_id", "text", "lang")
    def semantic(): DataFrame =
      Dedup.semanticPairs(vecDf, "vec_id", "embedding", seeds, SemIters, SemThreshold, MaxBlock)
    def sink(df: DataFrame): Unit = {
      try df.write.format("noop").mode("overwrite").save()
      finally Barrier.release(c.spark)
    }

    def runPipeline(): Unit = c.span("pipeline.run")(sink(pipeline()))
    def runSemantic(): Unit = c.span("dedup.semantic")(sink(semantic()))

    // warm-up, untimed: the first runs of each op in a fresh JVM are
    // several times slower, and the next few keep getting faster, while
    // the JIT and Spark codegen catch up
    c.warmUp {
      for (_ <- 1 to WarmRounds) {
        c.op("op", false)(runPipeline())
        c.op("aux", false)(runSemantic())
      }
    }

    var k = 0
    c.blocks { (traced, secs) =>
      c.closedLoop(secs) {
        k += 1
        if (k % 2 == 1) c.op("op", traced)(runPipeline())._2
        else c.op("aux", traced)(runSemantic())._2
      }
    }
    check(c, docs, vecs, () => pipeline(), () => semantic())
    val runs = c.rec.samplesOf("op")
    c.rec.put("bulk_items", docs.length.toLong * runs.size)
    c.rec.put("bulk_s", runs.sum / 1000)

    if (c.trace) {
      TextLayers.time(c, docs.toSeq.take(3000).map(d => ("", d(1))),
        new TextSplitter(SplitterConfig(keepSeparators = true, chunkSize = 64, chunkOverlap = 0)),
        new HashingEmbedder(64))
      c.tracer.start("layers")
      val kmeans = (1 to 3).map(_ => Ctx.timeMs(c.span("ann.kmeans") {
        val cents = KMeans.lloyd(vecDf, "vec_id", "embedding", seeds, SemIters)
        KMeans.assign(vecDf, "vec_id", "embedding", cents).write.format("noop").mode("overwrite").save()
      }))
      c.tracer.stop()
      c.rec.put("ann.kmeans_s", kmeans.sorted.apply(1) / 1000)
    }
  }

  /** Output checks on one more run of each op, untimed: planted exact
    * duplicates gone, output a subset of the input, semantic pairs at or
    * above the threshold; also the kept ratio and planted-twin recall.
    */
  private def check(c: Ctx, docs: Array[Array[String]], vecs: Array[Array[Float]],
      pipeline: () => DataFrame, semantic: () => DataFrame): Unit = {
    c.mark("checks")
    val exactCopies = Inputs.tsv(c.data, "exact_dups.tsv").map(_(0).toLong).toSet
    val twins = Inputs.tsv(c.data, "twins.tsv").map(r => (r(0).toLong, r(1).toLong))
    c.rec.attempted.addAndGet(2)
    val out = try pipeline().select("doc_id", "text", "lang").collect()
      finally Barrier.release(c.spark)
    val byId = docs.map(d => d(0).toLong -> (d(1), d(2))).toMap
    val outIds = out.map(_.getLong(0))
    c.rec.check(outIds.forall(id => !exactCopies(id)), "a planted exact duplicate survived the pipeline")
    c.rec.check(outIds.distinct.length == outIds.length &&
      out.forall(r => byId.get(r.getLong(0)).contains((r.getString(1), r.getString(2)))),
      "pipeline output is not a subset of its input")
    c.rec.put("pipeline.kept_ratio", out.length.toDouble / docs.length)
    val pairs = try semantic().collect() finally Barrier.release(c.spark)
    def cosine(a: Long, b: Long): Double = {
      val (x, y) = (vecs(a.toInt), vecs(b.toInt))
      var d = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < x.length) {
        d += x(i).toDouble * y(i); nx += x(i).toDouble * x(i); ny += y(i).toDouble * y(i); i += 1
      }
      d / (math.sqrt(nx) * math.sqrt(ny))
    }
    c.rec.check(pairs.forall { r =>
      val s = cosine(r.getLong(0), r.getLong(1))
      s >= SemThreshold - 1e-6 && math.abs(s - r.getDouble(2)) <= 1e-6
    }, "a semantic pair re-scores below its threshold")
    val found = pairs.map(r => (r.getLong(0) min r.getLong(1), r.getLong(0) max r.getLong(1))).toSet
    c.rec.put("dedup.semantic.planted_recall",
      twins.count { case (a, b) => found((a min b, a max b)) }.toDouble / twins.length)
    c.rec.put("dedup.semantic.pairs_per_vec", pairs.length.toDouble / vecs.length)
  }
}
