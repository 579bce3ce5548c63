package graftbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.filters.MetaFilter
import graft.index.VectorIndex
import graft.serve.{LocalVectorServing, RefreshingVectorServing}

/** serve_cdc: a RefreshingVectorServing snapshot read by closed-loop
  * clients while an open-loop writer applies CDC batches on a fixed
  * schedule. Refresh lag is timed from each batch's due time.
  */
object ServeCdc {
  private val K = 10
  private val CheckEvery = 100
  private val OpName = Array("u", "i", "d")

  private val schema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  /** A sampled read kept for checking against the shadow table. */
  private final case class Sampled(op: Int, snap: LocalVectorServing, kind: Int,
      q: Array[Double], arg: Long, ids: Seq[Long], scores: Seq[Double])

  def run(c: Ctx): Unit = {
    val dim = c.param("dim")
    val ids = Inputs.longs(c.data, "vec_ids.bin")
    val vecs = Inputs.floats(c.data, "vecs.bin", dim)
    val labels = Inputs.ints(c.data, "vec_labels.bin")
    val qv = Inputs.floats(c.data, "q_vecs.bin", dim).map(_.map(_.toDouble))
    val qKind = Inputs.ints(c.data, "q_kinds.bin")
    val qArg = Inputs.longs(c.data, "q_args.bin")
    val bs = c.param("batch_size")
    val cIds = Inputs.longs(c.data, "cdc_ids.bin")
    val cOps = Inputs.bytes(c.data, "cdc_ops.bin")
    val cLab = Inputs.ints(c.data, "cdc_labels.bin")
    val cVec = Inputs.floats(c.data, "cdc_vecs.bin", dim)
    val nBatches = c.param("batches")
    val interval = c.params("interval_s").toDouble

    def batchFrame(b: Int): DataFrame = {
      val rows = (b * bs until (b + 1) * bs).map(j =>
        Row(cIds(j), cVec(j).toSeq, cLab(j), OpName(cOps(j))))
      c.spark.createDataFrame(java.util.Arrays.asList(rows: _*),
        schema.add(StructField("op", StringType)))
    }

    var rvs: RefreshingVectorServing = null
    c.setup(3) {
      val rows = ids.indices.map(i => Row(ids(i), vecs(i).toSeq, labels(i)))
      val df = c.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      rvs = c.span("serve.build")(new RefreshingVectorServing(df, "vec_id", "embedding"))
    }

    // snapshot -> number of batches applied when it was published
    val version = new java.util.IdentityHashMap[LocalVectorServing, Integer]()
    version.put(rvs.serving, 0)
    val sampled = mutable.ArrayBuffer.empty[Sampled]
    val nextOp = new AtomicInteger()
    val reads = new AtomicLong()
    var nextBatch = 0

    def read(i: Int, traced: Boolean, warm: Boolean = false): Unit = {
      val snap = rvs.serving
      val q = qv(i % qv.length)
      val kind = qKind(i % qKind.length)
      val arg = qArg(i % qArg.length)
      def body = c.span("serve.query") {
          kind match {
            case 0 => snap.queryItems(q.toSeq, K).map { case (row, s) => (row.getAs[Long]("vec_id"), s) }
            case 1 => snap.queryItems(q.toSeq, K, Some(MetaFilter.Eq("label", arg.toInt)))
              .map { case (row, s) => (row.getAs[Long]("vec_id"), s) }
            case 2 => snap.listItemsByMetadata(MetaFilter.Eq("label", arg.toInt))
              .map(row => (row.getAs[Long]("vec_id"), 0.0))
            case _ => snap.getItem(arg).toSeq.map(row => (row.getAs[Long]("vec_id"),
              row.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).sum))
          }
        }
      val r = if (warm) Some(body) else c.op("op", traced)(body)._1
      if (!warm && r.isDefined && !traced) reads.incrementAndGet()
      if (!warm) r.foreach { res =>
        if (i % CheckEvery == 0) sampled.synchronized {
          sampled += Sampled(i, snap, kind, q, arg, res.map(_._1), res.map(_._2))
        }
      }
    }

    /** Readers and the writer together for `secs`; `warm` records nothing. */
    def phase(secs: Double, traced: Boolean, warm: Boolean): Unit = {
      val t0 = System.nanoTime()
      val deadline = t0 + (secs * 1e9).toLong
      val readers = (0 until math.max(1, c.cores - 1)).map { _ =>
        val t = new Thread(() =>
          while (System.nanoTime() < deadline) read(nextOp.getAndIncrement(), traced, warm))
        t.start(); t
      }
      // open-loop writer: batch j of this phase is due at t0 + (j - 1/2) * interval
      def dueAt(j: Int) = t0 + ((j - 0.5) * interval * 1e9).toLong
      var j = 1
      while (dueAt(j) < deadline && nextBatch < nBatches - 4) {
        val df = batchFrame(nextBatch)
        val due = dueAt(j)
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        if (!warm) c.rec.sample("writer_late", math.max(0L, System.nanoTime() - due) / 1e6)
        c.rec.attempted.incrementAndGet()
        try {
          c.span("op.aux")(c.span("serve.apply")(rvs.applyChanges(df)))
          nextBatch += 1
          version.synchronized(version.put(rvs.serving, nextBatch))
          if (!warm) c.rec.sample(if (traced) "traced.aux" else "aux", (System.nanoTime() - due) / 1e6)
        } catch {
          case e: Exception =>
            c.rec.failed.incrementAndGet(); c.rec.error(s"applyChanges threw: $e")
        }
        j += 1
      }
      readers.foreach(_.join())
    }

    // warm-up, untimed: readers and one refresh, so the JIT has seen both
    c.mark("warm-up")
    phase(interval * 0.6, traced = false, warm = true)
    c.blocks { (traced, secs) => phase(secs, traced, warm = false) }
    c.rec.put("bulk_items", reads.get)
    c.rec.put("bulk_s", c.seconds)
    c.rec.put("batches_applied", nextBatch)

    c.mark("checks")
    checkAgainstShadow(c, ids, vecs, labels, cIds, cOps, cLab, cVec, bs, sampled.toSeq, version)

    if (c.trace) layers(c, rvs, batchFrame, nextBatch, qv)
  }

  /** Replays the CDC batches on a driver-side shadow table and checks
    * every sampled read against an exact brute force at the version the
    * read saw.
    */
  private def checkAgainstShadow(c: Ctx, ids: Array[Long], vecs: Array[Array[Float]],
      labels: Array[Int], cIds: Array[Long], cOps: Array[Byte], cLab: Array[Int],
      cVec: Array[Array[Float]], bs: Int, sampled: Seq[Sampled],
      version: java.util.IdentityHashMap[LocalVectorServing, Integer]): Unit = {
    def norm(v: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
      math.sqrt(s)
    }
    val shadow = new java.util.TreeMap[Long, (Array[Float], Int, Double)]()
    ids.indices.foreach(i => shadow.put(ids(i), (vecs(i), labels(i), norm(vecs(i)))))
    import scala.jdk.CollectionConverters._
    def topK(q: Array[Double], label: Option[Int]): Seq[(Long, Double)] = {
      var qq = 0.0
      q.foreach(x => qq += x * x)
      val qn = math.sqrt(qq)
      shadow.entrySet.asScala.iterator
        .filter(e => label.forall(_ == e.getValue._2))
        .map { e =>
          val (v, _, vn) = e.getValue
          var dot = 0.0; var i = 0
          val m = math.min(v.length, q.length)
          while (i < m) { dot += v(i).toDouble * q(i); i += 1 }
          val denom = vn * qn
          (e.getKey: Long, if (denom == 0.0) 0.0 else dot / denom)
        }.toSeq.sortBy { case (id, s) => (-s, id) }.take(K)
    }
    val byVersion = sampled.groupBy(s => Option(version.get(s.snap)).map(_.toInt).getOrElse(-1))
    byVersion.get(-1).foreach(xs => xs.foreach(s =>
      c.rec.check(ok = false, s"read ${s.op} saw an unpublished snapshot")))
    val maxV = if (byVersion.isEmpty) 0 else byVersion.keys.max
    for (v <- 0 to maxV) {
      byVersion.getOrElse(v, Nil).foreach { s =>
        val ok = s.kind match {
          case 0 | 1 =>
            val want = topK(s.q, if (s.kind == 1) Some(s.arg.toInt) else None)
            want.map(_._1) == s.ids &&
              want.map(_._2).zip(s.scores).forall { case (a, b) => math.abs(a - b) <= 1e-12 }
          case 2 =>
            shadow.entrySet.asScala.iterator.filter(_.getValue._2 == s.arg.toInt)
              .map(_.getKey: Long).toSeq == s.ids
          case _ =>
            Option(shadow.get(s.arg)) match {
              // the read reports the item's id and the sum of its vector
              case Some((vec, _, _)) => s.ids == Seq(s.arg) &&
                math.abs(vec.map(_.toDouble).sum - s.scores.head) <= 1e-9
              case None => s.ids.isEmpty
            }
        }
        c.rec.check(ok, s"read ${s.op} (kind ${s.kind}) at version $v disagrees with brute force")
      }
      // advance the shadow by batch v
      (v * bs until (v + 1) * bs).foreach { j =>
        if (cOps(j) == 2) shadow.remove(cIds(j))
        else shadow.put(cIds(j), (cVec(j), cLab(j), norm(cVec(j))))
      }
    }
  }

  /** Directly timed serve, filter and operator layers. */
  private def layers(c: Ctx, rvs: RefreshingVectorServing, batchFrame: Int => DataFrame,
      applied: Int, qv: Array[Array[Double]]): Unit = {
    ServingLayers.time(c, VectorIndex.build(rvs.currentTable, "vec_id", "embedding"),
      qv.slice(1, 41).map(_.toSeq).toSeq, rvs.currentTable, batchFrame(applied), "vec_id")
    val rows = rvs.currentTable.collect()
    val fieldOf = rows.headOption.map(_.schema.fieldNames.zipWithIndex.toMap).getOrElse(Map.empty)
    val getters = rows.map(r => (f: String) =>
      fieldOf.get(f).map(i => if (r.isNullAt(i)) null else r.get(i)).orNull: Any)
    FilterLayer.time(c, (0 until 10).map(l => MetaFilter.Eq("label", l)), getters)
  }
}
