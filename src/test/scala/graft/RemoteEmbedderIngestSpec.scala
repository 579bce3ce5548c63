package graft

import org.apache.spark.sql.functions._

import graft.embed.{EmbeddingsRetry, RemoteEmbedder}
import graft.embed.EmbeddingsRetry._

/** DocumentIndex ships the embedder to EXECUTORS inside mapPartitions
  * for a batch Spark's broadcast rule does not admit, so a RemoteEmbedder
  * — and the transport inside it — must survive task serialization. This
  * ingests through a real Spark job with a deterministic fake transport
  * (`executorSide` keeps a small batch on that path); a non-Serializable
  * transport fails this suite with TaskNotSerializable. The same batch
  * ingested on the driver embeds to the same vectors.
  */
class RemoteEmbedderIngestSpec extends SparkSpecBase {

  test("RemoteEmbedder rides DocumentIndex ingest to executors") {
    import spark.implicits._
    val dim = 8
    val docs = Seq(
      ("doc://a", "alpha beta gamma delta epsilon zeta"),
      ("doc://b", "one two three four five six seven eight"),
      ("doc://c", "spark executors chunk and embed in parallel"))
      .toDF("uri", "text")
    val rows = executorSide {
      val idx = index.DocumentIndex
        .create(spark, embedder =
          new RemoteEmbedder(dim, new RemoteEmbedderIngestSpec.DeterministicTransport(dim)))
        .upsertDocuments(docs)
      idx.chunks.items
        .select(col("uri"), size(col("vector")).as("d"), col("vector"))
        .collect()
    }
    assert(rows.length == 3)
    assert(rows.forall(_.getInt(1) == dim))
    // deterministic transport → re-ingest reproduces identical vectors
    val again = index.DocumentIndex
      .create(spark, embedder =
        new RemoteEmbedder(dim, new RemoteEmbedderIngestSpec.DeterministicTransport(dim)))
      .upsertDocuments(docs)
      .chunks.items.select(col("uri"), col("vector")).collect()
      .map(r => r.getString(0) -> r.getSeq[Float](1)).toMap
    rows.foreach { r =>
      assert(again(r.getString(0)) == r.getSeq[Float](2))
    }
  }

  test("a terminal transport error fails the ingest job, not silently zero-fills") {
    import spark.implicits._
    val docs = Seq(("doc://x", "text that will not embed")).toDF("uri", "text")
    val idx = index.DocumentIndex.create(spark, embedder =
      new RemoteEmbedder(4, new RemoteEmbedderIngestSpec.FailingTransport))
    val ex = executorSide(intercept[org.apache.spark.SparkException] {
      idx.upsertDocuments(docs).chunks.items.count()
    })
    assert(ex.getMessage.contains("error status of 500")
      || Option(ex.getCause).exists(_.getMessage.contains("error status of 500")))
    // a batch held on the driver embeds inside upsertDocuments, which raises it there
    val onDriver = intercept[Exception](idx.upsertDocuments(docs))
    assert(Iterator.iterate[Throwable](onDriver)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("error status of 500")), onDriver)
  }
}

object RemoteEmbedderIngestSpec {

  /** Executor-safe fake: stateless, Serializable via the transport
    * trait, deterministic in the input strings.
    */
  final class DeterministicTransport(dim: Int) extends EmbeddingTransport {
    def post(inputs: Seq[String]): TransportResponse =
      TransportResponse(200, inputs.map { s =>
        val h = s.hashCode
        Array.tabulate(dim)(i => ((h * (i + 1)) % 1000) / 1000.0f)
      }, "ok")
  }

  final class FailingTransport extends EmbeddingTransport {
    def post(inputs: Seq[String]): TransportResponse =
      TransportResponse(500, Nil, "backend down")
  }
}
