package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{CyclicBarrier, TimeUnit}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}

import graft.index.{DocumentIndex, IndexCommitConflictException, IndexStore}
import graft.text.SplitterConfig

/** The saved index as a versioned, append-only layout: an update writes
  * its batch and nothing else, every commit is one manifest rename, a
  * crash at any commit step leaves the last committed version whole,
  * concurrent saves never mix, and any sequence of updates, saves and
  * loads reads exactly as the same sequence on an index never saved.
  */
class IndexCommitSpec extends SparkSpecBase {

  private val Config = SplitterConfig(keepSeparators = true, chunkSize = 64, chunkOverlap = 0)

  private val Vocab = Seq("spark", "shuffle", "stage", "vector", "embedding", "space",
    "minhash", "duplicate", "token", "chunk", "query", "index", "cosine", "score",
    "table", "join", "broadcast", "partition", "executor", "driver", "parquet")

  private def text(rnd: Random): String =
    Seq.fill(20 + rnd.nextInt(60))(Vocab(rnd.nextInt(Vocab.size))).mkString(" ")

  private def docs(rows: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("uri", "text")
  }

  private def batch(seed: Int, uris: Seq[String]): DataFrame = {
    val rnd = new Random(seed)
    docs(uris.map(u => (u, text(rnd))))
  }

  private def fresh: DocumentIndex = DocumentIndex.create(spark, Config)

  private def load(dir: String): DocumentIndex = DocumentIndex.load(spark, dir, Config)

  /** Every row of `df` as a string, sorted: equal iff the rows are. */
  private def rows(df: DataFrame): Seq[String] = rows(df.collect())

  private def rows(rs: Array[Row]): Seq[String] = rs.toSeq.map(_.toSeq.map {
    case a: Seq[_] => a.mkString("[", ",", "]")
    case v => String.valueOf(v)
  }.mkString("|")).sorted

  /** Catalog and chunk rows, with their schemas. */
  private def state(idx: DocumentIndex): (Seq[String], Seq[String], String, String) =
    (rows(idx.catalog), rows(idx.chunks.items),
      idx.catalog.schema.simpleString, idx.chunks.items.schema.simpleString)

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** Each parquet file under `dir` with its size and modification time. */
  private def files(dir: String): Map[Path, (Long, Long)] =
    IndexFiles.parquetFiles(dir).map { p =>
      p -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
    }.toMap

  test("an update writes one new file per component, rewrites none, and loads with no job") {
    val dir = tmp("icommit")
    fresh.upsertDocuments(batch(1, (0 until 120).map(i => s"doc$i.txt"))).save(dir)
    val before = files(dir)
    val update = batch(2, (100 until 140).map(i => s"doc$i.txt")) // 20 replaced, 20 new
    load(dir).upsertDocuments(update).save(dir)
    val after = files(dir)
    // every earlier file is still there, untouched
    before.foreach { case (p, stat) => assert(after.get(p).contains(stat), p) }
    val added = (after.keySet -- before.keySet).toSeq
    assert(added.map(_.getParent.getParent.getFileName.toString).sorted == Seq("catalog", "chunks"))
    assert(IndexFiles.committedDirs(dir, "catalog").size == 2)
    load(dir) // warm-up
    assert(jobsIn(load(dir)) == 0)
    val expected = fresh.upsertDocuments(batch(1, (0 until 120).map(i => s"doc$i.txt")))
      .upsertDocuments(update)
    assert(state(load(dir)) == state(expected))
    IndexFiles.assertOnlyCommitted(dir)

    // the next delta would outnumber the base files: that save compacts
    val more = batch(3, (130 until 150).map(i => s"doc$i.txt"))
    load(dir).upsertDocuments(more).save(dir)
    Seq("catalog", "chunks").foreach(c => assert(IndexFiles.committedDirs(dir, c).size == 1, c))
    IndexFiles.assertOnlyCommitted(dir) // the superseded directories are gone
    assert(state(load(dir)) == state(expected.upsertDocuments(more)))
  }

  test("a commit that dies at any step leaves the last committed version, row for row") {
    val steps = Seq("data", "manifest", "rename", "committed")
    val start = batch(4, (0 until 30).map(i => s"doc$i.txt"))
    val update = batch(5, (20 until 40).map(i => s"doc$i.txt"))
    // an append (a loaded index saved back), then a rewrite (a new index)
    Seq[(String, DocumentIndex => DocumentIndex)](
      "append" -> (idx => idx.upsertDocuments(update).deleteDocument("doc3.txt")),
      "rewrite" -> (_ => fresh.upsertDocuments(update))
    ).foreach { case (kind, change) =>
      steps.foreach { step =>
        val dir = tmp("icrash")
        fresh.upsertDocuments(start).save(dir)
        val old = state(load(dir))
        val next = change(load(dir))
        val want = state(next)
        val root = new org.apache.hadoop.fs.Path(dir).toUri.getPath
        // what a reader sees at every step before the one that dies
        val seen = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean)]
        IndexStore.commitHook = (r, s) => if (new java.net.URI(r).getPath == root) {
          seen += (s -> (state(load(dir)) == (if (s == "committed") want else old)))
          if (s == step) throw new IllegalStateException(s"crash at $s")
        }
        val e = try intercept[IllegalStateException](next.save(dir))
          finally IndexStore.commitHook = (_, _) => ()
        assert(e.getMessage == s"crash at $step", s"$kind $step")
        assert(seen.map(_._1) == steps.take(steps.indexOf(step) + 1), s"$kind $step")
        assert(seen.forall(_._2), s"$kind $step: a reader saw a partial version at ${seen.filterNot(_._2)}")
        val got = state(load(dir))
        assert(got == (if (step == "committed") want else old), s"$kind $step")
        if (step != "committed") IndexFiles.assertOnlyCommitted(dir)
      }
    }
  }

  test("two saves from one loaded version never mix: one commits, the other is a named conflict") {
    val dir = tmp("iconc")
    def race(a: DocumentIndex, b: DocumentIndex, meet: Boolean): Seq[Either[Throwable, Unit]] = {
      // meet: both writers wait for each other once their manifests are
      // written, so both reach the commit with the same starting version
      val barrier = new CyclicBarrier(2)
      val root = new org.apache.hadoop.fs.Path(dir).toUri.getPath
      IndexStore.commitHook = (r, s) =>
        if (meet && s == "manifest" && new java.net.URI(r).getPath == root)
          barrier.await(60, TimeUnit.SECONDS): Unit
      try {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
        try Seq(a, b).map(idx => pool.submit(() => scala.util.Try(idx.save(dir)).toEither))
          .map(_.get(5, TimeUnit.MINUTES))
        finally pool.shutdown()
      } finally IndexStore.commitHook = (_, _) => ()
    }
    Seq(true, false, false).foreach { meet =>
      fresh.upsertDocuments(batch(6, (0 until 30).map(i => s"doc$i.txt"))).save(dir)
      val loaded = load(dir)
      val a = loaded.upsertDocuments(batch(7, (25 until 45).map(i => s"doc$i.txt")))
      val b = loaded.upsertDocuments(batch(8, (0 until 10).map(i => s"doc$i.txt")))
        .deleteDocument("doc20.txt")
      val (wantA, wantB) = (state(a), state(b))
      val outcomes = race(a, b, meet)
      outcomes.collect { case Left(e) => e }.foreach { e =>
        assert(e.isInstanceOf[IndexCommitConflictException], e)
      }
      val got = state(load(dir))
      assert(got == wantA || got == wantB, s"meet=$meet: a mix of the two saves")
      outcomes match {
        case Seq(Right(_), Left(_)) => assert(got == wantA)
        case Seq(Left(_), Right(_)) => assert(got == wantB)
        case Seq(Right(_), Right(_)) => assert(!meet, "both committed from one version")
        case _ => fail(s"neither save committed: $outcomes")
      }
      if (meet) assert(outcomes.count(_.isLeft) == 1)
      IndexFiles.assertOnlyCommitted(dir)
    }
  }

  test("any sequence of upserts, deletes, saves and loads reads as on an index never saved") {
    val pool = (0 until 14).map(i => if (i % 3 == 0) s"doc$i.md" else s"doc$i.txt")
    val queries = Seq("spark shuffle stage", "vector embedding cosine score", "parquet table join")
    var appends, rewrites = 0
    Seq(21, 22, 23).foreach { seed =>
      val rnd = new Random(seed)
      val dir = tmp("iprop")
      var saved = fresh
      var never = fresh
      var savedOnce = false
      (0 until 9).foreach { step =>
        rnd.nextInt(10) match {
          case r if r < 5 =>
            val uris = rnd.shuffle(pool).take(1 + rnd.nextInt(5))
            // a later batch brings a metadata column the earlier rows lack
            val b = if (step >= 4 && rnd.nextBoolean()) {
              import org.apache.spark.sql.functions.lit
              batch(seed * 100 + step, uris).withColumn("lang", lit(if (r % 2 == 0) "en" else "de"))
            } else batch(seed * 100 + step, uris)
            saved = saved.upsertDocuments(b)
            never = never.upsertDocuments(b)
          case r if r < 7 =>
            val uri = pool(rnd.nextInt(pool.size))
            saved = saved.deleteDocument(uri)
            never = never.deleteDocument(uri)
          case _ =>
            val before = if (savedOnce) IndexFiles.committedDirs(dir, "catalog") else Nil
            saved.save(dir)
            saved = load(dir)
            val now = IndexFiles.committedDirs(dir, "catalog")
            if (savedOnce && now.size > 1) appends += 1
            if (savedOnce && now.size == 1 && !before.contains(now.head)) rewrites += 1
            savedOnce = true
        }
      }
      saved.save(dir)
      saved = load(dir)
      val ctx = s"seed $seed"
      assert(state(saved) == state(never), ctx)
      queries.foreach { q =>
        assert(saved.queryDocuments(q).collect().toSeq == never.queryDocuments(q).collect().toSeq, s"$ctx $q")
        assert(rows(saved.renderSections(q, 80, 2)) == rows(never.renderSections(q, 80, 2)), s"$ctx $q")
      }
    }
    assert(appends > 0 && rewrites > 0, s"appends $appends, rewrites $rewrites")
  }
}
