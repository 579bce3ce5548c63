package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Shared helpers for the oracle-checked query suite.
  *
  * Determinism contract with the DuckDB oracle (SURVEY.md §5):
  * monetary sums go through exact DECIMAL(28,10) accumulation (fp
  * summation order differs between engines; decimal doesn't), floats
  * are rounded before output, and every query ends in a total order.
  */
object QueryUtil {
  type Q = (SparkSession, String) => DataFrame

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.Tables.load(spark, dir, name)

  /** Exact decimal sum of a double expression, emitted as a rounded
    * double — deterministic across engines and partition orders. */
  def dsum(c: Column, scale: Int = 2): Column =
    round(sum(c.cast(DecimalType(28, 10))).cast("double"), scale)

  def r6(c: Column): Column = round(c, 6)

  /** The √n seed-row centroid frame (cid, cv) over an `embeddings`
    * table of `n` rows: the rows with vec_id ≡ 0 (mod ⌊√n⌋). Cell
    * count grows as √n with the corpus, so assignment stays n·√n (a
    * fixed modulus made it O(n²/M) at the 100× sweep), and the rule
    * replays in SQL as `vec_id % m = 0`.
    */
  def seedCentroids(emb: DataFrame, n: Long): DataFrame = {
    val m = math.max(1L, math.floor(math.sqrt(n.toDouble)).toLong)
    emb.filter(pmod(col("vec_id"), lit(m)) === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
  }

  private val builtArtifacts =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  // the artifacts are this JVM's own (pid-keyed): none outlives it
  sys.addShutdownHook(builtArtifacts.values.forEach(p =>
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)): Unit))

  /** Once-per-JVM persisted query artifact (an on-disk index a
    * production deployment would maintain between queries). `build`
    * writes the artifact to the returned path; later calls with the
    * same key reuse it. The path is keyed by corpus dir AND process id
    * so concurrent JVMs (driver Verify vs a local bench) never share a
    * half-written index, and a fresh JVM always rebuilds from current
    * code. Every built path is deleted when the JVM exits.
    */
  def persistedArtifact(kind: String, corpusDir: String)(build: String => Unit): String =
    builtArtifacts.computeIfAbsent(s"$kind|$corpusDir", { _ =>
      val pid = ProcessHandle.current().pid()
      val base = new java.io.File(corpusDir).getName.replaceAll("[^A-Za-z0-9._-]", "_")
      val p = s"${System.getProperty("java.io.tmpdir")}/graft_${kind}_${base}_$pid"
      build(p)
      p
    })

  /** Keyed by session, values are DataFrames: a DataFrame strongly
    * references its SparkSession, so WEAK keying is self-defeating
    * here (the value→key path pins every entry — round-11 advice).
    * Instead the map is strong and entries for STOPPED sessions are
    * purged on access (the actual leak case: suites cycling
    * sessions), and [[graft.Tables.invalidate]] clears it wholesale.
    */
  private val artifactHandles =
    new java.util.concurrent.ConcurrentHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, DataFrame]]()

  graft.Tables.onInvalidate(() => artifactHandles.clear())

  /** Session-scoped handle cache for loaded INDEX objects over
    * [[persistedArtifact]] paths — the persistedTable discipline
    * generalized beyond DataFrames: a loaded index instance carries
    * lazily-collected bounded artifacts (codebooks, centroids, grids)
    * whose driver copies a standing deployment holds in memory for
    * the artifact's life; re-loading per query construction paid
    * those collect jobs (and their parquet re-listing) on every run.
    * Same staleness contract as persistedTable: entries drop on
    * Tables.invalidate, stopped sessions are purged on access, and
    * artifact paths are immutable within a JVM (pid-keyed).
    */
  private val indexHandles =
    new java.util.concurrent.ConcurrentHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, AnyRef]]()

  graft.Tables.onInvalidate(() => indexHandles.clear())

  def cachedIndex[T <: AnyRef](s: SparkSession, kind: String, corpusDir: String)(
      make: => T): T = {
    indexHandles.keySet.removeIf(k => k.sparkContext.isStopped)
    indexHandles
      .computeIfAbsent(s,
        _ => new java.util.concurrent.ConcurrentHashMap[String, AnyRef]())
      .computeIfAbsent(s"$kind|$corpusDir", _ => make)
      .asInstanceOf[T]
  }

  /** [[persistedArtifact]] plus a session-scoped DataFrame handle —
    * the Tables.load discipline applied to artifact reads: a bare
    * `spark.read.parquet(path)` re-lists the directory and re-reads
    * footers on EVERY query construction (~0.1 s of pure fixed cost
    * per run at sf0.1, measured via BenchProbe on
    * d_query_documents_persisted), which for a standing artifact is
    * paid once per session instead. Same staleness contract as
    * Tables.load: handles drop on Tables.invalidate (registered
    * hook); artifacts are immutable within a JVM by
    * persistedArtifact's pid-keyed path.
    */
  def persistedTable(s: SparkSession, kind: String, corpusDir: String)(
      build: String => Unit): DataFrame = {
    artifactHandles.keySet.removeIf(k => k.sparkContext.isStopped)
    artifactHandles
      .computeIfAbsent(s,
        _ => new java.util.concurrent.ConcurrentHashMap[String, DataFrame]())
      .computeIfAbsent(s"$kind|$corpusDir",
        _ => s.read.parquet(persistedArtifact(kind, corpusDir)(build)))
  }
}
