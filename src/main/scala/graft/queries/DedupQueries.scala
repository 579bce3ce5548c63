package graft.queries

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import QueryUtil._

/** Dedup suite over the `documents` / `embeddings` tables — see
  * graft.dedup.Dedup for the operator semantics and scale notes.
  * Oracle SQL mirrors each computation in DuckDB (portable md5-derived
  * hashes; SURVEY.md §5).
  */
object DedupQueries {

  /** Shared DuckDB normal-form CTE (the 'g' flag makes DuckDB's
    * regexp_replace global like Spark's).
    */
  private val sqlNorm =
    """WITH norm AS (
      |  SELECT doc_id, lang, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
      |  FROM documents)""".stripMargin

  /** dd_minhash target jaccard; bands derive from it via the S-curve
    * (AnnTuner.minHashBands) on BOTH the Spark and oracle sides.
    */
  private val MinHashThreshold = 0.7

  /** dd_spans window length (Lee et al. use 50 BPE tokens on web text;
    * 8 whitespace tokens is the equivalent granularity for the short
    * synthetic docs — parameter, not semantics).
    */
  private val SpanTokens = 8

  /** dd_semantic geometry: 2 Lloyd iterations (SemDeDup's clusters
    * only localize the pair search — the fit needs to separate, not
    * converge) at a within-cluster cosine cutoff of 0.4 (the synthetic
    * embeddings are near-uniform on the sphere; real SemDeDup corpora
    * use ~0.95+ — parameter, not semantics).
    */
  private val SemDedupIters = 2
  private val SemDedupThreshold = 0.4

  /** Shared WITH-body for the dd_minhash candidate pairs: norm →
    * shingles → portable hashes → signatures (band geometry from the
    * SAME tuner call the query uses — generated, not hand-synced) →
    * capped band buckets → `cand` (DISTINCT ida < idb). dd_minhash
    * selects cand directly; dd_groups closes it transitively.
    */
  private val MinHashNH = 16
  private lazy val MinHashNB = graft.ann.AnnTuner.minHashBands(MinHashNH, MinHashThreshold)

  /** norm → shingles → portable hashes → `sig` (the signature matrix —
    * the shared prefix of every minhash oracle).
    */
  private lazy val minHashSigCtes: String = {
    import graft.dedup.Dedup.{MinHashMix, MinHashP}
    val minCols = (0 until MinHashNH).map(s =>
      s"min((base * ${2 * s + 1} + ${MinHashMix * s}) % $MinHashP) AS h$s").mkString(",\n    ")
    s"""$sqlNorm,
       |tok AS (SELECT doc_id, string_split(t, ' ') AS toks FROM norm),
       |sh AS (
       |  SELECT doc_id,
       |    unnest(list_distinct([array_to_string(toks[i : i+2], ' ')
       |      for i in range(1, greatest(len(toks)-1, 2))])) AS g
       |  FROM tok),
       |hashed AS (
       |  SELECT doc_id, ('0x'||substr(md5(g), 1, 15))::BIGINT % $MinHashP AS base
       |  FROM sh),
       |sig AS (
       |  SELECT doc_id,
       |    $minCols
       |  FROM hashed GROUP BY doc_id)""".stripMargin
  }

  /** Band-key UNION ALL over a signature CTE (band geometry from the
    * SAME tuner call the queries use).
    */
  private def sqlBandSelects(src: String): String = {
    val rpb = MinHashNH / MinHashNB
    (0 until MinHashNB).map { b =>
      val slots = (b * rpb until (b + 1) * rpb).map(s => s"h$s::VARCHAR").mkString("||','||")
      s"SELECT doc_id, $b AS band, md5($slots) AS bkey FROM $src"
    }.mkString("\n  UNION ALL ")
  }

  private lazy val minHashCandCtes: String =
    s"""$minHashSigCtes,
       |bands0 AS (
       |  ${sqlBandSelects("sig")}),
       |keep AS (
       |  SELECT band, bkey FROM bands0 GROUP BY band, bkey
       |  HAVING count(*) <= ${graft.dedup.Dedup.DefaultMaxBucketSize}),
       |bands AS (
       |  SELECT bands0.* FROM bands0 JOIN keep USING (band, bkey)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)""".stripMargin

  val defs: Map[String, Q] = Map(
    "dd_exact" -> ((s, dir) => {
      Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    "dd_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          blockCol = "lang", n = 3, threshold = 0.5)
        .orderBy(col("ida"), col("idb"))
    }),

    // the PERSISTED-projection twin of dd_ngram_jaccard: BOTH per-doc
    // text projections — the 32-slot signature matrix AND the sorted
    // shingle-hash sets the exact verify walks — are ingest-time
    // parquet stage tables (the dd_pipeline_persisted move applied to
    // the standalone entry); the dedup run is then candidate/estimate/
    // verify JOINS over narrow artifacts, never a corpus text scan.
    // Pure per-doc projections → row-identical, shared oracle.
    "dd_ngram_jaccard_persisted" -> ((s, dir) => {
      val sigs = persistedTable(s, "njsig32", dir) { p =>
        Dedup.buildJaccardSignatureTable(t(s, dir, "documents"),
          "doc_id", "text", n = 3, p)
      }
      val shingles = persistedTable(s, "njshingle", dir) { p =>
        Dedup.buildShingleTable(t(s, dir, "documents"),
          "doc_id", "text", "lang", n = 3, p)
      }
      Dedup.ngramJaccardFromArtifacts(sigs, shingles,
          "doc_id", "lang", threshold = 0.5,
          barrierInputs = false) // file-backed: branch re-scans beat a local copy
        .orderBy(col("ida"), col("idb"))
    }),

    // bands derived from the 0.7 target jaccard via the S-curve
    // (AnnTuner.minHashBands(16, 0.7) = 4 → s* = (1/4)^(1/4) ≈ 0.707):
    // same geometry round 4 hardcoded, now pinned to the threshold —
    // raising nHashes re-derives bands instead of silently moving the
    // effective cutoff. The oracle's band SQL is generated from the
    // SAME AnnTuner call (single source of truth).
    "dd_minhash" -> ((s, dir) => {
      Dedup.minHashCandidatesTuned(t(s, dir, "documents"), "doc_id", "text",
          shingleLen = 3, nHashes = 16, threshold = MinHashThreshold)
        .orderBy(col("ida"), col("idb"))
    }),

    // the PERSISTED-signature twin of dd_minhash: candidates from the
    // ingest-time 16-slot signature table (the same artifact
    // dd_incremental's corpus side and the curation pipeline read) —
    // per-run cost is the band/bucket joins alone. Signatures are a
    // per-doc projection → row-identical, shared oracle.
    "dd_minhash_persisted" -> ((s, dir) => {
      val sigs = persistedTable(s, "mhsig16full", dir) { p =>
        Dedup.minHashSignatures(t(s, dir, "documents"), "doc_id", "text",
            shingleLen = 3, nHashes = 16)
          .write.mode("overwrite").parquet(p)
      }
      Dedup.candidatesFromSignatures(
          sigs, // file-backed: branch re-scans of the narrow table beat a local copy
          "doc_id", nHashes = 16, nBands = MinHashNB,
          maxBucketSize = graft.dedup.Dedup.DefaultMaxBucketSize)
        .orderBy(col("ida"), col("idb"))
    }),

    // incremental near-dup gate (Dedup.incrementalMatches): a NEW
    // batch (doc_id % 10 = 7) checked against the EXISTING corpus's
    // persisted signature table — the continuous-ingestion shape:
    // corpus side is one map-only scan of the ingest-time signature
    // parquet (no self-join, no corpus shuffle; the batch's distinct
    // band keys broadcast into it), so per-tick cost scales with the
    // batch, not the corpus. Same signature arithmetic + band
    // geometry as dd_minhash (shared oracle CTEs).
    "dd_incremental" -> ((s, dir) => {
      val corpusSigs = persistedTable(s, "incsig", dir) { p =>
        Dedup.minHashSignatures(
            t(s, dir, "documents").filter(pmod(col("doc_id"), lit(10)) =!= 7),
            "doc_id", "text", shingleLen = 3, nHashes = 16)
          .write.mode("overwrite").parquet(p)
      }
      val batch = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(10)) === 7)
      Dedup.incrementalMatches(
          corpusSigs,
          Dedup.minHashSignatures(batch, "doc_id", "text",
            shingleLen = 3, nHashes = 16),
          "doc_id", nHashes = 16,
          nBands = graft.ann.AnnTuner.minHashBands(16, MinHashThreshold))
        .orderBy(col("doc_id"))
    }),

    // oracle-checked via the md5-derived portable 64-bit token hash
    // (Dedup.portableHash64 — SURVEY §5 family); the library default
    // stays xxhash64 (faster per token, engine-internal). Same
    // fingerprint/blocking/hamming semantics either way.
    "dd_simhash" -> ((s, dir) => {
      Dedup.simHashPairs(t(s, dir, "documents"), "doc_id", "text",
          blockCol = "lang", maxHamming = 3,
          portable = true)
        .orderBy(col("ida"), col("idb"))
    }),

    // the PERSISTED-fingerprint twin of dd_simhash (round-11 verdict
    // #2 — the largest 100× entry without one): the SimHash64 corpus
    // pass (tokenize + hash every token) runs ONCE at ingest and
    // persists as a (doc_id, lang, simhash) parquet artifact — one
    // long per doc; the per-run cost is the 4×16-bit chunk pigeonhole
    // join alone, text never read. Fingerprints are a deterministic
    // per-doc projection → row-identical, shared oracle.
    "dd_simhash_persisted" -> ((s, dir) => {
      val fp = persistedTable(s, "shfp64", dir) { p =>
        Dedup.simHash(t(s, dir, "documents"), "doc_id", "text",
            keepCols = Seq("lang"), portable = true)
          .select(col("doc_id"), col("lang"), col("simhash"))
          .write.mode("overwrite").parquet(p)
      }
      Dedup.simHashPairsFromFingerprints(fp, "doc_id",
          blockCol = "lang", maxHamming = 3)
        .orderBy(col("ida"), col("idb"))
    }),

    // blocked by (label × LSH bucket): label-only blocks grow linearly
    // with the corpus and the pair join goes quadratic (42s at a 10×
    // scale-up). The plane count comes from AnnTuner's bucket-geometry
    // rule (smallest p with maxBlock·(p+1)/2^p ≤ 64) — a FIXED p=4
    // re-creates the quadratic join one scale-up later (the ann_ivf
    // %50 lesson); the oracle computes the identical p from the same
    // corpus stats in SQL.
    "dd_embed_cosine" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // session-cached (round 17): the per-label block stats are a
      // corpus-version property; the uncached call re-ran a grouped
      // count + dim job on every build
      val st = graft.ann.AnnTuner.statsCached(s"$dir|embeddings",
        emb, "embedding", Some("label"))
      val np = graft.ann.AnnTuner.lshPlanes(st.maxBlock, targetCandidates = 64)
      val blocked = emb.withColumn("blk",
        concat(col("label").cast("string"), lit("|"),
          graft.ann.Ann.lshBucket(col("embedding"), nPlanes = np, dim = st.dim)))
      Dedup.embeddingPairs(blocked, "vec_id", "embedding",
          blockCol = "blk", threshold = 0.35)
        .orderBy(col("ida"), col("idb"))
    }),

    // connected components over the dd_minhash candidate pairs
    // (Dedup.connectedGroups): A~B, B~C collapse into one group with
    // group_id = min member id — the pairs→groups→survivors step of a
    // dedup pipeline, as min-label propagation (diameter rounds; the
    // oracle computes the same closure with a recursive CTE)
    "dd_groups" -> ((s, dir) => {
      val cand = Dedup.minHashCandidatesTuned(t(s, dir, "documents"), "doc_id", "text",
        shingleLen = 3, nHashes = 16, threshold = MinHashThreshold)
      Dedup.connectedGroups(cand, "ida", "idb", idOut = "doc_id")
        .orderBy(col("doc_id"))
    }),

    // the PERSISTED-closure twin of dd_groups: the pairs→closure
    // chain runs ONCE at ingest (Dedup.buildGroupsTable — the
    // buildSignatureTable pattern applied to group assignment) and
    // persists as a (doc_id, group_id, group_size) parquet artifact;
    // the query is a bare artifact read. Group membership is a
    // property of the corpus version, so the result is row-identical
    // to dd_groups (shared oracle) — what THIS entry times is the
    // standing pipeline's per-run cost, with the connected-components
    // closure amortized to ingest and maintained incrementally by
    // Dedup.mergeGroups as batches arrive (GroupsMaintenanceSpec
    // pins incremental ≡ full recompute).
    "dd_groups_persisted" -> ((s, dir) =>
      groupsTable(s, dir).orderBy(col("doc_id"))),

    // survivorship policy (Dedup.survivorsByScore): production dedup
    // keeps the BEST copy per dup group, not the min-id one — here
    // quality = n_chars (longest copy wins, ties to smallest id).
    // Composes the oracled dd_groups closure with one score join and
    // one per-group window; keep=1 rows are the dedup'd corpus,
    // keep=0 the drop manifest.
    "dd_survivors_quality" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val cand = Dedup.minHashCandidatesTuned(docs, "doc_id", "text",
        shingleLen = 3, nHashes = 16, threshold = MinHashThreshold)
      Dedup.survivorsByScore(
          Dedup.connectedGroups(cand, "ida", "idb", idOut = "doc_id"),
          "doc_id", docs, "n_chars")
        .orderBy(col("doc_id"))
    }),

    // survivorship over the PERSISTED closure: the expensive part of
    // dd_survivors_quality is the inherited dd_groups recomputation —
    // against the ingest artifact the operator is what it always was
    // on paper: one score join + one per-group window. Row-identical
    // to dd_survivors_quality (shared oracle).
    "dd_survivors_persisted" -> ((s, dir) =>
      Dedup.survivorsByScore(groupsTable(s, dir), "doc_id",
          t(s, dir, "documents"), "n_chars")
        .orderBy(col("doc_id"))),

    // duplicate-span detection (Dedup.duplicateSpans — the Lee et al.
    // exact-substring dedup as a window-hash shuffle): per-doc count
    // and fraction of 8-token windows shared with another document
    "dd_spans" -> ((s, dir) => {
      Dedup.duplicateSpans(t(s, dir, "documents"), "doc_id", "text", span = SpanTokens)
        .orderBy(col("doc_id"))
    }),

    // span REMOVAL (Dedup.removeDuplicateSpans — the Lee et al.
    // rewrite step dd_spans only detects): every token covered by a
    // cross-doc duplicated window is dropped and the survivors
    // re-joined; per-doc token/removal counts + rewritten text
    "dd_spans_rewrite" -> ((s, dir) => {
      Dedup.removeDuplicateSpans(t(s, dir, "documents"), "doc_id", "text",
          span = SpanTokens)
        .orderBy(col("doc_id"))
    }),

    // the PERSISTED-window twin of dd_spans (round-11 verdict #7):
    // the positional window-hash projection persists once per corpus
    // version (Dedup.buildSpanWindowTable — shared with the rewrite
    // twin below); the per-run cost is the dup aggregate + per-doc
    // counts over the narrow (id, p, h) artifact, corpus text never
    // read. Window hashes are a per-doc projection → row-identical,
    // shared oracle.
    "dd_spans_persisted" -> ((s, dir) =>
      Dedup.duplicateSpansFromWindows(spanWindowTable(s, dir), "doc_id",
          dupHashes = Some(spanDupTable(s, dir)))
        .orderBy(col("doc_id"))),

    // span removal over the SAME persisted window artifact: dup
    // detection + covered-starts aggregation read the artifact; the
    // one remaining corpus scan is the rewrite projection itself
    // (irreducible — the output carries rewritten text). Row-identical
    // to dd_spans_rewrite, shared oracle.
    "dd_spans_rewrite_persisted" -> ((s, dir) =>
      Dedup.removeDuplicateSpansFromWindows(t(s, dir, "documents"),
          "doc_id", "text", spanWindowTable(s, dir), span = SpanTokens,
          dupHashes = Some(spanDupTable(s, dir)))
        .orderBy(col("doc_id"))),

    // SemDeDup (Dedup.semanticPairs): deterministic Lloyd k-means over
    // the embedding space (√n seed rule — cluster count grows with the
    // corpus, the ann_ivf lesson), then cosine pairs WITHIN clusters
    // only. The oracle replays the full fit: decimal-exact centroid
    // means make the two engines' Lloyd iterations bit-identical.
    "dd_semantic" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // corpus size via the session-cached planning stats (the same
      // key the ann_* family uses) instead of a per-build count() job
      val n = graft.ann.AnnTuner.statsCached(s"$dir|embeddings",
        emb, "embedding", None).n
      val seeds = seedCentroids(emb, n)
      Dedup.semanticPairs(emb, "vec_id", "embedding", seeds,
          iters = SemDedupIters, threshold = SemDedupThreshold, maxBlockSize = 4096)
        .orderBy(col("ida"), col("idb"))
    }),

    // the PERSISTED-ASSIGNMENT twin: BOTH halves of the ingest-time
    // training job — the k-means fit AND the corpus cluster
    // assignment — persist as one (vec_id, embedding, cell) parquet
    // artifact (round-11 verdict #3: centroids alone still re-ran a
    // full NearestCentroid pass over every embedding per query; the
    // assignment is a property of the corpus version exactly like the
    // dd_groups closure, so it belongs in the artifact). The query is
    // the within-cluster pair join alone. Deterministic fit + per-row
    // assignment → row-identical to dd_semantic, oracle shared
    // verbatim.
    "dd_semantic_persisted" -> ((s, dir) => {
      val assigned = persistedTable(s, "semassign", dir) { p =>
        val emb = t(s, dir, "embeddings")
        val n = graft.ann.AnnTuner.statsCached(s"$dir|embeddings",
          emb, "embedding", None).n
        val seeds = seedCentroids(emb, n)
        val base = graft.Tables.fanOut(emb)
          .select(col("vec_id"), col("embedding"))
          .transform(graft.Barrier.checkpoint)
        val cents = graft.ann.KMeans.lloyd(base, "vec_id", "embedding",
          seeds, SemDedupIters)
        graft.ann.KMeans.assign(base, "vec_id", "embedding", cents)
          .write.mode("overwrite").parquet(p)
      }
      Dedup.embeddingPairs(assigned, "vec_id", "embedding",
          blockCol = "cell", threshold = SemDedupThreshold,
          maxBlockSize = 4096)
        .orderBy(col("ida"), col("idb"))
    }),

    // end-to-end curation: quality gate → lang gate → exact dedup →
    // minhash near-dedup → stratified sample, one declarative chain
    // (graft.pipeline.CurationPipeline)
    "dd_pipeline" -> ((s, dir) => {
      graft.pipeline.CurationPipeline.run(
          t(s, dir, "documents"), "doc_id", "text", "lang")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // The PERSISTED-ARTIFACT pipeline twin: BOTH per-doc ingest
    // projections — the minhash signature matrix AND the
    // quality/langid/digest signal frame — come from parquet stage
    // tables written once per corpus version
    // (QueryUtil.persistedArtifact). The curation run then never
    // scans the text column at all: its only corpus read is
    // (doc_id, lang), everything else is joins over the two narrow
    // artifacts. Both artifacts are pure per-doc projections, so
    // results are row-identical to dd_pipeline (shared oracle) —
    // what THIS entry times is the standing pipeline's per-run cost
    // with all raw-byte work amortized to ingest.
    "dd_pipeline_persisted" -> ((s, dir) => {
      val sigPath = persistedArtifact("mhsig", dir) { p =>
        graft.pipeline.CurationPipeline.buildSignatureTable(
          t(s, dir, "documents"), "doc_id", "text", p)
      }
      val snlPath = persistedArtifact("pipesignal", dir) { p =>
        graft.pipeline.CurationPipeline.buildSignalTable(
          t(s, dir, "documents"), "doc_id", "text", p)
      }
      graft.pipeline.CurationPipeline.runWithArtifacts(
          t(s, dir, "documents"), "doc_id", "text", "lang",
          s.read.parquet(snlPath), s.read.parquet(sigPath))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }))

  /** Session-cached handle on the ingest-time positional window-hash
    * artifact (Dedup.buildSpanWindowTable), shared by
    * dd_spans_persisted and dd_spans_rewrite_persisted.
    */
  private def spanWindowTable(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    persistedTable(s, "spanwin", dir) { p =>
      Dedup.buildSpanWindowTable(t(s, dir, "documents"), "doc_id", "text",
        span = SpanTokens, p)
    }

  /** Ingest-derived cross-doc duplicated-hash artifact
    * (Dedup.buildSpanDupHashTable over the window table) — the second
    * stage of the span ingest chain, shared by both span twins.
    */
  private def spanDupTable(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    persistedTable(s, "spandup", dir) { p =>
      Dedup.buildSpanDupHashTable(spanWindowTable(s, dir), "doc_id", p)
    }

  /** Session-cached handle on the ingest-time group-assignment
    * artifact (Dedup.buildGroupsTable), shared by dd_groups_persisted
    * and dd_survivors_persisted.
    */
  private def groupsTable(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    persistedTable(s, "ddgroups", dir) { p =>
      Dedup.buildGroupsTable(t(s, dir, "documents"), "doc_id", "text", p,
        shingleLen = 3, nHashes = 16, threshold = MinHashThreshold)
    }

  private val baseOracles: Map[String, String] = Map(
    "dd_exact" ->
      s"""$sqlNorm
         |SELECT min(doc_id) AS doc_id, md5(t) AS content_hash,
         |  count(*) AS n_copies
         |FROM norm GROUP BY md5(t) ORDER BY doc_id""".stripMargin,

    "dd_ngram_jaccard" -> {
      import graft.dedup.Dedup.{MinHashMix, MinHashP}
      val minCols = (0 until 32).map(s =>
        s"min((base * ${2 * s + 1} + ${MinHashMix * s}) % $MinHashP) AS h$s").mkString(",\n    ")
      // matching-slot jaccard estimate, mirroring the Spark-side
      // prefilter (threshold 0.5 − slack 0.25 = 0.25)
      val estSum = (0 until 32)
        .map(i => s"(CASE WHEN pa.h$i = pb.h$i THEN 1 ELSE 0 END)").mkString(" + ")
      val bandSelects = (0 until 8).map { b =>
        val slots = (b * 4 until (b + 1) * 4).map(s => s"h$s::VARCHAR").mkString("||','||")
        s"SELECT doc_id, $b AS band, md5($slots) AS bkey FROM sig"
      }.mkString("\n  UNION ALL ")
      s"""$sqlNorm,
         |tok AS (SELECT doc_id, lang, string_split(t, ' ') AS toks FROM norm),
         |sh AS (
         |  SELECT doc_id, lang,
         |    list_distinct([array_to_string(toks[i : i+2], ' ')
         |      for i in range(1, greatest(len(toks)-1, 2))]) AS shingles
         |  FROM tok),
         |hashed AS (
         |  SELECT doc_id, unnest(shingles) AS g FROM sh),
         |hb AS (
         |  SELECT doc_id, ('0x'||substr(md5(g), 1, 15))::BIGINT % $MinHashP AS base
         |  FROM hashed),
         |sig AS (
         |  SELECT doc_id,
         |    $minCols
         |  FROM hb GROUP BY doc_id),
         |bands0 AS (
         |  $bandSelects),
         |keep AS (
         |  SELECT band, bkey FROM bands0 GROUP BY band, bkey
         |  HAVING count(*) <= ${graft.dedup.Dedup.DefaultMaxBucketSize}),
         |bands AS (
         |  SELECT bands0.* FROM bands0 JOIN keep USING (band, bkey)),
         |cand0 AS (
         |  SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |cand AS (
         |  SELECT c.ida, c.idb FROM cand0 c
         |  JOIN sig pa ON c.ida = pa.doc_id
         |  JOIN sig pb ON c.idb = pb.doc_id
         |  WHERE ($estSum) / 32.0 >= 0.25),
         |shh AS (
         |  SELECT doc_id, lang,
         |    list_distinct([('0x'||substr(md5(g), 1, 15))::BIGINT
         |      for g in shingles]) AS hs
         |  FROM sh),
         |verified AS (
         |  SELECT c.ida, c.idb,
         |    len(list_filter(sa.hs, x -> list_contains(sb.hs, x))) AS i,
         |    len(sa.hs) AS ca, len(sb.hs) AS cb
         |  FROM cand c
         |  JOIN shh sa ON c.ida = sa.doc_id
         |  JOIN shh sb ON c.idb = sb.doc_id
         |  WHERE sa.lang = sb.lang)
         |SELECT ida, idb, round(i * 1.0 / (ca + cb - i), 6) AS jaccard
         |FROM verified
         |WHERE round(i * 1.0 / (ca + cb - i), 6) >= 0.5
         |ORDER BY ida, idb""".stripMargin
    },

    "dd_minhash" ->
      s"""$minHashCandCtes
         |SELECT ida, idb FROM cand ORDER BY ida, idb""".stripMargin,

    // batch-vs-corpus incremental gate: same signature arithmetic +
    // band geometry as dd_minhash, with the corpus split into
    // existing (doc_id % 10 <> 7) and batch (= 7) sides; bucket cap
    // counts EXISTING docs in batch-touched buckets only
    "dd_incremental" ->
      s"""$minHashSigCtes,
         |bsig AS (SELECT * FROM sig WHERE doc_id % 10 = 7),
         |csig AS (SELECT * FROM sig WHERE doc_id % 10 <> 7),
         |bbands AS (
         |  ${sqlBandSelects("bsig")}),
         |cbands AS (
         |  ${sqlBandSelects("csig")}),
         |probe AS (SELECT DISTINCT band, bkey FROM bbands),
         |hit AS (SELECT c.* FROM cbands c JOIN probe USING (band, bkey)),
         |okb AS (
         |  SELECT band, bkey FROM hit GROUP BY band, bkey
         |  HAVING count(*) <= ${graft.dedup.Dedup.DefaultMaxBucketSize}),
         |pairs AS (
         |  SELECT DISTINCT b.doc_id AS nid, h.doc_id AS cid
         |  FROM bbands b JOIN hit h USING (band, bkey) JOIN okb USING (band, bkey)),
         |counts AS (SELECT nid, count(*) AS n_dups FROM pairs GROUP BY nid)
         |SELECT s.doc_id, coalesce(c.n_dups, 0) AS n_dups,
         |  CASE WHEN coalesce(c.n_dups, 0) > 0 THEN 1 ELSE 0 END AS is_dup
         |FROM bsig s LEFT JOIN counts c ON s.doc_id = c.nid
         |ORDER BY s.doc_id""".stripMargin,

    "dd_groups" ->
      // transitive closure of the SAME candidate pairs (shared CTE
      // chain): min reachable id per node = the component's canonical
      // id. The closure is quadratic in component size — fine for an
      // oracle; the Spark side converges in diameter rounds instead.
      s"""${minHashCandCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |edges AS (
         |  SELECT ida AS u, idb AS v FROM cand
         |  UNION ALL SELECT idb, ida FROM cand),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |labels AS (
         |  SELECT u AS doc_id, least(u, min(v)) AS group_id FROM reach GROUP BY u),
         |sizes AS (SELECT group_id, count(*) AS group_size FROM labels GROUP BY 1)
         |SELECT l.doc_id, l.group_id, s.group_size
         |FROM labels l JOIN sizes s USING (group_id)
         |ORDER BY doc_id""".stripMargin,

    // the dd_groups closure + survivorship: survivor = max n_chars
    // within the group, ties to smallest id — replayed as
    // max-per-group then min-id-among-max (deterministic in both
    // engines; no arg_max, whose tie order is unspecified)
    "dd_survivors_quality" ->
      s"""${minHashCandCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |edges AS (
         |  SELECT ida AS u, idb AS v FROM cand
         |  UNION ALL SELECT idb, ida FROM cand),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |labels AS (
         |  SELECT u AS doc_id, least(u, min(v)) AS group_id FROM reach GROUP BY u),
         |sizes AS (SELECT group_id, count(*) AS group_size FROM labels GROUP BY 1),
         |scored AS (
         |  SELECT l.doc_id, l.group_id, s.group_size, d.n_chars
         |  FROM labels l JOIN sizes s USING (group_id)
         |    JOIN documents d USING (doc_id)),
         |best AS (SELECT group_id, max(n_chars) AS bn FROM scored GROUP BY 1),
         |surv AS (
         |  SELECT s.group_id, min(s.doc_id) AS sid
         |  FROM scored s JOIN best b ON s.group_id = b.group_id AND s.n_chars = b.bn
         |  GROUP BY s.group_id)
         |SELECT s.doc_id, s.group_id, s.group_size, s.n_chars,
         |  CASE WHEN s.doc_id = v.sid THEN 1 ELSE 0 END AS keep
         |FROM scored s JOIN surv v USING (group_id)
         |ORDER BY s.doc_id""".stripMargin,

    "dd_pipeline" -> {
      import graft.dedup.Dedup.{MinHashMix, MinHashP}
      import graft.functions.TextFunctions._
      def inList(words: Seq[String]): String = words.map(w => s"'$w'").mkString("(", ", ", ")")
      def score(set: Seq[String]): String =
        s"len(list_filter(string_split(t, ' '), x -> x IN ${inList(set)}))"
      val g = "greatest(s_de, s_en, s_es, s_fr, s_zh)"
      val minCols = (0 until 16).map(s =>
        s"min((base * ${2 * s + 1} + ${MinHashMix * s}) % $MinHashP) AS h$s").mkString(",\n    ")
      val bandSelects = (0 until 4).map { b =>
        val slots = (b * 4 until (b + 1) * 4).map(s => s"h$s::VARCHAR").mkString("||','||")
        s"SELECT doc_id, $b AS band, md5($slots) AS bkey FROM sig"
      }.mkString("\n  UNION ALL ")
      s"""$sqlNorm,
         |feat AS (
         |  SELECT doc_id, lang, t,
         |    len(string_split(t, ' ')) AS n_words,
         |    round(len(regexp_replace(t, '[^a-z]', '', 'g')) * 1.0 / len(t), 6) AS alpha_ratio,
         |    ${score(MarkersDe)} AS s_de,
         |    ${score(StopwordsEn)} AS s_en,
         |    ${score(MarkersEs)} AS s_es,
         |    ${score(MarkersFr)} AS s_fr,
         |    ${score(MarkersZh)} AS s_zh,
         |    CASE WHEN regexp_matches(t, '[\\x{4e00}-\\x{9fff}]') THEN 1 ELSE 0 END AS has_cjk
         |  FROM norm),
         |s2 AS (
         |  SELECT doc_id, lang, t FROM feat
         |  WHERE n_words >= 20 AND alpha_ratio >= 0.7
         |    AND (CASE WHEN has_cjk = 1 THEN 'zh'
         |          WHEN $g = 0 THEN 'und'
         |          WHEN s_de = $g THEN 'de'
         |          WHEN s_en = $g THEN 'en'
         |          WHEN s_es = $g THEN 'es'
         |          WHEN s_fr = $g THEN 'fr'
         |          ELSE 'zh' END) IN ('en', 'und')),
         |s3 AS (
         |  SELECT doc_id, lang, t FROM s2
         |  WHERE doc_id IN (SELECT min(doc_id) FROM s2 GROUP BY md5(t))),
         |tok AS (SELECT doc_id, string_split(t, ' ') AS toks FROM s3),
         |sh AS (
         |  SELECT doc_id,
         |    unnest(list_distinct([array_to_string(toks[i : i+2], ' ')
         |      for i in range(1, greatest(len(toks)-1, 2))])) AS g
         |  FROM tok),
         |hashed AS (
         |  SELECT doc_id, ('0x'||substr(md5(g), 1, 15))::BIGINT % $MinHashP AS base
         |  FROM sh),
         |sig AS (
         |  SELECT doc_id,
         |    $minCols
         |  FROM hashed GROUP BY doc_id),
         |bands0 AS (
         |  $bandSelects),
         |keep AS (
         |  SELECT band, bkey FROM bands0 GROUP BY band, bkey
         |  HAVING count(*) <= ${graft.dedup.Dedup.DefaultMaxBucketSize}),
         |bands AS (
         |  SELECT bands0.* FROM bands0 JOIN keep USING (band, bkey)),
         |dropped AS (
         |  SELECT DISTINCT b.doc_id AS did FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
         |SELECT doc_id, lang FROM s3
         |WHERE doc_id NOT IN (SELECT did FROM dropped)
         |  AND ('0x'||substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 <
         |    CASE WHEN lang = 'en' THEN 500000 ELSE 200000 END
         |ORDER BY doc_id""".stripMargin
    },

    "dd_spans" -> {
      // window semantics mirror WordShingles(span): max(len-span+1, 1)
      // positional windows, the last one truncated on short docs
      val w = SpanTokens
      s"""$sqlNorm,
         |tok AS (SELECT doc_id, string_split(t, ' ') AS toks FROM norm),
         |win AS (
         |  SELECT doc_id, ('0x'||substr(md5(g), 1, 15))::BIGINT AS h FROM (
         |    SELECT doc_id, unnest([array_to_string(toks[i : i+${w - 1}], ' ')
         |      for i in range(1, greatest(len(toks)-${w - 2}, 2))]) AS g
         |    FROM tok)),
         |dup AS (SELECT h FROM win GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
         |tot AS (SELECT doc_id, count(*) AS n_windows FROM win GROUP BY 1),
         |dd AS (SELECT doc_id, count(*) AS n_dup_windows FROM win JOIN dup USING (h) GROUP BY 1)
         |SELECT t.doc_id, t.n_windows,
         |  coalesce(d.n_dup_windows, 0) AS n_dup_windows,
         |  round(coalesce(d.n_dup_windows, 0) * 1.0 / t.n_windows, 6) AS dup_ratio
         |FROM tot t LEFT JOIN dd d USING (doc_id) ORDER BY doc_id""".stripMargin
    },

    "dd_spans_rewrite" -> {
      // same window family as dd_spans, with start positions kept
      // (zipped parallel unnest); covered positions = dup window
      // starts × range(0, span); rewrite = ordered string_agg over
      // the anti-joined token positions. Clamping cov to the doc
      // length is unnecessary — positions past the end match no token
      // row in the anti-join (the Spark kernel's maxEnd sweep
      // likewise just runs out of tokens).
      val w = SpanTokens
      s"""$sqlNorm,
         |tok AS (SELECT doc_id, string_split(t, ' ') AS toks FROM norm WHERE t IS NOT NULL),
         |win AS (
         |  SELECT doc_id,
         |    unnest([i - 1 for i in range(1, greatest(len(toks)-${w - 2}, 2))]) AS p,
         |    unnest([('0x'||substr(md5(array_to_string(toks[i : i+${w - 1}], ' ')), 1, 15))::BIGINT
         |      for i in range(1, greatest(len(toks)-${w - 2}, 2))]) AS h
         |  FROM tok),
         |dup AS (SELECT h FROM win GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
         |cov AS (
         |  SELECT DISTINCT w.doc_id, w.p + r.j AS pos
         |  FROM win w JOIN dup USING (h) CROSS JOIN range(0, $w) r(j)),
         |tpos AS (
         |  SELECT doc_id, unnest(toks) AS tok, unnest(range(0, len(toks))) AS pos
         |  FROM tok),
         |kept AS (
         |  SELECT t.doc_id, t.pos, t.tok FROM tpos t ANTI JOIN cov c
         |    ON t.doc_id = c.doc_id AND t.pos = c.pos),
         |reb AS (
         |  SELECT doc_id, count(*) AS n_kept,
         |    string_agg(tok, ' ' ORDER BY pos) AS text_kept
         |  FROM kept GROUP BY 1)
         |SELECT k.doc_id, len(k.toks) AS n_tokens,
         |  len(k.toks) - coalesce(r.n_kept, 0) AS n_removed,
         |  coalesce(r.text_kept, '') AS text_kept
         |FROM tok k LEFT JOIN reb r USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },

    "dd_semantic" -> {
      // squared-L2 with NearestCentroid's exact left-to-right fold
      // (sqrt'd list_distance could round two distinct squared sums to
      // equal doubles and flip a tie that Spark breaks strictly)
      def d2(a: String, b: String): String =
        s"list_reduce(list_prepend(0.0, [($a[j+1]-$b[j+1])*($a[j+1]-$b[j+1]) " +
          s"for j in range(0, 64)]), (x, y) -> x + y)"
      def assignCte(out: String, cents: String): String =
        s"""$out AS (
           |  SELECT vec_id, v, cid AS cell FROM (
           |    SELECT s.vec_id, s.v, c.cid,
           |      row_number() OVER (PARTITION BY s.vec_id
           |        ORDER BY ${d2("s.v", "c.cv")}, c.cid) AS rn
           |    FROM vv s, $cents c) WHERE rn = 1)""".stripMargin
      // decimal-exact means, round 9 — identical to KMeans.meanCentroids
      def meansCte(out: String, src: String): String =
        s"""$out AS (
           |  SELECT cell AS cid, list(m ORDER BY j) AS cv FROM (
           |    SELECT cell, j,
           |      round(CAST(sum(CAST(v[j+1] AS DECIMAL(28,10))) AS DOUBLE) / count(*), 9) AS m
           |    FROM $src, range(0, 64) r(j) GROUP BY cell, j)
           |  GROUP BY cell)""".stripMargin
      s"""WITH mm AS (
         |  SELECT GREATEST(1, CAST(FLOOR(SQRT(count(*))) AS BIGINT)) AS m FROM embeddings),
         |vv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |c0 AS (SELECT vec_id AS cid, v AS cv FROM vv, mm WHERE vec_id % m = 0),
         |${assignCte("a1", "c0")},
         |${meansCte("c1", "a1")},
         |${assignCte("a2", "c1")},
         |${meansCte("c2", "a2")},
         |${assignCte("a3", "c2")},
         |p AS (
         |  SELECT a.vec_id AS ida, b.vec_id AS idb,
         |    round(list_dot_product(a.v, b.v) /
         |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
         |  FROM a3 a JOIN a3 b ON a.cell = b.cell AND a.vec_id < b.vec_id)
         |SELECT ida, idb, cos FROM p WHERE cos >= $SemDedupThreshold
         |ORDER BY ida, idb""".stripMargin
    },

    "dd_simhash" -> {
      // portable-hash simhash, mirrored bit-for-bit: 64 majority-vote
      // bit terms generated here (low md5 half carries bits 0-31, high
      // half 32-63; bit 63's weight is Long.MinValue so the signed
      // fingerprint matches Spark's packed sum exactly). DuckDB's >>
      // is arithmetic like Spark's shiftright; the & 65535 mask makes
      // the chunk values identical either way.
      def bit(i: Int): String =
        if (i < 32) s"((lo >> $i) & 1)" else s"((hi >> ${i - 32}) & 1)"
      val bitTerms = (0 until 64).map { i =>
        val weight = if (i == 63) "-9223372036854775808" else (1L << i).toString
        s"CASE WHEN 2 * sum(${bit(i)}) > count(*) THEN CAST($weight AS BIGINT) ELSE CAST(0 AS BIGINT) END"
      }.mkString(" +\n    ")
      s"""$sqlNorm,
         |tok AS (
         |  SELECT doc_id, lang, unnest(string_split(t, ' ')) AS g FROM norm),
         |th AS (
         |  SELECT doc_id, lang,
         |    ('0x'||substr(md5(g), 1, 8))::BIGINT AS hi,
         |    ('0x'||substr(md5(g), 9, 8))::BIGINT AS lo
         |  FROM tok),
         |sig AS (
         |  SELECT doc_id, lang,
         |    $bitTerms AS simhash
         |  FROM th GROUP BY doc_id, lang),
         |chunked AS (
         |  SELECT doc_id, lang, simhash, c AS chunk_i,
         |    (simhash >> (c * 16)) & 65535 AS chunk_v
         |  FROM sig, range(0, 4) r(c)),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb,
         |    bit_count(xor(a.simhash, b.simhash)) AS hamming
         |  FROM chunked a JOIN chunked b
         |    ON a.lang = b.lang AND a.chunk_i = b.chunk_i AND a.chunk_v = b.chunk_v
         |    AND a.doc_id < b.doc_id)
         |SELECT ida, idb, CAST(hamming AS BIGINT) AS hamming
         |FROM pairs WHERE hamming <= 3
         |ORDER BY ida, idb""".stripMargin
    },

    "dd_embed_cosine" ->
      """WITH mb AS (
        |  SELECT MAX(c)::DOUBLE AS mb
        |  FROM (SELECT count(*) AS c FROM embeddings GROUP BY label)),
        |np AS (
        |  SELECT COALESCE(MIN(p), 24) AS np FROM range(2, 25) t(p), mb
        |  WHERE mb.mb * (p+1) / POW(2.0, p) <= 64),
        |planes AS (
        |  SELECT p, [(((('0x'||substr(md5(p::VARCHAR||','||j::VARCHAR), 1, 15))::BIGINT % 2001) - 1000) / 1000.0)
        |             for j in range(0, 64)] AS plane
        |  FROM range(0, 24) AS rp(p), np WHERE p < np),
        |bucketed AS (
        |  SELECT vec_id, label, v,
        |    string_agg(
        |      CASE WHEN list_reduce(
        |        list_prepend(0.0, [v[j+1] * plane[j+1] for j in range(0, 64)]),
        |        (a, b) -> a + b) >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
        |  FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), planes
        |  GROUP BY vec_id, label, v),
        |p AS (
        |  SELECT a.vec_id AS ida, b.vec_id AS idb,
        |    round(list_dot_product(a.v, b.v) /
        |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
        |  FROM bucketed a JOIN bucketed b
        |    ON a.label = b.label AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
        |SELECT ida, idb, cos FROM p WHERE cos >= 0.35
        |ORDER BY ida, idb""".stripMargin)

  /** dd_semantic_persisted is row-identical to dd_semantic by
    * construction (the same deterministic fit, persisted then
    * reloaded), so its oracle is shared verbatim.
    */
  val oracles: Map[String, String] =
    baseOracles +
      ("dd_semantic_persisted" -> baseOracles("dd_semantic")) +
      // the ingest-time closure is the same deterministic
      // pairs→components computation, persisted then reloaded —
      // row-identical to the in-query parents by construction
      ("dd_groups_persisted" -> baseOracles("dd_groups")) +
      ("dd_survivors_persisted" -> baseOracles("dd_survivors_quality")) +
      // signatures and shingle sets are per-doc projections:
      // filter-then-read ≡ read-then-filter, so the artifact-fed
      // chains reproduce their in-query parents row for row
      ("dd_minhash_persisted" -> baseOracles("dd_minhash")) +
      // simhash fingerprints are a deterministic per-doc projection,
      // persisted then reloaded — same pigeonhole join, same rows
      ("dd_simhash_persisted" -> baseOracles("dd_simhash")) +
      // the positional window-hash frame is a per-doc projection,
      // persisted then reloaded — same dup aggregate / rewrite, same
      // rows
      ("dd_spans_persisted" -> baseOracles("dd_spans")) +
      ("dd_spans_rewrite_persisted" -> baseOracles("dd_spans_rewrite")) +
      ("dd_ngram_jaccard_persisted" -> baseOracles("dd_ngram_jaccard")) +
      // identical semantics to dd_pipeline (signatures are a per-doc
      // projection: filter-then-read ≡ read-then-filter) — the entry
      // pins the ingest-signature → semi-join → LSH path to the same
      // rows
      ("dd_pipeline_persisted" -> baseOracles("dd_pipeline"))
}
