package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Tables
import graft.ext.{CorpusDiff, Dedup, Multimodal, NgramLM, PCA, RangeJoin, Retrieval, RobustStats, Sharding, Similarity, TextAnalysis, Tokenizers, Unigram, WordPiece}

/** Extended operator queries: training-data-pipeline ops beyond the
  * reference's own surface (dedup family, ANN similarity, text analysis,
  * multimodal). Oracle SQL is provided where DuckDB can express identical
  * semantics; float-heavy / hash-heavy ops are rows-only here and get
  * brute-force oracles in the ScalaTest suite instead (SURVEY.md §5.2).
  */
object Extended {

  /** Where Verify materializes deterministic candidate sets for oracles
    * that RE-RANK them in DuckDB (LSH/IVF top-k: approximate in recall,
    * exact in ranking — the candidate set is deterministic for a fixed
    * seed, so the ranking over it is fully oracled). A fixed path
    * because `SparkEntry.oracleSql` is a static map: the SQL must name
    * the location without runtime substitution — the path is baked in
    * at object init from [[graft.core.WorkDirs.root]] (the checkout the
    * Verify JVM runs from), so the dumped `oracle_sql.json` carries an
    * absolute path on ANY checkout. Lives under the repo's (gitignored)
    * build dir rather than /tmp: the process running the oracle SQL is
    * guaranteed to share the repo filesystem with the process that ran
    * Verify. */
  val OracleAuxDir = s"${graft.core.WorkDirs.root}/target/oracle_aux"

  /** The exact-Jaccard recursive-closure CTE prefix shared by the
    * cluster-grade oracles (q85/q121/q151/q152/q164/q165; q40/q51/q62/
    * q89 inline the same pair stage): string 3-gram shingles, exact
    * Jaccard >= 0.5 pairs, symmetric edges, recursive reachability,
    * component-min labels. ONE source of truth — a change to the
    * closure semantics lands here, not in four copies. Ends
    * mid-CTE-list (after `lbl,`); callers append their own CTEs /
    * final SELECT.
    *
    * Pair stage is the INVERTED-INDEX form since r16 (shingle →
    * doc postings join, |A∩B| counted per pair, |A∪B| = n1+n2−|A∩B|
    * over the distinct-shingle counts): value-identical to the old
    * all-pairs `list_intersect` scan — the division's integer
    * arguments are the same, pairs sharing no shingle cannot reach
    * any positive threshold — but DuckDB runs it ~10× faster, part
    * of the r16 comparator-wall cut (oracle_timings.json; the
    * driver's correctness stage had been dark three rounds). */
  /** The unrolled BPE trainer chain shared by q155/q163 — ONE generator
    * instead of two drifting copies: per round, pair counts (pr) and
    * the lexicographic-tie argmax (b); the rewrite (e/m/run/sel ->
    * tok_{r+1}) expresses the engine's left-to-right non-overlap fold
    * as match-run parity (a match is taken iff its in-run position is
    * odd — provably the fold's selection). `rewriteLast` controls
    * whether the final round's rewrite materializes (q163 needs the
    * encoded corpus; q155 only the merge table). */
  private def bpeCte(rounds: Int, rewriteLast: Boolean): String = {
    val sb = new StringBuilder(
      "WITH tok1 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)")
    for (r <- 1 to rounds) {
      sb ++= s""",
pr$r AS (SELECT t.toks[i] AS t1, t.toks[i+1] AS t2
        FROM (SELECT toks, unnest(range(1, len(toks))) AS i FROM tok$r WHERE len(toks) >= 2) t),
b$r AS (SELECT t1, t2, COUNT(*) AS c FROM pr$r GROUP BY 1, 2
       ORDER BY c DESC, t1, t2 LIMIT 1)"""
      if (r < rounds || rewriteLast) sb ++= s""",
e$r AS (SELECT doc_id, unnest(toks) AS t, unnest(range(1, len(toks) + 1)) AS pos FROM tok$r),
m$r AS (SELECT doc_id, pos, t,
         CASE WHEN t = (SELECT t1 FROM b$r)
               AND lead(t) OVER (PARTITION BY doc_id ORDER BY pos) = (SELECT t2 FROM b$r)
              THEN 1 ELSE 0 END AS m
       FROM e$r),
run$r AS (SELECT doc_id, pos, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS run
         FROM m$r WHERE m = 1),
sel$r AS (SELECT doc_id, pos FROM (
           SELECT doc_id, pos, row_number() OVER (PARTITION BY doc_id, run ORDER BY pos) AS rr
           FROM run$r) WHERE rr % 2 = 1),
tok${r + 1} AS (SELECT e.doc_id,
           list(CASE WHEN s.pos IS NOT NULL
                     THEN e.t || ' ' || (SELECT t2 FROM b$r) ELSE e.t END ORDER BY e.pos) AS toks
         FROM m$r e
         LEFT JOIN sel$r s  ON s.doc_id = e.doc_id AND s.pos = e.pos
         LEFT JOIN sel$r s2 ON s2.doc_id = e.doc_id AND s2.pos = e.pos - 1
         WHERE s2.pos IS NULL
         GROUP BY e.doc_id)"""
    }
    sb.toString
  }

  /** q155's oracle: the merge table off the unrolled chain. */
  private def bpeMergeTableSql(rounds: Int): String =
    bpeCte(rounds, rewriteLast = false) + "\n" +
      (1 to rounds).map(r =>
        s"SELECT $r AS round, t1 AS lhs, t2 AS rhs, CAST(c AS BIGINT) AS pair_count FROM b$r")
        .mkString("\nUNION ALL\n") + "\nORDER BY round"

  /** q163's oracle: per-doc raw-vs-encoded lengths off the full chain. */
  private def bpeEncodeSql(rounds: Int): String =
    bpeCte(rounds, rewriteLast = true) + s"""
SELECT t1.doc_id, CAST(len(t1.toks) AS BIGINT) AS n_raw,
       CAST(len(tf.toks) AS BIGINT) AS n_encoded
FROM tok1 t1 JOIN tok${rounds + 1} tf USING (doc_id)
ORDER BY doc_id"""

  /** q164's oracle tail over [[JaccardClosureCte]]: fold = hash(root)
    * mod k — the same modular arithmetic as q151's split. */
  private def leakageFoldsSql(k: Int): String =
    JaccardClosureCte +
      s"""rooted AS (SELECT d.doc_id,
         |    coalesce(l.cluster_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN lbl l ON l.id = d.doc_id)
         |SELECT doc_id, cluster_id,
         |  (cluster_id % 1000003) * 2654435761 % 100 % $k AS fold
         |FROM rooted ORDER BY doc_id""".stripMargin

  private def jaccardClosureBody(table: String): String =
    s"""tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM $table),
      |sh AS (SELECT doc_id,
      |  list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |  ELSE list_transform(range(1, len(toks) - 1),
      |         i -> array_to_string(list_slice(toks, i, i + 2), ' '))
      |  END) AS sh FROM tok),
      |shx AS (SELECT doc_id, unnest(sh) AS g FROM sh),
      |shn AS (SELECT doc_id, len(sh) AS n FROM sh),
      |inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
      |    COUNT(*) AS i
      |  FROM shx a JOIN shx b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT id1, id2 FROM inter
      |  JOIN shn c1 ON c1.doc_id = id1
      |  JOIN shn c2 ON c2.doc_id = id2
      |  WHERE CAST(i AS DOUBLE) / (c1.n + c2.n - i) >= 0.5),
      |edges AS (SELECT id1 AS a, id2 AS b FROM pairs UNION SELECT id2, id1 FROM pairs),
      |reach AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a),
      |lbl AS (SELECT a AS id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
      |""".stripMargin

  private val JaccardClosureCte: String =
    "WITH RECURSIVE " + jaccardClosureBody("documents")

  /** q46's featurized media corpus (documents + every-100th replayed
    * under a shifted id, media_features over the synthesized payloads) —
    * shared between the query and its vector dump so the oracle scores
    * exactly the corpus the query searched. */
  private def q46MediaVectors(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val replayed = docs.filter(col("doc_id") % 100 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    Multimodal.synthesizeFromDocuments(docs.unionByName(replayed)).toDF()
      .select(col("media_id").as("vec_id"),
        graft.functions.VectorFunctions.media_features(col("content"), 64).as("embedding"))
  }

  /** Side frames Verify writes under [[OracleAuxDir]]:
    *  - q30/q33: the EXACT candidate set the query re-ranks (same
    *    params, same seed; generation is deterministic, so recomputation
    *    here equals the in-query computation);
    *  - q27/q46: the per-doc fingerprints / feature vectors, from which
    *    DuckDB recomputes the ALL-PAIRS ground truth — an oracle of the
    *    whole candidate-generation + verify pipeline downstream of the
    *    (native-kernel) hash/feature computation. */
  val auxDumps: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q30_candidates" -> ((s: SparkSession, d: String) => {
      val emb = Tables.embeddings(s, d)
      Similarity.lshCandidates(emb, emb.filter(col("vec_id") % 50 === 0),
        numTables = 16, bitsPerTable = 8)
    }),
    "q33_candidates" -> ((s: SparkSession, d: String) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfCandidates(emb, emb.filter(col("vec_id") % 50 === 0),
        numCentroids = 32, nProbe = 8)
    }),
    "q27_fingerprints" -> ((s: SparkSession, d: String) => {
      // identical expression to simhashNearDupPairs' fp projection
      Tables.documents(s, d).select(col("doc_id").as("id"),
        graft.functions.VectorFunctions.simhash64(split(col("text"), " ")).as("fp"))
    }),
    "q24_token_hashes" -> ((s: SparkSession, d: String) => {
      // per-token hashes of the same tokenization fingerprint consumes;
      // the oracle refolds them with independent HUGEINT wrap arithmetic
      Tables.documents(s, d).select(col("doc_id"),
        graft.functions.VectorFunctions.token_hashes(split(col("text"), " ")).as("hashes"))
    }),
    "q46_media_vectors" -> q46MediaVectors _,
    "q166_windows" -> ((s: SparkSession, d: String) => {
      // per-window spectrum slices the batched-BPE adoption scanned —
      // the oracle replays the greedy over these (dump boundary = the
      // Spark pair counting; the adoption logic itself is re-derived
      // in SQL, so it is NOT trusted from the engine)
      import s.implicits._
      q166Train(s, d).windows.flatMap { case (w, sliceRows) =>
        sliceRows.zipWithIndex.map { case ((t1, t2, c), i) => (w, i + 1, t1, t2, c) }
      }.toDF("w", "rn", "t1", "t2", "c")
    }),
    "q188_vocab" -> ((s: SparkSession, d: String) =>
      // the corpus-derived WordPiece vocabulary q188 encodes with — the
      // dump boundary is the (deterministic, tie-broken-on-piece)
      // frequency heuristic; the greedy ENCODE is re-derived in SQL, so
      // the longest-match kernel is NOT trusted from the engine
      WordPiece.vocabFrame(Tables.documents(s, d))),
    "q181_merges" -> ((s: SparkSession, d: String) => {
      // the trained merge table q181 encodes with — the dump boundary
      // is the (q166-gated) trainer; the ENCODE itself is re-derived in
      // SQL as the sequential fold, so the indexed kernel is NOT
      // trusted from the engine
      import s.implicits._
      q166Train(s, d).merges.map(m => (m._1, m._2, m._3))
        .toDF("round", "lhs", "rhs")
    }),
    "q191_pieces" -> ((s: SparkSession, d: String) =>
      // the unigram piece inventory (piece, integer cost) q191 segments
      // with — the dump boundary is the substring-weight aggregation;
      // the Viterbi DP is re-derived in SQL, so the kernel is NOT
      // trusted from the engine
      Unigram.pieceFrame(Tables.documents(s, d))),
    "q196_seed" -> ((s: SparkSession, d: String) => {
      // the EM trainer's SEED inventory only — the dump boundary is the
      // same substring-weight aggregation as q191 (at topSeed width);
      // the EM loop itself (both iterations: DP, backtrace, usage,
      // prune) and the final segmentation are re-derived in SQL, so the
      // trainer is NOT trusted from the engine
      import s.implicits._
      q196Train(s, d).seed.toDF("piece", "cost")
    }),
    "q197_windows" -> ((s: SparkSession, d: String) => {
      // per-window weighted char-pair spectra of the ONE-SHOT
      // counts-grain BPE training (q166's discipline at the char
      // grain): the dump boundary is the Spark weighted pair counting;
      // the adoption greedy is re-derived in SQL. The q197 QUERY trains
      // from the maintained store instead — identical counts force
      // identical spectra, so a store fold bug hash-fails here.
      import s.implicits._
      q197Train(s, d).windows.flatMap { case (w, sliceRows) =>
        sliceRows.zipWithIndex.map { case ((t1, t2, c), i) => (w, i + 1, t1, t2, c) }
      }.toDF("w", "rn", "t1", "t2", "c")
    }),
    "q197_merges" -> ((s: SparkSession, d: String) => {
      // the ONE-SHOT counts-grain merge table q198's oracle replays the
      // char-grain encode from — the dump boundary is the (q197-gated)
      // trainer; the ENCODE is re-derived in SQL as the sequential
      // fold, so the indexed kernel is NOT trusted from the engine, and
      // the store-derived table the query actually encodes with must
      // match this one-shot table for the hash to agree.
      import s.implicits._
      q197Train(s, d).merges.map(m => (m._1, m._2, m._3))
        .toDF("round", "lhs", "rhs")
    }),
    "q190_dhashes" -> ((s: SparkSession, d: String) =>
      // the per-image dHash fingerprints q190's pairs derive from — the
      // dump boundary is the REAL BMP encode→decode→gradient-hash
      // kernel; the oracle recomputes ALL-PAIRS Hamming truth from them
      Multimodal.imageDHash(
        Multimodal.synthesizeBmpCorpus(Tables.documents(s, d)))),
    "q161_ahashes" -> ((s: SparkSession, d: String) =>
      // the per-image aHash fingerprints q161's pairs derive from —
      // the dump boundary is the REAL BMP encode→decode→hash kernel;
      // the oracle recomputes ALL-PAIRS Hamming truth from them (the
      // q27 discipline: a pair the pigeonhole join missed hash-fails)
      Multimodal.imageAHash(
        Multimodal.synthesizeBmpCorpus(Tables.documents(s, d)))),
    "q38_kmv" -> ((s: SparkSession, d: String) =>
      // the exact register table q38's estimate reads — the dump boundary
      // is the xxhash64 kernel; the oracle recomputes the estimate from
      // these registers in HUGEINT arithmetic (and ExtendedQuerySpec
      // SHA-pins the artifact itself for hash-kernel drift)
      graft.ext.Sketches.kmvRegisters(Tables.events(s, d), "event_type",
        col("user_id"), k = 128)),
    "q91_candidates" -> ((s: SparkSession, d: String) => {
      val emb = Tables.embeddings(s, d)
      graft.ext.PQ.pqCandidates(emb, emb.filter(col("vec_id") % 50 === 0),
        q91Fit(s, d), nCandidates = 40)
    }),
    "q179_candidates" -> ((s: SparkSession, d: String) => {
      // the MAINTAINED store's ADC candidate set (k·refine = 40) — the
      // dump boundary is the codes store q179 ranks over; the oracle
      // re-ranks these exactly
      val emb = Tables.embeddings(s, d)
      graft.streaming.AnnStream.candidates(s, q179Store(s, d),
        emb.filter(col("vec_id") % 50 === 0), nCandidates = 40)
    }),
    "q119_components" -> ((s: SparkSession, d: String) =>
      // the exact (comp, j, w, bias) model q119 projects with — the dump
      // boundary is the eigensolve; the oracle recomputes every
      // projection from raw vectors via the same sequential double dot
      graft.ext.PCA.modelFrame(q119Fit(s, d), Tables.embeddings(s, d))),
    "q102_candidates" -> ((s: SparkSession, d: String) => {
      val emb = Tables.embeddings(s, d)
      graft.ext.IvfPq.ivfPqCandidates(emb, emb.filter(col("vec_id") % 50 === 0),
        q102Fit(s, d), nProbe = 8, nCandidates = 40)
    }),
    "q104_cells" -> ((s: SparkSession, d: String) =>
      // the exact semantic-cell assignment q104 dedups within — the
      // oracle recomputes the whole downstream (within-cell cosine
      // pairs, connected components, min-id representative) from it
      q104Cells(s, d)),
    "q108_cells" -> ((s: SparkSession, d: String) =>
      // q108's forced-hierarchical assignment (same oracle contract)
      q108Cells(s, d)),
    "q32_features" -> ((s: SparkSession, d: String) => {
      // the exact per-media vectors q32's pipeline aggregates, via the
      // same mapPartitions kernel (extractFeatures), media_id + feature
      // only — kind/bytes are recomputed from `documents` by the oracle
      Multimodal.extractFeatures(
          Multimodal.synthesizeFromDocuments(Tables.documents(s, d)))
        .toDF().select(col("media_id"), col("feature"))
    }),
    "q132_candidates" -> ((s: SparkSession, d: String) =>
      // q132's knn-join candidate set re-run verbatim (KMeans.fit's
      // exact-arithmetic determinism — the q33 contract)
      Similarity.knnJoinCandidates(Tables.embeddings(s, d),
        targetCellSize = 128, nProbe = 4)),
    "q128_candidates" -> ((s: SparkSession, d: String) => {
      val emb = Tables.embeddings(s, d)
      graft.ext.SQ.sqCandidates(emb, emb.filter(col("vec_id") % 50 === 0),
        q128Fit(s, d), nCandidates = 40)
    }),
    "q140_candidates" -> ((s: SparkSession, d: String) => {
      val emb = Tables.embeddings(s, d)
      Similarity.lshMultiProbeCandidates(emb,
        emb.filter(col("vec_id") % 50 === 0),
        numTables = 4, bitsPerTable = 8)
    }),
    "q137_lsh_pairs" -> ((s: SparkSession, d: String) => {
      // the production pair generator re-run verbatim on q137's id-block
      // sample (deterministic for the fixed seed): the dump IS the found
      // set whose per-decile recall the oracle recomputes
      Dedup.minhashNearDupPairs(
        Tables.documents(s, d)
          .filter(expr("(doc_id div 50) % 4") === 0),
        "doc_id", "text", shingleSize = 3, bands = 16, rowsPerBand = 4,
        threshold = 0.5)
        .select(col("id1"), col("id2"))
    }),
    "q74_centroids" -> ((s: SparkSession, d: String) => {
      // the q74 fit re-run verbatim: deterministic for (corpus, params),
      // so this dump IS the centroid set the query assigned against
      val cents = q74Fit(s, d)
      val rows = cents.grouped(64).zipWithIndex
        .map { case (v, i) => (i, v.toSeq) }.toSeq
      s.createDataFrame(rows).toDF("cell", "centroid")
    }))

  /** q74's shared k-means fit (seed-deterministic; SURVEY.md §2.7). */
  private def q74Fit(s: SparkSession, d: String): Array[Float] =
    graft.ext.KMeans.fit(Tables.embeddings(s, d), "vec_id", "embedding",
      k = 8, dim = 64, iterations = 5, seed = 42L)

  /** q91's shared PQ codebook fit (8 subspaces × 16 centroids;
    * deterministic per KMeans.fit's exact-arithmetic contract, so the
    * candidate dump reproduces the in-query candidate set).
    *
    * Memoized per sf dir (as is [[q102Fit]]): the fit is a pure function
    * of (corpus, params, seed) — q91, q92, and the dump would otherwise
    * each refit identical codebooks, which models neither deployment
    * (indexes are fit once, queried/monitored repeatedly) nor the
    * oracle contract (which only needs determinism, not recomputation). */
  private val q91FitCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.ext.PQ.Codebooks]()
  private def q91Fit(s: SparkSession, d: String): graft.ext.PQ.Codebooks =
    q91FitCache.computeIfAbsent(d, dir =>
      graft.ext.PQ.fit(Tables.embeddings(s, dir), "vec_id", "embedding",
        dim = 64, m = 8, k = 16, iterations = 3, seed = 42L))

  /** q128's shared SQ8 grid fit (memoized like [[q91Fit]]; per-dim
    * min/max is exact and order-independent, so the dumped candidate
    * set reproduces the in-query candidate set). */
  private val q128FitCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.ext.SQ.Model]()
  private def q128Fit(s: SparkSession, d: String): graft.ext.SQ.Model =
    q128FitCache.computeIfAbsent(d, dir =>
      graft.ext.SQ.fit(Tables.embeddings(s, dir), "embedding", dim = 64))

  /** q102's shared IVF-PQ index fit (32 coarse cells, 8 subspaces × 16
    * residual centroids; deterministic per KMeans.fit's exact-arithmetic
    * contract — both the coarse and residual fits — so the candidate dump
    * reproduces the in-query candidate set). */
  /** q104's shared semantic-cell assignment (memoized like [[q102Fit]];
    * deterministic per KMeans.fit — the dump IS the query's cells). */
  private val q104CellsCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.DataFrame]()
  private def q104Cells(s: SparkSession, d: String): org.apache.spark.sql.DataFrame =
    q104CellsCache.computeIfAbsent(d, dir =>
      Similarity.semanticCells(Tables.embeddings(s, dir),
        targetCellSize = 256, iterations = 5, seed = 42L).localCheckpoint(true))

  /** q108's forced-hierarchical assignment (hierThreshold=2 → the
    * two-level kernel even at gate SF, where k = n/16 stays small). */
  private val q108CellsCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.DataFrame]()
  private def q108Cells(s: SparkSession, d: String): org.apache.spark.sql.DataFrame =
    q108CellsCache.computeIfAbsent(d, dir =>
      Similarity.semanticCells(Tables.embeddings(s, dir),
        targetCellSize = 16, iterations = 5, seed = 42L,
        hierThreshold = 2, nProbeSuper = 4).localCheckpoint(true))

  private val q102FitCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.ext.IvfPq.Index]()
  private def q102Fit(s: SparkSession, d: String): graft.ext.IvfPq.Index =
    q102FitCache.computeIfAbsent(d, dir =>
      graft.ext.IvfPq.fit(Tables.embeddings(s, dir), "vec_id", "embedding",
        dim = 64, numCells = 32, m = 8, k = 16, iterations = 3, seed = 42L))

  /** q119's PCA model (memoized like [[q102Fit]]; deterministic per
    * PCA.fit's decimal-sum + fixed-sweep-Jacobi contract, so the dumped
    * component frame IS the model the query projected with). */
  private val q119FitCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.ext.PCA.Model]()
  private def q119Fit(s: SparkSession, d: String): graft.ext.PCA.Model =
    q119FitCache.computeIfAbsent(d, dir =>
      graft.ext.PCA.fit(Tables.embeddings(s, dir), "embedding",
        dim = 64, nComponents = 8))

  /** Exact-cosine re-rank oracle over a materialized candidate dump:
    * identical scoring (DuckDB's list_cosine_similarity over DOUBLE[] is
    * bit-identical to the engine's kernel), identical (sim DESC,
    * neighbor_id) tie-break, identical top-k cut. */
  private def rerankOracle(candDump: String, k: Int): String =
    s"""WITH cand AS (SELECT DISTINCT query_id, neighbor_id
       |              FROM read_parquet('$OracleAuxDir/$candDump/*.parquet')),
       |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
       |scored AS (
       |  SELECT c.query_id, c.neighbor_id, list_cosine_similarity(cn.dv, cq.dv) AS sim
       |  FROM cand c JOIN v cq ON cq.vec_id = c.query_id
       |              JOIN v cn ON cn.vec_id = c.neighbor_id),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |             ORDER BY sim DESC, neighbor_id) AS rank FROM scored)
       |SELECT query_id, neighbor_id, sim, CAST(rank AS BIGINT) AS rank
       |FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  /** q114's oracle: integer PageRank unrolled — 5 iteration CTEs, each
    * mirroring PageRank.ranks' update exactly (same div placement). */
  private val q114Sql: String = {
    val scale = "1000000000000"
    val iters = (1 to 5).map { k =>
      s"""r$k AS (SELECT nd.node,
         |  COALESCE((3 * $scale) // (20 * n.n) + (17 * s.s) // 20,
         |           (3 * $scale) // (20 * n.n)) AS pr
         |FROM nd CROSS JOIN n
         |LEFT JOIN (SELECT e.dst AS node, SUM(r${k - 1}.pr // deg.deg) AS s
         |           FROM e JOIN r${k - 1} ON r${k - 1}.node = e.src
         |           JOIN deg ON deg.src = e.src
         |           GROUP BY e.dst) s USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |tile AS (SELECT doc_id,
       |           array_to_string(list_slice(toks, i * 8 + 1, i * 8 + 8), ' ') AS tile
       |         FROM (SELECT doc_id, toks,
       |                 unnest(range(0, CAST(ceil(len(toks) / 8.0) AS BIGINT))) AS i
       |               FROM t)),
       |grp AS (SELECT tile, COUNT(DISTINCT doc_id) AS ndocs FROM tile GROUP BY 1),
       |e AS (SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
       |      FROM tile a JOIN tile b USING (tile) JOIN grp USING (tile)
       |      WHERE a.doc_id <> b.doc_id AND grp.ndocs BETWEEN 2 AND 1000),
       |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1),
       |nd AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e
       |                                  UNION ALL SELECT dst FROM e)),
       |n AS (SELECT COUNT(*) AS n FROM nd),
       |r0 AS (SELECT node, $scale // n.n AS pr FROM nd CROSS JOIN n),
       |$iters
       |SELECT node AS doc_id, CAST(pr AS BIGINT) AS pr FROM r5
       |ORDER BY doc_id""".stripMargin
  }

  /** Shared by q110 (one-shot tile dedup) and q178 (maintained
    * streaming store fed in ascending id-range order, which makes
    * first-arrival-wins coincide with the global min-(doc, idx) rule —
    * the equivalence SpanStreamSpec pins). */
  private val spanDedupOracle: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |tile AS (SELECT doc_id, i AS idx,
      |           array_to_string(list_slice(toks, i * 8 + 1, i * 8 + 8), ' ') AS tile
      |         FROM (SELECT doc_id, toks,
      |                 unnest(range(0, CAST(ceil(len(toks) / 8.0) AS BIGINT))) AS i
      |               FROM t)),
      |k AS (SELECT doc_id, idx, tile,
      |        row_number() OVER (PARTITION BY tile ORDER BY doc_id, idx) AS rk
      |      FROM tile)
      |SELECT doc_id, COUNT(*) AS n_tiles,
      |  CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  COALESCE(string_agg(CASE WHEN rk = 1 THEN tile END, ' ' ORDER BY idx), '') AS text_clean
      |FROM k GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Shared by q149 (one-shot weighted reservoir) and q176 (maintained
    * streaming reservoir — A-ES keys are pure per-row functions, so
    * min-k folds associatively and the store answers identically). */
  private val weightedSampleOracle: String =
    """WITH h AS (SELECT lang AS stratum, doc_id,
      |    ((doc_id % 1000003) + 42) * 2654435761 % 1000000007 AS hv
      |  FROM documents WHERE n_chars > 0),
      |k AS (SELECT h.stratum, h.doc_id,
      |    CAST(round(-ln((hv + 1) / 1000000008.0) /
      |         CAST(d.n_chars AS DOUBLE) * 1e12) AS BIGINT) AS e_units
      |  FROM h JOIN documents d USING (doc_id)),
      |r AS (SELECT *, row_number() OVER (PARTITION BY stratum
      |        ORDER BY e_units, doc_id) AS rank FROM k)
      |SELECT stratum, doc_id, e_units, CAST(rank AS BIGINT) AS rank
      |FROM r WHERE rank <= 25
      |ORDER BY stratum, rank""".stripMargin

  val defs: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

    ("q94_bpe_pairs",
      (s: SparkSession, d: String) => {
        // one BPE-trainer counting iteration: top adjacent token pairs
        // (shift-zip projection, one count aggregate, TakeOrdered cut)
        TextAnalysis.adjacentPairCounts(Tables.documents(s, d), topK = 200)
      },
      Some("""WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents
             |           WHERE len(string_split(text, ' ')) >= 2),
             |p AS (SELECT unnest(range(1, len(toks))) AS i, toks FROM t),
             |pr AS (SELECT toks[i] AS t1, toks[i + 1] AS t2 FROM p)
             |SELECT t1, t2, CAST(COUNT(*) AS BIGINT) AS pair_count
             |FROM pr GROUP BY t1, t2
             |ORDER BY pair_count DESC, t1, t2 LIMIT 200""".stripMargin)),

    ("q95_mad_outliers",
      (s: SparkSession, d: String) => {
        // robust per-flag price outliers: exact doubled-integer median /
        // MAD arithmetic (RobustStats scaladoc) — no float compare
        RobustStats.madOutlierStats(Tables.lineitem(s, d), "l_returnflag",
            floor(col("l_extendedprice") * 100 + 0.5), k = 3)
          .orderBy("l_returnflag")
      },
      Some("""WITH b AS (SELECT l_returnflag AS g,
             |             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
             |           FROM lineitem),
             |med AS (SELECT g, CAST(2 * quantile_cont(v, 0.5) AS BIGINT) AS med2
             |        FROM b GROUP BY g),
             |dev AS (SELECT b.g, v, med2, abs(2 * v - med2) AS dev2
             |        FROM b JOIN med USING (g)),
             |mad AS (SELECT g, CAST(2 * quantile_cont(dev2, 0.5) AS BIGINT) AS mad4
             |        FROM dev GROUP BY g)
             |SELECT d.g AS l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
             |       CAST(SUM(CASE WHEN 2 * dev2 > 3 * mad4 THEN 1 ELSE 0 END) AS BIGINT)
             |         AS n_outliers,
             |       d.med2, m.mad4
             |FROM dev d JOIN mad m USING (g)
             |GROUP BY d.g, d.med2, m.mad4
             |ORDER BY l_returnflag""".stripMargin)),

    ("q96_token_budget",
      (s: SparkSession, d: String) => {
        // per-source TOKEN budget (mixture specs are token counts, not
        // row counts): deterministic hash-order walk, keep while tokens
        // before the doc are under budget (≤1-doc overflow, greedy
        // no-split — Sharding.capTokensPerGroup scaladoc)
        val docs = Tables.documents(s, d)
        Sharding.capTokensPerGroup(docs, "source", "doc_id",
            TextAnalysis.tokenCount(col("text")), budget = 800L)
          .select(col("doc_id"), col("source"),
            TextAnalysis.tokenCount(col("text")).as("n_tokens"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, source,
             |            CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens,
             |            ((doc_id % 1000003) * 2654435761) % 100 AS sb
             |          FROM documents),
             |c AS (SELECT *, COALESCE(SUM(n_tokens) OVER (
             |        PARTITION BY source ORDER BY sb, doc_id
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
             |      FROM t)
             |SELECT doc_id, source, n_tokens
             |FROM c WHERE before < 800
             |ORDER BY doc_id""".stripMargin)),

    ("q98_stratified_sample",
      (s: SparkSession, d: String) => {
        // exact per-stratum allocation (precisely n_g docs per source,
        // deterministic hash-order pick): the bounded-heap selection of
        // Sharding.sampleStratified — shuffle O(strata × max target),
        // never a per-stratum window sort
        val spec = Seq.tabulate(20) { i => (s"src$i", 5L + 3L * (i % 5)) }
        val targets = s.createDataFrame(spec).toDF("source", "n")
        Sharding.sampleStratified(Tables.documents(s, d), "source", "doc_id", targets)
          .select("doc_id", "source")
          .orderBy("doc_id")
      },
      Some(("""WITH tgt(source, n) AS (VALUES """ +
        Seq.tabulate(20) { i => s"('src$i', ${5 + 3 * (i % 5)})" }.mkString(", ") + """),
             |r AS (SELECT d.doc_id, d.source, n,
             |        row_number() OVER (PARTITION BY d.source
             |          ORDER BY ((d.doc_id % 1000003) * 2654435761) % 100, d.doc_id) AS rn
             |      FROM documents d JOIN tgt USING (source))
             |SELECT doc_id, source FROM r WHERE rn <= n
             |ORDER BY doc_id""").stripMargin)),

    ("q99_length_buckets",
      (s: SparkSession, d: String) => {
        // exact global NTILE(16) by token count — length-bucketed
        // batching via a distributed global rank (range buckets + driver
        // prefix scan of per-bucket counts), never a partitionless window
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        Sharding.ntileExact(docs, col("n_tokens"), col("doc_id"), k = 16)
          .select("doc_id", "n_tokens", "bucket")
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id,
             |            CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens
             |          FROM documents)
             |SELECT doc_id, n_tokens,
             |  CAST(ntile(16) OVER (ORDER BY n_tokens, doc_id) AS BIGINT) AS bucket
             |FROM t ORDER BY doc_id""".stripMargin)),

    ("q100_group_centroid",
      (s: SparkSession, d: String) => {
        // per-label centroid representative (prototype selection):
        // exact microunit arithmetic, distances scaled by n² in
        // DECIMAL(38,0) so no division and no float compare ever happens
        // (Similarity.groupRepresentatives scaladoc)
        Similarity.groupRepresentatives(Tables.embeddings(s, d),
            "label", "vec_id", "embedding")
          .orderBy("label")
      },
      Some("""WITH m AS (SELECT label, vec_id,
             |            generate_subscripts(embedding, 1) - 1 AS pos,
             |            CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS xm
             |          FROM embeddings),
             |c AS (SELECT label, pos, SUM(xm) AS s, COUNT(*) AS n FROM m GROUP BY 1, 2),
             |d AS (SELECT m.label, m.vec_id,
             |        SUM(CAST(m.xm * c.n - c.s AS HUGEINT)
             |            * CAST(m.xm * c.n - c.s AS HUGEINT)) AS d2,
             |        MAX(c.n) AS n
             |      FROM m JOIN c USING (label, pos) GROUP BY 1, 2),
             |r AS (SELECT *, row_number() OVER (PARTITION BY label
             |        ORDER BY d2, vec_id) AS rn FROM d)
             |SELECT label, vec_id AS rep_id, CAST(n AS BIGINT) AS n_members,
             |  CAST(d2 AS VARCHAR) AS dist2n2
             |FROM r WHERE rn = 1 ORDER BY label""".stripMargin)),

    ("q101_corpus_diff",
      (s: SparkSession, d: String) => {
        // dataset-versioning audit between two snapshot states (both
        // derived deterministically from the corpus): the full-outer
        // join shuffles 16-byte md5 digests, never document bodies
        // (CorpusDiff scaladoc)
        val base = Tables.documents(s, d)
        val oldSnap = base.filter(col("doc_id") % 31 =!= 0)
        val newSnap = base.filter(col("doc_id") % 29 =!= 0)
          .withColumn("text", when(col("doc_id") % 17 === 0,
            concat(col("text"), lit(" v2"))).otherwise(col("text")))
        CorpusDiff.diff(oldSnap, newSnap)
          .orderBy("doc_id")
      },
      Some("""WITH oldc AS (SELECT doc_id, md5(text) AS h FROM documents
             |              WHERE doc_id % 31 <> 0),
             |newc AS (SELECT doc_id,
             |           md5(CASE WHEN doc_id % 17 = 0 THEN text || ' v2'
             |               ELSE text END) AS h
             |         FROM documents WHERE doc_id % 29 <> 0)
             |SELECT doc_id,
             |  CASE WHEN o.h IS NULL THEN 'added'
             |       WHEN n.h IS NULL THEN 'removed'
             |       WHEN o.h = n.h THEN 'unchanged'
             |       ELSE 'changed' END AS status
             |FROM oldc o FULL OUTER JOIN newc n USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // ---------------------------------------------------------- text stats
    ("q21_token_stats",
      (s: SparkSession, d: String) => {
        Tables.documents(s, d)
          .select(col("doc_id"),
            TextAnalysis.tokenCount(col("text")).as("n_tokens"),
            size(array_distinct(split(col("text"), " "))).cast("long").as("n_distinct_tokens"),
            length(col("text")).cast("long").as("n_chars2"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens,
             |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens,
             |  CAST(length(text) AS BIGINT) AS n_chars2
             |FROM documents ORDER BY doc_id""".stripMargin)),

    ("q22_text_quality",
      (s: SparkSession, d: String) => {
        TextAnalysis.withQuality(Tables.documents(s, d))
          .select("doc_id", "n_tokens", "avg_token_len", "distinct_ratio",
            "punct_ratio", "stopword_ratio", "quality_score")
          .orderBy("doc_id")
      },
      Some("""WITH q AS (
             |  SELECT doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
             |    CAST(length(text) AS BIGINT) AS n_chars,
             |    CAST(len(list_filter(string_split(lower(text), ' '),
             |         t -> list_contains(['the','and','of','to','is','in','that','with'], t)))
             |         AS BIGINT) AS n_stop,
             |    CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS BIGINT) AS n_punct
             |  FROM documents)
             |SELECT doc_id, n_tokens,
             |  CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens AS avg_token_len,
             |  CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_ratio,
             |  CAST(n_punct AS DOUBLE) / n_chars AS punct_ratio,
             |  CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
             |  0.5 * least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0)
             |    + 0.4 * (CAST(n_distinct AS DOUBLE) / n_tokens)
             |    + 0.1 * (1.0 - least((CAST(n_punct AS DOUBLE) / n_chars) * 4.0, 1.0)) AS quality_score
             |FROM q ORDER BY doc_id""".stripMargin)),

    ("q23_lang_id",
      (s: SparkSession, d: String) => {
        TextAnalysis.withLangId(Tables.documents(s, d))
          .select(col("doc_id"), col("lang"), col("lang_pred"), col("hits_en"))
          .orderBy("doc_id")
      },
      // replicates the stopword-profile argmax: distinct-hit counts per
      // language, first-in-sorted-order wins ties, 'und' when no hits
      // (hand-labeled snippets additionally covered in TextAnalysisSpec)
      Some("""WITH t AS (SELECT doc_id, lang, string_split_regex(lower(text), '\s+') AS toks FROM documents),
             |h AS (SELECT doc_id, lang,
             |  CAST(len(list_intersect(toks, ['der','die','das','und','ist','nicht','ein','mit'])) AS BIGINT) AS h_de,
             |  CAST(len(list_intersect(toks, ['the','and','of','to','is','in','that','with'])) AS BIGINT) AS h_en,
             |  CAST(len(list_intersect(toks, ['el','los','las','es','una','para','como','pero'])) AS BIGINT) AS h_es,
             |  CAST(len(list_intersect(toks, ['le','la','les','et','est','une','dans','pour'])) AS BIGINT) AS h_fr,
             |  CAST(len(list_intersect(toks, ['的','是','了','在','我','有','他','这'])) AS BIGINT) AS h_zh
             | FROM t)
             |SELECT doc_id, lang,
             |  CASE WHEN greatest(h_de,h_en,h_es,h_fr,h_zh) = 0 THEN 'und'
             |       WHEN h_de = greatest(h_de,h_en,h_es,h_fr,h_zh) THEN 'de'
             |       WHEN h_en = greatest(h_de,h_en,h_es,h_fr,h_zh) THEN 'en'
             |       WHEN h_es = greatest(h_de,h_en,h_es,h_fr,h_zh) THEN 'es'
             |       WHEN h_fr = greatest(h_de,h_en,h_es,h_fr,h_zh) THEN 'fr'
             |       ELSE 'zh' END AS lang_pred,
             |  h_en AS hits_en
             |FROM h ORDER BY doc_id""".stripMargin)),

    ("q24_fingerprint",
      (s: SparkSession, d: String) => {
        TextAnalysis.withFingerprint(Tables.documents(s, d))
          .select("doc_id", "fingerprint")
          .orderBy("doc_id")
      },
      // DuckDB refolds the dumped per-token hashes with its own HUGEINT
      // wrap-around arithmetic (xor, *FNV prime mod 2^64, sign fixup) —
      // an independent implementation of the rolling fold; only the
      // token hashing itself is trusted from the dump
      Some(s"""SELECT doc_id, list_reduce(
              |  list_prepend(CAST(-3750763034362895579 AS BIGINT), hashes),
              |  (a, h) -> CAST(
              |    CASE WHEN ((CAST(xor(a, h) AS HUGEINT) +
              |           CASE WHEN xor(a, h) < 0 THEN CAST(18446744073709551616 AS HUGEINT) ELSE 0 END)
              |         * 1099511628211) % CAST(18446744073709551616 AS HUGEINT)
              |         >= CAST(9223372036854775808 AS HUGEINT)
              |    THEN ((CAST(xor(a, h) AS HUGEINT) +
              |           CASE WHEN xor(a, h) < 0 THEN CAST(18446744073709551616 AS HUGEINT) ELSE 0 END)
              |         * 1099511628211) % CAST(18446744073709551616 AS HUGEINT)
              |         - CAST(18446744073709551616 AS HUGEINT)
              |    ELSE ((CAST(xor(a, h) AS HUGEINT) +
              |           CASE WHEN xor(a, h) < 0 THEN CAST(18446744073709551616 AS HUGEINT) ELSE 0 END)
              |         * 1099511628211) % CAST(18446744073709551616 AS HUGEINT)
              |    END AS BIGINT)) AS fingerprint
              |FROM read_parquet('$OracleAuxDir/q24_token_hashes/*.parquet')
              |ORDER BY doc_id""".stripMargin)),

    ("q25_count_distinct",
      (s: SparkSession, d: String) => {
        Tables.events(s, d)
          .groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("n_users"),
               count(lit(1)).as("n_events"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ---------------------------------------------------------- dedup family
    ("q26_dedup_minhash",
      (s: SparkSession, d: String) => {
        Dedup.minhashNearDupPairs(Tables.documents(s, d), "doc_id", "text",
            shingleSize = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
          .orderBy("id1", "id2")
      },
      // GROUND-TRUTH oracle: all-pairs exact 3-shingle Jaccard ≥ threshold.
      // Matching it asserts both the exact-verify arithmetic AND full LSH
      // candidate recall on this corpus (recall is additionally pinned on
      // planted clusters in DedupSpec). Shingle semantics mirror
      // Dedup.shingles: space-split tokens, word 3-grams, short docs
      // collapse to one whole-text shingle.
      Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |sh AS (SELECT doc_id,
             |  list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
             |  ELSE list_transform(range(1, len(toks) - 1),
             |         i -> array_to_string(list_slice(toks, i, i + 2), ' '))
             |  END) AS sh FROM tok),
             |shx AS (SELECT doc_id, unnest(sh) AS g FROM sh),
             |shn AS (SELECT doc_id, len(sh) AS n FROM sh),
             |inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS i
             |  FROM shx a JOIN shx b ON a.g = b.g AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT id1, id2,
             |  CAST(i AS DOUBLE) / (c1.n + c2.n - i) AS jaccard
             |FROM inter
             |JOIN shn c1 ON c1.doc_id = id1
             |JOIN shn c2 ON c2.doc_id = id2
             |WHERE CAST(i AS DOUBLE) / (c1.n + c2.n - i) >= 0.5
             |ORDER BY id1, id2""".stripMargin)),

    ("q27_dedup_simhash",
      (s: SparkSession, d: String) => {
        Dedup.simhashNearDupPairs(Tables.documents(s, d), "doc_id", "text", maxHamming = 3)
          .withColumn("hamming", col("hamming").cast("long"))
          .orderBy("id1", "id2")
      },
      // all-pairs Hamming ground truth over the dumped fingerprints:
      // any pair the 4-chunk pigeonhole join missed (or extra pair the
      // exact filter let through) hash-fails here
      Some(s"""WITH fp AS (SELECT id, fp
              |           FROM read_parquet('$OracleAuxDir/q27_fingerprints/*.parquet'))
              |SELECT a.id AS id1, b.id AS id2,
              |       CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
              |FROM fp a JOIN fp b ON a.id < b.id
              |WHERE bit_count(xor(a.fp, b.fp)) <= 3
              |ORDER BY id1, id2""".stripMargin)),

    ("q28_unigram_jaccard",
      (s: SparkSession, d: String) => {
        val docs = Tables.documents(s, d)
        val pairs = docs.select(col("doc_id").as("id1"), (col("doc_id") + 1).as("id2"))
        Dedup.ngramJaccard(docs, "doc_id", "text", n = 1, pairs = pairs)
          .orderBy("id1", "id2")
      },
      Some("""WITH t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents),
             |p AS (SELECT a.doc_id AS id1, b.doc_id AS id2, a.toks AS t1, b.toks AS t2
             |      FROM t a JOIN t b ON b.doc_id = a.doc_id + 1)
             |SELECT id1, id2,
             |  CAST(len(list_filter(t1, x -> list_contains(t2, x))) AS DOUBLE) /
             |  len(list_distinct(list_concat(t1, t2))) AS jaccard,
             |  CAST(len(list_filter(t1, x -> list_contains(t2, x))) AS DOUBLE) / len(t1) AS containment1,
             |  CAST(len(list_filter(t1, x -> list_contains(t2, x))) AS DOUBLE) / len(t2) AS containment2
             |FROM p ORDER BY id1, id2""".stripMargin)),

    // ---------------------------------------------------------- similarity
    ("q29_cosine_topk",
      (s: SparkSession, d: String) => {
        val emb = Tables.embeddings(s, d)
        val queries = emb.filter(col("vec_id") % 50 === 0)
        Similarity.topKBruteForce(emb, queries, k = 10)
          .orderBy("query_id", "rank")
      },
      // exact oracle: the double-product cosine kernel is bit-identical to
      // DuckDB's list_cosine_similarity over DOUBLE[] (sequential double
      // accumulation, sqrt(na)*sqrt(nb) denominator) — raw doubles compare
      // without rounding; ties break on neighbor_id in both engines
      Some("""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
             |          FROM embeddings WHERE vec_id % 50 = 0),
             |scored AS (
             |  SELECT q.query_id, e.vec_id AS neighbor_id,
             |         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS sim
             |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
             |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
             |             ORDER BY sim DESC, neighbor_id) AS rank FROM scored)
             |SELECT query_id, neighbor_id, sim, CAST(rank AS BIGINT) AS rank
             |FROM ranked WHERE rank <= 10
             |ORDER BY query_id, rank""".stripMargin)),

    ("q30_cosine_topk_lsh",
      (s: SparkSession, d: String) => {
        val emb = Tables.embeddings(s, d)
        val queries = emb.filter(col("vec_id") % 50 === 0)
        Similarity.topKLsh(emb, queries, k = 10, numTables = 16, bitsPerTable = 8)
          .orderBy("query_id", "rank")
      },
      // recall vs brute force stays pinned in SimilaritySpec; the driver
      // oracle re-ranks the materialized candidate set exactly
      Some(rerankOracle("q30_candidates", k = 10))),

    ("q91_cosine_topk_pq",
      (s: SparkSession, d: String) => {
        val emb = Tables.embeddings(s, d)
        val queries = emb.filter(col("vec_id") % 50 === 0)
        // product quantization: the corpus-side ANN scan reads 8 codes
        // per vector instead of 64 floats (memory-bounded index); ADC
        // candidates exact-re-ranked. Same oracle contract as q30/q33:
        // the deterministic candidate dump is re-ranked exactly.
        graft.ext.PQ.topKPq(emb, queries, k = 10, q91Fit(s, d), refine = 4)
          .orderBy("query_id", "rank")
      },
      Some(rerankOracle("q91_candidates", k = 10))),

    ("q33_cosine_topk_ivf",
      (s: SparkSession, d: String) => {
        val emb = Tables.embeddings(s, d)
        val queries = emb.filter(col("vec_id") % 50 === 0)
        Similarity.topKIvf(emb, queries, k = 10, numCentroids = 32, nProbe = 8)
          .orderBy("query_id", "rank")
      },
      Some(rerankOracle("q33_candidates", k = 10))),

    ("q102_cosine_topk_ivfpq",
      (s: SparkSession, d: String) => {
        val emb = Tables.embeddings(s, d)
        val queries = emb.filter(col("vec_id") % 50 === 0)
        // the composed 10⁹-vector architecture: IVF coarse cells prune
        // the scan to nProbe/numCells, PQ residual codes shrink what's
        // scanned ~32×; ADC candidates exact-re-ranked. Same oracle
        // contract as q30/q33/q91: deterministic candidate dump,
        // re-ranked exactly.
        graft.ext.IvfPq.topKIvfPq(emb, queries, k = 10, q102Fit(s, d),
            nProbe = 8, refine = 4)
          .orderBy("query_id", "rank")
      },
      Some(rerankOracle("q102_candidates", k = 10))),

    ("q31_embed_neardup",
      (s: SparkSession, d: String) => {
        // corpus is near-random (max pairwise cosine ≈ 0.51), so the
        // "near-dup" threshold is data-appropriate 0.4; low-similarity
        // targets need shallow buckets + many tables for recall
        // (p_collision/bit ≈ 0.63 at cos 0.4 ⇒ 4 bits × 24 tables ≈ 98%)
        Similarity.nearDupPairs(Tables.embeddings(s, d), threshold = 0.4,
            numTables = 24, bitsPerTable = 4)
          .orderBy("id1", "id2")
      },
      // GROUND-TRUTH oracle: all-pairs double-precision cosine ≥ threshold.
      // Matching asserts full LSH recall at these (tables, bits) on this
      // corpus plus bit-exact cosine (double products, see q29).
      Some("""SELECT a.vec_id AS id1, b.vec_id AS id2,
             |  list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             |                         CAST(b.embedding AS DOUBLE[])) AS sim
             |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
             |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             |                             CAST(b.embedding AS DOUBLE[])) >= 0.4
             |ORDER BY id1, id2""".stripMargin)),

    ("q90_embed_neardup_auto",
      (s: SparkSession, d: String) => {
        // the SCALE path for q31's operator: bits sized from the corpus
        // (constant expected bucket occupancy — candidate volume linear
        // in n) and tables solved for the recall target; q31's fixed
        // 4-bit tables grow bucket depth linearly with n and measured
        // 2.1x per-row at the x10 scale bench. Same ground-truth oracle:
        // hash-matching asserts the auto-sizer still reaches full recall
        // on this corpus.
        Similarity.nearDupPairsAuto(Tables.embeddings(s, d), threshold = 0.4,
            targetRecall = 0.999)
          .orderBy("id1", "id2")
      },
      Some("""SELECT a.vec_id AS id1, b.vec_id AS id2,
             |  list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             |                         CAST(b.embedding AS DOUBLE[])) AS sim
             |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
             |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             |                             CAST(b.embedding AS DOUBLE[])) >= 0.4
             |ORDER BY id1, id2""".stripMargin)),

    // ---------------------------------------------------------- multimodal
    ("q32_media_features",
      (s: SparkSession, d: String) => {
        Multimodal.featurePipeline(s, Tables.documents(s, d))
      },
      // The stub features are deterministic, so the dump of per-media
      // vectors (q32_features) lets DuckDB recompute EVERYTHING else
      // independently: kind routing + byte accounting from the source
      // `documents` table (not the dump), the sequential double fold of
      // each vector's squared norm, the 1e-12 quantization, and the
      // grouped exact-integer aggregation. Only the splitmix64 stub
      // itself is trusted from the dump (same split as q24/q27/q46).
      Some(s"""SELECT
              |  CASE WHEN d.doc_id % 3 = 0 THEN 'image'
              |       WHEN d.doc_id % 3 = 1 THEN 'audio'
              |       ELSE 'video' END AS kind,
              |  COUNT(*) AS n_media,
              |  CAST(SUM(octet_length(encode(d.text))) AS BIGINT) AS total_bytes,
              |  CAST(SUM(f.sq_e12) // COUNT(*) AS BIGINT) AS mean_sq_norm_e12
              |FROM (SELECT media_id,
              |        CAST(floor(list_reduce(
              |          list_prepend(CAST(0.0 AS DOUBLE),
              |            list_transform(feature,
              |              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
              |          (a, b) -> a + b) * 1e12) AS BIGINT) AS sq_e12
              |      FROM read_parquet('$OracleAuxDir/q32_features/*.parquet')) f
              |JOIN documents d ON d.doc_id = f.media_id
              |GROUP BY 1
              |ORDER BY kind""".stripMargin)),

    ("q37_frame_sample",
      (s: SparkSession, d: String) => {
        val media = Multimodal.synthesizeFromDocuments(
          Tables.documents(s, d).filter(col("doc_id") % 10 === 0))
        Multimodal.sampleFrames(media, everyMs = 2000L).toDF()
          .groupBy("media_id")
          .agg(count(lit(1)).as("n_frames"), sum(length(col("frame"))).as("total_frame_bytes"))
          .orderBy("media_id")
      },
      // the synthetic media metadata is a pure function of the doc row
      // (durationMs = chars×10; frame slices telescope to the full payload)
      // so the frame accounting is exactly SQL-expressible
      Some("""SELECT doc_id AS media_id,
             |  CAST(greatest(1, length(text) * 10 // 2000) AS BIGINT) AS n_frames,
             |  CAST(octet_length(encode(text)) AS BIGINT) AS total_frame_bytes
             |FROM documents WHERE doc_id % 10 = 0
             |ORDER BY media_id""".stripMargin)),

    ("q40_neardup_corpus",
      (s: SparkSession, d: String) => {
        // end-to-end corpus dedup: LSH pairs -> exact verify -> connected
        // components -> keep min-id representative
        Dedup.dedupCorpus(Tables.documents(s, d), "doc_id", "text", threshold = 0.5)
          .select("doc_id", "lang", "source")
          .orderBy("doc_id")
      },
      // GROUND-TRUTH oracle: exact-Jaccard pairs (same CTE as q26) →
      // transitive closure via recursive CTE → keep each component's
      // min-id representative. Matches the engine's LSH + connected-
      // components + keep-min semantics end to end.
      Some("""WITH RECURSIVE tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |sh AS (SELECT doc_id,
             |  list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
             |  ELSE list_transform(range(1, len(toks) - 1),
             |         i -> array_to_string(list_slice(toks, i, i + 2), ' '))
             |  END) AS sh FROM tok),
             |shx AS (SELECT doc_id, unnest(sh) AS g FROM sh),
             |shn AS (SELECT doc_id, len(sh) AS n FROM sh),
             |inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS i
             |  FROM shx a JOIN shx b ON a.g = b.g AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |pairs AS (
             |  SELECT id1, id2 FROM inter
             |  JOIN shn c1 ON c1.doc_id = id1
             |  JOIN shn c2 ON c2.doc_id = id2
             |  WHERE CAST(i AS DOUBLE) / (c1.n + c2.n - i) >= 0.5),
             |edges AS (SELECT id1 AS a, id2 AS b FROM pairs UNION SELECT id2, id1 FROM pairs),
             |reach AS (
             |  SELECT a, b FROM edges
             |  UNION
             |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a),
             |lbl AS (SELECT a AS id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a)
             |SELECT doc_id, lang, source FROM documents
             |WHERE doc_id NOT IN (SELECT id FROM lbl WHERE cluster_id < id)
             |ORDER BY doc_id""".stripMargin)),

    ("q46_media_neardup",
      (s: SparkSession, d: String) => {
        // media near-dup via the expression path: binary -> feature vector
        // (codegen'd media_features) -> LSH-bucketed cosine pairs. The
        // corpus has no byte-identical payloads at small SF, so every
        // 100th doc is replayed under a shifted id: each planted copy MUST
        // surface as a sim==1.0 pair (the all-pairs ground-truth oracle
        // over the dumped vectors re-verifies the full pair set).
        // persist the featurized corpus for the call: nearDupPairs scans
        // it twice (bucket pass + vector join-back) and the media_features
        // kernel is the expensive part of this frame
        val media = q46MediaVectors(s, d).persist()
        val pairs = Similarity.nearDupPairs(media, threshold = 0.999,
            numTables = 8, bitsPerTable = 12, // eager: safe to unpersist after
            corpusPersisted = true) // we hold the cache — no inner re-persist
          .orderBy("id1", "id2")
        media.unpersist(false)
        pairs
      },
      // all-pairs cosine ground truth over the dumped feature vectors:
      // verifies the LSH pair set exactly (recall 1.0 required) plus the
      // bit-identical cosine values and threshold cut
      Some(s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv
              |          FROM read_parquet('$OracleAuxDir/q46_media_vectors/*.parquet'))
              |SELECT a.vec_id AS id1, b.vec_id AS id2,
              |       list_cosine_similarity(a.dv, b.dv) AS sim
              |FROM v a JOIN v b ON a.vec_id < b.vec_id
              |WHERE list_cosine_similarity(a.dv, b.dv) >= 0.999
              |ORDER BY id1, id2""".stripMargin)),

    ("q47_bpe_tokens",
      (s: SparkSession, d: String) => {
        // BPE-ish subword accounting vs whitespace tokens: the ratio is a
        // standard "tokenizer pressure" signal in corpus curation
        Tables.documents(s, d)
          .select(col("doc_id"),
            TextAnalysis.tokenCount(col("text")).as("n_ws_tokens"),
            TextAnalysis.bpeishTokenCount(col("text")).as("n_bpeish_tokens"))
          .orderBy("doc_id")
      },
      // \p{L}/\p{N} classes agree between Java regex and RE2 on this corpus
      Some("""SELECT doc_id,
             |  CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_ws_tokens,
             |  CAST(len(regexp_extract_all(text, '\p{L}+|\p{N}+|[^\p{L}\p{N}\s]')) AS BIGINT) AS n_bpeish_tokens
             |FROM documents ORDER BY doc_id""".stripMargin)),

    ("q51_curate_corpus",
      (s: SparkSession, d: String) => {
        // flagship LLM-data pipeline: quality gate -> language gate ->
        // near-dedup over survivors; composed entirely from oracled pieces
        TextAnalysis.curateCorpus(Tables.documents(s, d),
            minQuality = 0.6, langs = Seq("en"), dedupThreshold = 0.5)
          .select(col("doc_id"), col("lang_pred"), col("quality_score"))
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE qual AS (
             |  SELECT doc_id, text,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
             |    CAST(length(text) AS BIGINT) AS n_chars,
             |    CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS BIGINT) AS n_punct
             |  FROM documents),
             |score AS (
             |  SELECT doc_id, text,
             |    0.5 * least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0)
             |      + 0.4 * (CAST(n_distinct AS DOUBLE) / n_tokens)
             |      + 0.1 * (1.0 - least((CAST(n_punct AS DOUBLE) / n_chars) * 4.0, 1.0)) AS quality_score
             |  FROM qual),
             |hits AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks FROM documents),
             |h AS (SELECT doc_id,
             |  CAST(len(list_intersect(toks, ['der','die','das','und','ist','nicht','ein','mit'])) AS BIGINT) AS h_de,
             |  CAST(len(list_intersect(toks, ['the','and','of','to','is','in','that','with'])) AS BIGINT) AS h_en,
             |  CAST(len(list_intersect(toks, ['el','los','las','es','una','para','como','pero'])) AS BIGINT) AS h_es,
             |  CAST(len(list_intersect(toks, ['le','la','les','et','est','une','dans','pour'])) AS BIGINT) AS h_fr,
             |  CAST(len(list_intersect(toks, ['的','是','了','在','我','有','他','这'])) AS BIGINT) AS h_zh
             | FROM hits),
             |lang AS (
             |  SELECT doc_id,
             |    CASE WHEN greatest(h_de,h_en,h_es,h_fr,h_zh) = 0 THEN 'und'
             |         WHEN h_de = greatest(h_de,h_en,h_es,h_fr,h_zh) THEN 'de'
             |         WHEN h_en = greatest(h_de,h_en,h_es,h_fr,h_zh) THEN 'en'
             |         WHEN h_es = greatest(h_de,h_en,h_es,h_fr,h_zh) THEN 'es'
             |         WHEN h_fr = greatest(h_de,h_en,h_es,h_fr,h_zh) THEN 'fr'
             |         ELSE 'zh' END AS lang_pred FROM h),
             |kept AS (
             |  SELECT s.doc_id, s.text, l.lang_pred, s.quality_score
             |  FROM score s JOIN lang l USING (doc_id)
             |  WHERE s.quality_score >= 0.6 AND l.lang_pred IN ('en')),
             |tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM kept),
             |sh AS (SELECT doc_id,
             |  list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
             |  ELSE list_transform(range(1, len(toks) - 1),
             |         i -> array_to_string(list_slice(toks, i, i + 2), ' '))
             |  END) AS sh FROM tok),
             |shx AS (SELECT doc_id, unnest(sh) AS g FROM sh),
             |shn AS (SELECT doc_id, len(sh) AS n FROM sh),
             |inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS i
             |  FROM shx a JOIN shx b ON a.g = b.g AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |pairs AS (
             |  SELECT id1, id2 FROM inter
             |  JOIN shn c1 ON c1.doc_id = id1
             |  JOIN shn c2 ON c2.doc_id = id2
             |  WHERE CAST(i AS DOUBLE) / (c1.n + c2.n - i) >= 0.5),
             |edges AS (SELECT id1 AS a, id2 AS b FROM pairs UNION SELECT id2, id1 FROM pairs),
             |reach AS (
             |  SELECT a, b FROM edges
             |  UNION
             |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a),
             |lbl AS (SELECT a AS id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a)
             |SELECT doc_id, lang_pred, quality_score FROM kept
             |WHERE doc_id NOT IN (SELECT id FROM lbl WHERE cluster_id < id)
             |ORDER BY doc_id""".stripMargin)),

    ("q52_decontaminate",
      (s: SparkSession, d: String) => {
        // eval-leakage check: "benchmark" items are the first 15 tokens of
        // every 97th doc; flag corpus docs whose 3-gram set contains ≥80%
        // of a benchmark item's 3-grams. Each item's source doc must flag
        // (containment 1.0) — self-validating — plus its near-dup copies.
        val docs = Tables.documents(s, d)
        val bench = docs.filter(col("doc_id") % 97 === 0)
          .select(col("doc_id"),
            array_join(slice(split(col("text"), " "), 1, 15), " ").as("text"))
        Dedup.decontaminate(docs, bench, "doc_id", "text",
            n = 3, containment = 0.8)
          .orderBy("doc_id", "bench_id")
      },
      Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |mk AS (SELECT doc_id, toks,
             |  list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
             |  ELSE list_transform(range(1, len(toks) - 1),
             |         i -> array_to_string(list_slice(toks, i, i + 2), ' '))
             |  END) AS sh FROM tok),
             |btok AS (SELECT doc_id AS bench_id, list_slice(toks, 1, 15) AS toks
             |         FROM tok WHERE doc_id % 97 = 0),
             |bsh AS (SELECT bench_id,
             |  list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
             |  ELSE list_transform(range(1, len(toks) - 1),
             |         i -> array_to_string(list_slice(toks, i, i + 2), ' '))
             |  END) AS sh FROM btok)
             |SELECT c.doc_id, b.bench_id,
             |  CAST(len(list_intersect(c.sh, b.sh)) AS DOUBLE) / len(b.sh) AS containment
             |FROM mk c CROSS JOIN bsh b
             |WHERE CAST(len(list_intersect(c.sh, b.sh)) AS DOUBLE) / len(b.sh) >= 0.8
             |ORDER BY doc_id, bench_id""".stripMargin)),

    ("q38_approx_distinct",
      (s: SparkSession, d: String) => {
        // KMV bottom-k sketch (ext/Sketches): integer-exact estimation
        // from the register table, so — unlike the previous HLL++ form —
        // the estimate itself joins the hash gate: the oracle recomputes
        // it from the dumped registers (q38_kmv aux) in HUGEINT
        // arithmetic. Built-in approx_count_distinct stays tolerance-
        // pinned in ExtendedQuerySpec; k=128 puts sf0.01 (150 distinct)
        // in the ESTIMATE branch so the gate exercises the division.
        val ev = Tables.events(s, d)
        val counts = ev.groupBy("event_type").agg(count(lit(1)).as("n_events"))
        val est = graft.ext.Sketches.approxDistinct(ev, "event_type",
          col("user_id"), k = 128, outCol = "approx_users")
        counts.join(est, "event_type")
          .select("event_type", "approx_users", "n_events")
          .orderBy("event_type")
      },
      Some(s"""WITH s AS (SELECT event_type, mins
             |           FROM read_parquet('$OracleAuxDir/q38_kmv/*.parquet')),
             |e AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
             |      FROM events GROUP BY event_type),
             |est AS (SELECT event_type,
             |  CASE WHEN len(mins) < 128 THEN CAST(len(mins) AS BIGINT)
             |       ELSE CAST((127 * 18446744073709551616::HUGEINT)
             |            / (CAST(mins[128] AS HUGEINT) + 9223372036854775808)
             |            AS BIGINT) END AS approx_users
             |  FROM s)
             |SELECT e.event_type, est.approx_users, e.n_events
             |FROM e JOIN est USING (event_type)
             |ORDER BY e.event_type""".stripMargin)),

    // ------------------------------------------------- shard engineering
    ("q55_pack_shards",
      (s: SparkSession, d: String) => {
        // greedy sequence packing under a token budget — the distributed
        // prefix sum (range buckets + driver prefix scan + per-bucket
        // windows), never a partitionless global window
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        Sharding.packShards(toks, "doc_id", "n_tokens", budget = 4096, numBuckets = 8)
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id,
             |  CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens
             |  FROM documents),
             |cum AS (SELECT doc_id, n_tokens,
             |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS c
             |  FROM toks)
             |SELECT doc_id, n_tokens, CAST(c // 4096 AS BIGINT) AS shard
             |FROM cum ORDER BY doc_id""".stripMargin)),

    ("q56_pii_scrub",
      (s: SparkSession, d: String) => {
        // plant deterministic PII in every 10th doc (the corpus has
        // none), then redact: counts are the audit trail, the scrubbed
        // text the product — both must match DuckDB's RE2 byte-for-byte
        val aug = Tables.documents(s, d).withColumn("text",
          when(col("doc_id") % 10 === 0,
            concat(col("text"), lit(" contact user"),
              col("doc_id").cast("string"), lit("@example.com or 555-0100")))
            .otherwise(col("text")))
        TextAnalysis.scrubPii(aug)
          .select("doc_id", "n_emails", "n_phones", "scrubbed")
          .orderBy("doc_id")
      },
      Some("""WITH aug AS (SELECT doc_id, CASE WHEN doc_id % 10 = 0
             |  THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 555-0100'
             |  ELSE text END AS text FROM documents)
             |SELECT doc_id,
             |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
             |  CAST(len(regexp_extract_all(text, '\b\d{3}-\d{4}\b')) AS BIGINT) AS n_phones,
             |  regexp_replace(regexp_replace(text,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[REDACTED]', 'g'),
             |    '\b\d{3}-\d{4}\b', '[REDACTED]', 'g') AS scrubbed
             |FROM aug ORDER BY doc_id""".stripMargin)),

    ("q58_repetition",
      (s: SparkSession, d: String) => {
        // Gopher-style repetition signal: fraction of 3-gram occurrences
        // that are duplicates — boilerplate/spam detection upstream of
        // quality gating. Hashed shingles (same kernel as the dedup
        // family): count-equivalent to string 3-grams whp, ~2× cheaper
        // than materializing the n-gram strings per row.
        val shingled = Tables.documents(s, d)
          .withColumn("__sh", Dedup.hashedShingles(col("text"), 3))
        shingled.select(col("doc_id"),
            size(col("__sh")).cast("long").as("n_3grams"),
            size(array_distinct(col("__sh"))).cast("long").as("n_distinct_3grams"),
            (lit(1.0) - size(array_distinct(col("__sh"))).cast("double") /
              size(col("__sh"))).as("dup_ratio"))
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |sh AS (SELECT doc_id,
             |  CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
             |  ELSE list_transform(range(1, len(toks) - 1),
             |         i -> array_to_string(list_slice(toks, i, i + 2), ' '))
             |  END AS sh FROM tok)
             |SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_3grams,
             |  CAST(len(list_distinct(sh)) AS BIGINT) AS n_distinct_3grams,
             |  1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh) AS dup_ratio
             |FROM sh ORDER BY doc_id""".stripMargin)),

    ("q59_source_stats",
      (s: SparkSession, d: String) => {
        // provenance accounting: doc/token/char volumes per source — the
        // first dashboard a corpus owner asks for. Single-division
        // average keeps the double bit-identical across engines.
        Tables.documents(s, d).groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(TextAnalysis.tokenCount(col("text"))).cast("long").as("n_tokens"),
            (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"))
          .orderBy("source")
      },
      Some("""SELECT source, count(*) AS n_docs,
             |  CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT) AS n_tokens,
             |  CAST(SUM(n_chars) AS DOUBLE) / count(*) AS avg_chars
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    ("q60_source_cap",
      (s: SparkSession, d: String) => {
        // per-source contribution cap: deterministic downsample to ≤10
        // docs per source via the bounded top-k aggregator
        Sharding.capPerGroup(Tables.documents(s, d), "source", "doc_id", cap = 10)
          .select("doc_id", "source")
          .orderBy("doc_id")
      },
      Some("""WITH ranked AS (SELECT doc_id, source,
             |  row_number() OVER (PARTITION BY source
             |    ORDER BY ((doc_id % 1000003) * 2654435761) % 100, doc_id) AS rn
             |  FROM documents)
             |SELECT doc_id, source FROM ranked WHERE rn <= 10
             |ORDER BY doc_id""".stripMargin)),

    ("q67_bloom_join",
      (s: SparkSession, d: String) => {
        // semi-join reduction: revenue of one nation's suppliers. The
        // supplier subset aggregates into a bloom bitmap; lineitem
        // filters on might_contain BEFORE its join shuffle, so at scale
        // the join moves ~1/25 of the fact bytes. False positives pass
        // the prefilter and die in the join — results are identical to
        // the plain join (which is exactly what the oracle runs).
        val supp = Tables.supplier(s, d).filter(col("s_nationkey") === 5)
          .select("s_suppkey", "s_name")
        val fact = graft.core.BloomPrune.semiJoinReduce(
          Tables.lineitem(s, d), col("l_suppkey"), supp, col("s_suppkey"),
          expectedItems = 100000L)
        fact.join(supp, col("l_suppkey") === col("s_suppkey"))
          .groupBy("s_suppkey", "s_name")
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_extendedprice").cast("decimal(18,2)")).as("revenue"))
          .orderBy("s_suppkey")
      },
      Some("""SELECT s_suppkey, s_name, COUNT(*) AS n_items,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS revenue
             |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
             |WHERE s_nationkey = 5
             |GROUP BY s_suppkey, s_name
             |ORDER BY s_suppkey""".stripMargin)),

    ("q68_salted_join",
      (s: SparkSession, d: String) => {
        // skew-proof salted equi-join: order totals for one market
        // segment's customers. The left (fact) side salts on its own
        // row key, the small side replicates across the salt buckets —
        // a pathologically hot custkey spreads over `salt` reducers.
        // Output is identical to the plain inner join the oracle runs.
        val cust = Tables.customer(s, d)
          .filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey").as("o_custkey"), col("c_name"))
        graft.core.Skew.saltedJoin(
            Tables.orders(s, d), cust, Seq("o_custkey"), col("o_orderkey"), salt = 8)
          .groupBy("o_custkey", "c_name")
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(18,2)")).as("total"))
          .select(col("o_custkey").as("c_custkey"), col("c_name"),
            col("n_orders"), col("total"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, COUNT(*) AS n_orders,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS total
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |WHERE c_mktsegment = 'BUILDING'
             |GROUP BY c_custkey, c_name
             |ORDER BY c_custkey""".stripMargin)),

    ("q66_retention",
      (s: SparkSession, d: String) => {
        // weekly retention cohorts: users grouped by first-event week,
        // counted per week-offset they return in. Two aggregations + one
        // broadcast-able join on user — no window over the event log.
        val ev = Tables.events(s, d)
          .select(col("user_id"), date_trunc("week", col("ts")).as("w"))
        val cohort = ev.groupBy("user_id").agg(min(col("w")).as("cohort_week"))
        ev.join(cohort, "user_id")
          .withColumn("week_offset",
            expr("CAST(datediff(w, cohort_week) div 7 AS BIGINT)"))
          .groupBy("cohort_week", "week_offset")
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy("cohort_week", "week_offset")
      },
      // both engines truncate weeks to Monday; datediff of the truncated
      // dates is an exact multiple of 7
      Some("""WITH ev AS (SELECT user_id, date_trunc('week', ts) AS w FROM events),
             |c AS (SELECT user_id, min(w) AS cohort_week FROM ev GROUP BY user_id)
             |SELECT strftime(c.cohort_week, '%Y-%m-%dT%H:%M:%S.%f') AS cohort_week,
             |  CAST(date_diff('day', c.cohort_week, ev.w) // 7 AS BIGINT) AS week_offset,
             |  CAST(count(DISTINCT ev.user_id) AS BIGINT) AS n_users
             |FROM ev JOIN c ON ev.user_id = c.user_id
             |GROUP BY c.cohort_week, week_offset
             |ORDER BY cohort_week, week_offset""".stripMargin)),

    ("q65_range_join",
      (s: SparkSession, d: String) => {
        // keyed range join: per user, non-purchase events inside the
        // hour after each purchase — granule-bucketized equi-join, never
        // the nested-loop plan a raw BETWEEN join produces
        val ev = Tables.events(s, d).select("event_id", "user_id", "event_type", "ts")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("purchase_id"),
            col("ts").as("p_start"),
            (col("ts") + expr("INTERVAL 1 HOUR")).as("p_end"))
        RangeJoin.pointInInterval(ev.filter(col("event_type") =!= "purchase"),
            purchases, "ts", "p_start", "p_end",
            granuleSeconds = 3600L, keys = Seq("user_id"))
          .select("user_id", "purchase_id", "event_id", "event_type")
          .orderBy("user_id", "purchase_id", "event_id")
      },
      Some("""WITH ev AS (SELECT event_id, user_id, event_type, ts FROM events),
             |p AS (SELECT user_id, event_id AS purchase_id, ts AS p_start,
             |             ts + INTERVAL 1 HOUR AS p_end
             |      FROM ev WHERE event_type = 'purchase')
             |SELECT e.user_id, p.purchase_id, e.event_id, e.event_type
             |FROM ev e JOIN p ON e.user_id = p.user_id
             |  AND e.ts >= p.p_start AND e.ts < p.p_end
             |WHERE e.event_type <> 'purchase'
             |ORDER BY e.user_id, p.purchase_id, e.event_id""".stripMargin)),

    ("q64_funnel",
      (s: SparkSession, d: String) => {
        // behavioral funnel: per user, purchases within 1 hour of the
        // most recent view. ONE pk shuffle + running-max window — never
        // a view×purchase inequality self-join (which degenerates to a
        // per-user nested loop at scale); same union-stream discipline
        // as the as-of join.
        import org.apache.spark.sql.expressions.Window
        val ev = Tables.events(s, d)
          .filter(col("event_type").isin("view", "purchase"))
          .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ev.withColumn("last_view",
            max(when(col("event_type") === "view", col("ts"))).over(w))
          .groupBy("user_id")
          .agg(
            sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("n_views"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"),
            sum(when(col("event_type") === "purchase" && col("last_view").isNotNull &&
              col("ts") <= col("last_view") + expr("INTERVAL 1 HOUR"), 1L).otherwise(0L))
              .as("n_conversions"))
          .orderBy("user_id")
      },
      Some("""WITH ev AS (SELECT user_id, event_type, ts, event_id FROM events
             |            WHERE event_type IN ('view', 'purchase')),
             |f AS (SELECT user_id, event_type, ts,
             |  max(CASE WHEN event_type = 'view' THEN ts END) OVER (
             |    PARTITION BY user_id ORDER BY ts, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view
             |  FROM ev)
             |SELECT user_id,
             |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_views,
             |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
             |  CAST(SUM(CASE WHEN event_type = 'purchase' AND last_view IS NOT NULL
             |    AND ts <= last_view + INTERVAL 1 HOUR THEN 1 ELSE 0 END) AS BIGINT) AS n_conversions
             |FROM f GROUP BY user_id ORDER BY user_id""".stripMargin)),

    ("q63_profile",
      (s: SparkSession, d: String) => {
        // one-pass multi-column profile (nulls, exact distinct, min/max)
        // over integral + string columns (engine-identical rendering)
        graft.core.Profile.profile(Tables.orders(s, d),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
      },
      Some("""SELECT * FROM (
             |  SELECT 'o_orderkey' AS column_name,
             |    CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_nulls,
             |    CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
             |    CAST(min(o_orderkey) AS VARCHAR) AS min_val,
             |    CAST(max(o_orderkey) AS VARCHAR) AS max_val FROM orders
             |  UNION ALL
             |  SELECT 'o_custkey', CAST(count(*) - count(o_custkey) AS BIGINT),
             |    CAST(count(DISTINCT o_custkey) AS BIGINT),
             |    CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR) FROM orders
             |  UNION ALL
             |  SELECT 'o_orderstatus', CAST(count(*) - count(o_orderstatus) AS BIGINT),
             |    CAST(count(DISTINCT o_orderstatus) AS BIGINT),
             |    CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR) FROM orders
             |  UNION ALL
             |  SELECT 'o_orderpriority', CAST(count(*) - count(o_orderpriority) AS BIGINT),
             |    CAST(count(DISTINCT o_orderpriority) AS BIGINT),
             |    CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR) FROM orders
             |) ORDER BY column_name""".stripMargin)),

    ("q62_dedup_increment",
      (s: SparkSession, d: String) => {
        // incremental corpus maintenance: docs ending in 0/5 arrive as a
        // new batch against the rest as the standing corpus, with
        // planted cross-batch exact dups (replayed corpus docs) and an
        // internal replay — survivors must duplicate nothing anywhere
        val docs = Tables.documents(s, d)
        val existing = docs.filter(col("doc_id") % 5 =!= 0)
        val crossReplay = existing.filter(col("doc_id") % 7 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L)
        val internalReplay = docs.filter(col("doc_id") % 100 === 0)
          .withColumn("doc_id", col("doc_id") + 2000000L)
        val incoming = docs.filter(col("doc_id") % 5 === 0)
          .unionByName(crossReplay).unionByName(internalReplay)
        // the oracle below is ALL-PAIRS ground truth at jaccard >= 0.5,
        // so the LSH parameters must guarantee near-1 recall AT the
        // threshold: the default 16 bands x 4 rows centers the S-curve at
        // 0.5 and misses a threshold-grade pair ~36% of the time (green
        // only while the corpus has no borderline pairs); 32 bands x 2
        // rows puts recall at 0.9999 for jaccard 0.5
        val (b, r) = Dedup.bandsForRecall(64, 0.5, minRecall = 0.999)
        Dedup.dedupIncrement(existing, incoming, "doc_id", "text",
            bands = b, rowsPerBand = r, threshold = 0.5)
          .select("doc_id", "lang", "source")
          .orderBy("doc_id")
      },
      // GROUND-TRUTH oracle mirroring the three passes: exact cross-drop
      // (text membership), within-batch transitive closure keep-min
      // (q40's recursive CTE over the fresh set), then drop survivors
      // with any jaccard >= t partner in the standing corpus
      Some("""WITH RECURSIVE existing AS (
             |  SELECT doc_id, text, lang, source FROM documents WHERE doc_id % 5 <> 0),
             |incoming AS (
             |  SELECT doc_id, text, lang, source FROM documents WHERE doc_id % 5 = 0
             |  UNION ALL
             |  SELECT doc_id + 1000000, text, lang, source FROM documents
             |  WHERE doc_id % 5 <> 0 AND doc_id % 7 = 0
             |  UNION ALL
             |  SELECT doc_id + 2000000, text, lang, source FROM documents WHERE doc_id % 100 = 0),
             |fresh AS (SELECT * FROM incoming WHERE text NOT IN (SELECT text FROM existing)),
             |tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM fresh),
             |sh AS (SELECT doc_id,
             |  list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
             |  ELSE list_transform(range(1, len(toks) - 1),
             |         i -> array_to_string(list_slice(toks, i, i + 2), ' '))
             |  END) AS sh FROM tok),
             |shx AS (SELECT doc_id, unnest(sh) AS g FROM sh),
             |shn AS (SELECT doc_id, len(sh) AS n FROM sh),
             |inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS i
             |  FROM shx a JOIN shx b ON a.g = b.g AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |pairs AS (
             |  SELECT id1, id2 FROM inter
             |  JOIN shn c1 ON c1.doc_id = id1
             |  JOIN shn c2 ON c2.doc_id = id2
             |  WHERE CAST(i AS DOUBLE) / (c1.n + c2.n - i) >= 0.5),
             |edges AS (SELECT id1 AS a, id2 AS b FROM pairs UNION SELECT id2, id1 FROM pairs),
             |reach AS (
             |  SELECT a, b FROM edges
             |  UNION
             |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a),
             |lbl AS (SELECT a AS id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
             |within AS (SELECT * FROM fresh
             |  WHERE doc_id NOT IN (SELECT id FROM lbl WHERE cluster_id < id)),
             |etok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM existing),
             |esh AS (SELECT doc_id,
             |  list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
             |  ELSE list_transform(range(1, len(toks) - 1),
             |         i -> array_to_string(list_slice(toks, i, i + 2), ' '))
             |  END) AS sh FROM etok),
             |crossdup AS (
             |  SELECT DISTINCT w.doc_id FROM sh w JOIN esh e ON
             |    CAST(len(list_intersect(w.sh, e.sh)) AS DOUBLE) /
             |    len(list_distinct(list_concat(w.sh, e.sh))) >= 0.5
             |  WHERE w.doc_id IN (SELECT doc_id FROM within))
             |SELECT doc_id, lang, source FROM within
             |WHERE doc_id NOT IN (SELECT doc_id FROM crossdup)
             |ORDER BY doc_id""".stripMargin)),

    ("q61_quality_threshold",
      (s: SparkSession, d: String) => {
        // percentile-threshold curation: keep the top quartile by quality
        // score. The threshold is ONE exact-percentile aggregation
        // broadcast back over the corpus (never a global sort/rank —
        // selecting "top X%" by rank would pull the corpus through a
        // partitionless window at scale).
        val scored = TextAnalysis.withQuality(Tables.documents(s, d))
          .select(col("doc_id"), col("quality_score"))
        val thr = scored.agg(expr("percentile(quality_score, 0.75)").as("__thr"))
        scored.join(broadcast(thr))
          .filter(col("quality_score") >= col("__thr"))
          .select("doc_id", "quality_score")
          .orderBy("doc_id")
      },
      // quality CTE verbatim from q22 (hash-proven); Spark `percentile`
      // == DuckDB `quantile_cont` (hash-proven by q42)
      Some("""WITH q AS (
             |  SELECT doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
             |    CAST(length(text) AS BIGINT) AS n_chars,
             |    CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS BIGINT) AS n_punct
             |  FROM documents),
             |scored AS (
             |  SELECT doc_id,
             |    0.5 * least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0)
             |      + 0.4 * (CAST(n_distinct AS DOUBLE) / n_tokens)
             |      + 0.1 * (1.0 - least((CAST(n_punct AS DOUBLE) / n_chars) * 4.0, 1.0)) AS quality_score
             |  FROM q)
             |SELECT doc_id, quality_score FROM scored
             |WHERE quality_score >= (SELECT quantile_cont(quality_score, 0.75) FROM scored)
             |ORDER BY doc_id""".stripMargin)),

    ("q72_tfidf",
      (s: SparkSession, d: String) => {
        // TF-IDF keyword extraction: top-3 terms per document by
        // tf·ln(N/df). Document frequencies aggregate over the FULL
        // corpus (map-side-combinable counts; the (doc,term) tf frame is
        // already distinct so df is a second cheap agg over it); the
        // output-document filter lands before the ranking window. Scores
        // round to 4 decimals BEFORE ranking so a 1-ulp ln() divergence
        // between engines cannot flip a rank (ties then break on term).
        val tf = Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
        tf.filter(col("doc_id") % 20 === 0)
          .join(dfreq, "term").crossJoin(broadcast(nDocs))
          .withColumn("score",
            round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 3)
          .select("doc_id", "term", "tf", "df", "score", "rank")
          .orderBy("doc_id", "rank")
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
             |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
             |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
             |n AS (SELECT COUNT(*) AS n_docs FROM documents),
             |sc AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
             |    round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 4) AS score
             |  FROM tf JOIN df USING (term) CROSS JOIN n
             |  WHERE tf.doc_id % 20 = 0),
             |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
             |        ORDER BY score DESC, term) AS rank FROM sc)
             |SELECT doc_id, term, tf, df, score, CAST(rank AS BIGINT) AS rank
             |FROM r WHERE rank <= 3
             |ORDER BY doc_id, rank""".stripMargin)),

    ("q73_heavy_hitters",
      (s: SparkSession, d: String) => {
        // per-group heavy hitters: top-5 tokens per language through the
        // bounded top-k aggregator — the per-(lang,token) counts partial-
        // aggregate map-side, then the top-k stage shuffles O(langs × k)
        // pre-trimmed heaps instead of pulling every token count through
        // a per-lang window sort. Ties break (count desc, token asc),
        // identical to the oracle's window formulation.
        val counts = Tables.documents(s, d)
          .select(col("lang"), explode(split(col("text"), " ")).as("token"))
          .groupBy("lang", "token").agg(count(lit(1)).as("cnt"))
        counts.groupBy("lang")
          .agg(graft.functions.TopK.top_k_str(5)(
            col("token"), col("cnt").cast("double")).as("top"))
          .select(col("lang"), posexplode(col("top")).as(Seq("pos", "t")))
          .select(col("lang"), col("t.id").as("token"),
            col("t.score").cast("long").as("cnt"),
            (col("pos") + 1).cast("long").as("rank"))
          .orderBy("lang", "rank")
      },
      Some("""WITH c AS (SELECT lang, token, COUNT(*) AS cnt
             |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents)
             |  GROUP BY 1, 2),
             |r AS (SELECT *, row_number() OVER (PARTITION BY lang
             |        ORDER BY cnt DESC, token) AS rank FROM c)
             |SELECT lang, token, cnt, CAST(rank AS BIGINT) AS rank
             |FROM r WHERE rank <= 5
             |ORDER BY lang, rank""".stripMargin)),

    ("q74_kmeans_assign",
      (s: SparkSession, d: String) => {
        // document/embedding clustering: spherical k-means fit (adaptive
        // driver/distributed Lloyd's, deterministic for the fixed seed)
        // + codegen'd nearest-centroid assignment over the corpus. The
        // oracle re-assigns EVERY vector in DuckDB against the dumped
        // centroids (same double dot product, same ties-to-lower-cell),
        // so the per-cell counts + id checksums pin the whole fit and
        // assignment end to end. Assignment is one scan, no shuffle;
        // the rollup shuffles k rows per partition.
        val cents = q74Fit(s, d)
        Tables.embeddings(s, d)
          .select(col("vec_id"),
            graft.functions.VectorFunctions
              .nearest_centroids(col("embedding"), cents, 64, 1)(0).as("cell"))
          .groupBy("cell")
          .agg(count(lit(1)).as("n_vectors"),
            sum(col("vec_id")).cast("long").as("id_checksum"))
          .orderBy("cell")
      },
      Some(s"""WITH c AS (SELECT cell, CAST(centroid AS DOUBLE[]) AS cv
             |  FROM read_parquet('$OracleAuxDir/q74_centroids/*.parquet')),
             |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
             |scored AS (SELECT v.vec_id, c.cell, list_dot_product(v.dv, c.cv) AS dot
             |  FROM v CROSS JOIN c),
             |best AS (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
             |    ORDER BY dot DESC, cell) AS rn FROM scored)
             |SELECT cell, COUNT(*) AS n_vectors, CAST(SUM(vec_id) AS BIGINT) AS id_checksum
             |FROM best WHERE rn = 1
             |GROUP BY cell ORDER BY cell""".stripMargin)),

    ("q75_dim_stats",
      (s: SparkSession, d: String) => {
        // per-(label, dimension) embedding statistics — the feature-drift
        // dashboard over a vector column. posexplode melts vectors into
        // (label, pos, x) rows that partial-aggregate map-side, so the
        // shuffle carries O(partitions × labels × dim) pre-summed rows,
        // not vectors. Values quantize to FLOOR(x·10⁶) microunits before
        // summing: floor of an identical IEEE double is deterministic in
        // both engines (a decimal CAST is not — floats that are odd
        // multiples of 2⁻¹¹ sit exactly on scale-10 midpoints, where
        // Spark rounds HALF_UP and DuckDB half-even), so the integer
        // sums are exact, order-independent, and engine-identical.
        Tables.embeddings(s, d)
          .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
          .groupBy(col("label"), col("pos").cast("long").as("pos"))
          .agg(count(lit(1)).as("n"),
            sum(floor(col("x").cast("double") * lit(1e6)).cast("long")).as("sum_micro"))
          .orderBy("label", "pos")
      },
      Some("""WITH m AS (SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
             |    unnest(embedding) AS x FROM embeddings)
             |SELECT label, pos, COUNT(*) AS n,
             |  CAST(SUM(CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS BIGINT) AS sum_micro
             |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    ("q77_mix_weights",
      (s: SparkSession, d: String) => {
        // weighted data mixing: the mixture spec (source → keep-permille)
        // is a config-sized table that BROADCASTS against the corpus, and
        // the keep decision is the same engine-reproducible Knuth
        // multiplicative hash as q57's splits — so the mixed corpus is a
        // pure function of (doc_id, spec), stable under re-runs, adding
        // sources, or repartitioning. One scan, zero shuffles before the
        // output sort.
        val spec = Seq.tabulate(20) { i =>
          (s"src$i", if (i % 3 == 0) 250L else if (i % 3 == 1) 600L else 900L)
        }
        val weights = s.createDataFrame(spec).toDF("source", "permille")
        Tables.documents(s, d)
          .join(broadcast(weights), Seq("source"))
          .filter(pmod((col("doc_id") % 1000003L) * 2654435761L, lit(1000L)) <
            col("permille"))
          .select("doc_id", "source")
          .orderBy("doc_id")
      },
      Some(("""WITH w(source, permille) AS (VALUES """ +
        Seq.tabulate(20) { i =>
          s"('src$i', ${if (i % 3 == 0) 250 else if (i % 3 == 1) 600 else 900})"
        }.mkString(", ") + """)
             |SELECT d.doc_id, d.source
             |FROM documents d JOIN w ON d.source = w.source
             |WHERE ((doc_id % 1000003) * 2654435761) % 1000 < permille
             |ORDER BY doc_id""").stripMargin)),

    ("q57_split_assign",
      (s: SparkSession, d: String) => {
        // deterministic train/val/test assignment: plain multiplicative-
        // hash arithmetic, so ANY engine reproduces the split bit-for-bit
        Sharding.assignSplit(Tables.documents(s, d), "doc_id")
          .select("doc_id", "split")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CASE WHEN ((doc_id % 1000003) * 2654435761) % 100 < 90 THEN 'train'
             |       WHEN ((doc_id % 1000003) * 2654435761) % 100 < 95 THEN 'val'
             |       ELSE 'test' END AS split
             |FROM documents ORDER BY doc_id""".stripMargin)),

    ("q80_chunking",
      (s: SparkSession, d: String) => {
        // long-document chunking into model-sized token windows (size 64,
        // stride 48 → 16-token overlap): map-only, no shuffle before the
        // output sort; the chunk axis is integer arithmetic both engines
        // reproduce exactly (see TextAnalysis.chunkByTokens)
        TextAnalysis.chunkByTokens(Tables.documents(s, d),
            chunkSize = 64, stride = 48)
          .select("doc_id", "chunk_id", "start_tok", "chunk_len", "chunk_text")
          .orderBy("doc_id", "chunk_id")
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |c AS (SELECT doc_id, toks,
             |        CASE WHEN len(toks) <= 64 THEN 1
             |             ELSE (len(toks) - 64 + 47) // 48 + 1 END AS n_chunks
             |      FROM t),
             |e AS (SELECT doc_id, toks, unnest(range(n_chunks)) AS chunk_id FROM c)
             |SELECT doc_id, chunk_id, chunk_id * 48 AS start_tok,
             |  CAST(len(list_slice(toks, chunk_id * 48 + 1, chunk_id * 48 + 64)) AS BIGINT) AS chunk_len,
             |  array_to_string(list_slice(toks, chunk_id * 48 + 1, chunk_id * 48 + 64), ' ') AS chunk_text
             |FROM e ORDER BY doc_id, chunk_id""".stripMargin)),

    ("q81_inverted_index",
      (s: SparkSession, d: String) => {
        // posting lists via ONE bounded-top-k aggregation (df + 20
        // smallest ids per token in the same pass); hot tokens — df over
        // 800‰ of the corpus — drop after aggregation, and their heaps
        // never exceeded the cap either (see TextAnalysis.invertedIndex)
        TextAnalysis.invertedIndex(Tables.documents(s, d),
            minDf = 2, maxDfPermille = 800, postingCap = 20)
          .orderBy("token")
      },
      Some("""WITH dt AS (SELECT DISTINCT doc_id,
             |              unnest(string_split(text, ' ')) AS token FROM documents),
             |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
             |f AS (SELECT token, COUNT(*) AS df FROM dt GROUP BY token)
             |SELECT t.token, f.df,
             |  array_to_string(list_slice(list(t.doc_id ORDER BY t.doc_id), 1, 20), ',') AS postings
             |FROM dt t JOIN f USING (token), nd
             |WHERE f.df >= 2 AND f.df * 1000 <= nd.n_docs * 800
             |GROUP BY t.token, f.df
             |ORDER BY t.token""".stripMargin)),

    ("q82_cooccurrence",
      (s: SparkSession, d: String) => {
        // top-50-vocabulary co-occurrence: vocab broadcasts, corpus is
        // vocab-filtered before pairing, per-doc fan-out ≤ |V|²/2
        TextAnalysis.cooccurrence(Tables.documents(s, d),
            vocabSize = 50, minPairDocs = 5)
          .orderBy("t1", "t2")
      },
      Some("""WITH dt AS (SELECT DISTINCT doc_id AS doc,
             |              unnest(string_split(text, ' ')) AS token FROM documents),
             |v AS (SELECT token, COUNT(*) AS df FROM dt GROUP BY token
             |      ORDER BY df DESC, token LIMIT 50),
             |f AS (SELECT dt.doc, dt.token FROM dt JOIN v USING (token)),
             |p AS (SELECT a.token AS t1, b.token AS t2, COUNT(*) AS pair_docs
             |      FROM f a JOIN f b ON a.doc = b.doc AND a.token < b.token
             |      GROUP BY 1, 2 HAVING COUNT(*) >= 5)
             |SELECT p.t1, p.t2, p.pair_docs, v1.df AS df1, v2.df AS df2
             |FROM p JOIN v v1 ON p.t1 = v1.token JOIN v v2 ON p.t2 = v2.token
             |ORDER BY p.t1, p.t2""".stripMargin)),

    ("q89_split_leakage",
      (s: SparkSession, d: String) => {
        // eval-integrity audit: near-duplicate pairs that CROSS
        // train/val/test splits (a test doc with a train near-dup
        // invalidates the holdout) — composes the verified minhash pair
        // machinery with the deterministic split rule; the split frame
        // joins pairs by bare id
        val docs = Tables.documents(s, d)
        val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
          shingleSize = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
        val splits = Sharding.assignSplit(docs, "doc_id")
          .select(col("doc_id"), col("split"))
        pairs
          .join(splits.select(col("doc_id").as("id1"), col("split").as("split1")), "id1")
          .join(splits.select(col("doc_id").as("id2"), col("split").as("split2")), "id2")
          .filter(col("split1") =!= col("split2"))
          .select("id1", "id2", "split1", "split2")
          .orderBy("id1", "id2")
      },
      // GROUND-TRUTH oracle: q26's all-pairs exact-Jaccard CTE × q57's
      // split arithmetic, cross-split filter
      Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |sh AS (SELECT doc_id,
             |  list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
             |  ELSE list_transform(range(1, len(toks) - 1),
             |         i -> array_to_string(list_slice(toks, i, i + 2), ' '))
             |  END) AS sh FROM tok),
             |shx AS (SELECT doc_id, unnest(sh) AS g FROM sh),
             |shn AS (SELECT doc_id, len(sh) AS n FROM sh),
             |inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS i
             |  FROM shx a JOIN shx b ON a.g = b.g AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |pairs AS (
             |  SELECT id1, id2 FROM inter
             |  JOIN shn c1 ON c1.doc_id = id1
             |  JOIN shn c2 ON c2.doc_id = id2
             |  WHERE CAST(i AS DOUBLE) / (c1.n + c2.n - i) >= 0.5),
             |sp AS (SELECT doc_id,
             |  CASE WHEN ((doc_id % 1000003) * 2654435761) % 100 < 90 THEN 'train'
             |       WHEN ((doc_id % 1000003) * 2654435761) % 100 < 95 THEN 'val'
             |       ELSE 'test' END AS split FROM documents)
             |SELECT p.id1, p.id2, s1.split AS split1, s2.split AS split2
             |FROM pairs p JOIN sp s1 ON p.id1 = s1.doc_id
             |             JOIN sp s2 ON p.id2 = s2.doc_id
             |WHERE s1.split <> s2.split
             |ORDER BY p.id1, p.id2""".stripMargin)),

    ("q88_ann_recall",
      (s: SparkSession, d: String) => {
        // ANN index-quality monitor: per-query recall@10 of the LSH path
        // against the exact brute-force truth — the continuous evaluation
        // a platform runs on its similarity index. Integer outputs; both
        // sides are the verified q29/q30 machinery, the overlap is one
        // (query, neighbor) equi-join + count
        val emb = Tables.embeddings(s, d)
        val queries = emb.filter(col("vec_id") % 50 === 0)
        val exact = Similarity.topKBruteForce(emb, queries, k = 10)
        val approx = Similarity.topKLsh(emb, queries, k = 10,
          numTables = 16, bitsPerTable = 8)
        val hits = exact.select("query_id", "neighbor_id")
          .join(approx.select("query_id", "neighbor_id"),
            Seq("query_id", "neighbor_id"))
          .groupBy("query_id").agg(count(lit(1)).as("recall_hits"))
        queries.select(col("vec_id").as("query_id"))
          .join(hits, Seq("query_id"), "left")
          .select(col("query_id"),
            coalesce(col("recall_hits"), lit(0L)).as("recall_hits"),
            lit(10L).as("k"))
          .orderBy("query_id")
      },
      // exact side: q29's brute-force oracle; approx side: q30's
      // candidate-dump re-rank — recall is their per-query overlap
      Some(s"""WITH cand AS (SELECT DISTINCT query_id, neighbor_id
             |              FROM read_parquet('$OracleAuxDir/q30_candidates/*.parquet')),
             |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
             |q AS (SELECT vec_id AS query_id, dv AS qv FROM v WHERE vec_id % 50 = 0),
             |ex AS (SELECT q.query_id, e.vec_id AS neighbor_id,
             |         row_number() OVER (PARTITION BY q.query_id
             |           ORDER BY list_cosine_similarity(e.dv, q.qv) DESC, e.vec_id) AS rnk
             |       FROM v e CROSS JOIN q WHERE e.vec_id <> q.query_id),
             |exk AS (SELECT query_id, neighbor_id FROM ex WHERE rnk <= 10),
             |ap AS (SELECT c.query_id, c.neighbor_id,
             |         row_number() OVER (PARTITION BY c.query_id
             |           ORDER BY list_cosine_similarity(cn.dv, cq.dv) DESC, c.neighbor_id) AS rnk
             |       FROM cand c JOIN v cq ON cq.vec_id = c.query_id
             |                   JOIN v cn ON cn.vec_id = c.neighbor_id),
             |apk AS (SELECT query_id, neighbor_id FROM ap WHERE rnk <= 10),
             |h AS (SELECT e.query_id, COUNT(*) AS recall_hits
             |      FROM exk e JOIN apk a
             |        ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
             |      GROUP BY 1)
             |SELECT q.query_id,
             |       CAST(COALESCE(h.recall_hits, 0) AS BIGINT) AS recall_hits,
             |       CAST(10 AS BIGINT) AS k
             |FROM q LEFT JOIN h USING (query_id)
             |ORDER BY query_id""".stripMargin)),

    ("q92_pq_recall",
      (s: SparkSession, d: String) => {
        // index-quality monitor for the PQ path (q88's shape over q91's
        // machinery): per-query recall@10 of PQ-ADC + exact re-rank
        // against brute-force truth — the continuous check that code
        // compression isn't silently eating recall
        val emb = Tables.embeddings(s, d)
        val queries = emb.filter(col("vec_id") % 50 === 0)
        val exact = Similarity.topKBruteForce(emb, queries, k = 10)
        val approx = graft.ext.PQ.topKPq(emb, queries, k = 10,
          q91Fit(s, d), refine = 4)
        val hits = exact.select("query_id", "neighbor_id")
          .join(approx.select("query_id", "neighbor_id"),
            Seq("query_id", "neighbor_id"))
          .groupBy("query_id").agg(count(lit(1)).as("recall_hits"))
        queries.select(col("vec_id").as("query_id"))
          .join(hits, Seq("query_id"), "left")
          .select(col("query_id"),
            coalesce(col("recall_hits"), lit(0L)).as("recall_hits"),
            lit(10L).as("k"))
          .orderBy("query_id")
      },
      // exact side: q29's brute-force oracle; approx side: q91's
      // candidate-dump re-rank — recall is their per-query overlap
      Some(s"""WITH cand AS (SELECT DISTINCT query_id, neighbor_id
             |              FROM read_parquet('$OracleAuxDir/q91_candidates/*.parquet')),
             |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
             |q AS (SELECT vec_id AS query_id, dv AS qv FROM v WHERE vec_id % 50 = 0),
             |ex AS (SELECT q.query_id, e.vec_id AS neighbor_id,
             |         row_number() OVER (PARTITION BY q.query_id
             |           ORDER BY list_cosine_similarity(e.dv, q.qv) DESC, e.vec_id) AS rnk
             |       FROM v e CROSS JOIN q WHERE e.vec_id <> q.query_id),
             |exk AS (SELECT query_id, neighbor_id FROM ex WHERE rnk <= 10),
             |ap AS (SELECT c.query_id, c.neighbor_id,
             |         row_number() OVER (PARTITION BY c.query_id
             |           ORDER BY list_cosine_similarity(cn.dv, cq.dv) DESC, c.neighbor_id) AS rnk
             |       FROM cand c JOIN v cq ON cq.vec_id = c.query_id
             |                   JOIN v cn ON cn.vec_id = c.neighbor_id),
             |apk AS (SELECT query_id, neighbor_id FROM ap WHERE rnk <= 10),
             |h AS (SELECT e.query_id, COUNT(*) AS recall_hits
             |      FROM exk e JOIN apk a
             |        ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
             |      GROUP BY 1)
             |SELECT q.query_id,
             |       CAST(COALESCE(h.recall_hits, 0) AS BIGINT) AS recall_hits,
             |       CAST(10 AS BIGINT) AS k
             |FROM q LEFT JOIN h USING (query_id)
             |ORDER BY query_id""".stripMargin)),

    ("q103_ivfpq_recall",
      (s: SparkSession, d: String) => {
        // index-quality monitor for the COMPOSED index (q92's shape over
        // q102's machinery): per-query recall@10 of cell-pruned ADC +
        // exact re-rank against brute-force truth — the continuous check
        // that coarse-cell pruning plus residual-code compression isn't
        // silently eating recall
        val emb = Tables.embeddings(s, d)
        val queries = emb.filter(col("vec_id") % 50 === 0)
        val exact = Similarity.topKBruteForce(emb, queries, k = 10)
        val approx = graft.ext.IvfPq.topKIvfPq(emb, queries, k = 10,
          q102Fit(s, d), nProbe = 8, refine = 4)
        val hits = exact.select("query_id", "neighbor_id")
          .join(approx.select("query_id", "neighbor_id"),
            Seq("query_id", "neighbor_id"))
          .groupBy("query_id").agg(count(lit(1)).as("recall_hits"))
        queries.select(col("vec_id").as("query_id"))
          .join(hits, Seq("query_id"), "left")
          .select(col("query_id"),
            coalesce(col("recall_hits"), lit(0L)).as("recall_hits"),
            lit(10L).as("k"))
          .orderBy("query_id")
      },
      // exact side: q29's brute-force oracle; approx side: q102's
      // candidate-dump re-rank — recall is their per-query overlap
      Some(s"""WITH cand AS (SELECT DISTINCT query_id, neighbor_id
             |              FROM read_parquet('$OracleAuxDir/q102_candidates/*.parquet')),
             |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
             |q AS (SELECT vec_id AS query_id, dv AS qv FROM v WHERE vec_id % 50 = 0),
             |ex AS (SELECT q.query_id, e.vec_id AS neighbor_id,
             |         row_number() OVER (PARTITION BY q.query_id
             |           ORDER BY list_cosine_similarity(e.dv, q.qv) DESC, e.vec_id) AS rnk
             |       FROM v e CROSS JOIN q WHERE e.vec_id <> q.query_id),
             |exk AS (SELECT query_id, neighbor_id FROM ex WHERE rnk <= 10),
             |ap AS (SELECT c.query_id, c.neighbor_id,
             |         row_number() OVER (PARTITION BY c.query_id
             |           ORDER BY list_cosine_similarity(cn.dv, cq.dv) DESC, c.neighbor_id) AS rnk
             |       FROM cand c JOIN v cq ON cq.vec_id = c.query_id
             |                   JOIN v cn ON cn.vec_id = c.neighbor_id),
             |apk AS (SELECT query_id, neighbor_id FROM ap WHERE rnk <= 10),
             |h AS (SELECT e.query_id, COUNT(*) AS recall_hits
             |      FROM exk e JOIN apk a
             |        ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
             |      GROUP BY 1)
             |SELECT q.query_id,
             |       CAST(COALESCE(h.recall_hits, 0) AS BIGINT) AS recall_hits,
             |       CAST(10 AS BIGINT) AS k
             |FROM q LEFT JOIN h USING (query_id)
             |ORDER BY query_id""".stripMargin)),

    ("q104_semantic_dedup",
      (s: SparkSession, d: String) => {
        // SemDeDup: k-means semantic cells (n/256 cells — within-cell
        // pair work linear in n), exact cosine >= 0.4 within cells,
        // connected components, min-id representative survives. The
        // threshold matches q31/q90's data-appropriate 0.4 (corpus is
        // near-random; see q31's note).
        Similarity.semanticDedupFromCells(Tables.embeddings(s, d),
            q104Cells(s, d), threshold = 0.4)
          .orderBy("vec_id")
      },
      // GROUND-TRUTH downstream oracle: DuckDB recomputes within-cell
      // all-pairs cosine, the recursive-CTE closure (q85's pattern),
      // and the min-id representative from the dumped cell assignment
      Some(s"""WITH RECURSIVE c AS (SELECT id, cell
             |           FROM read_parquet('$OracleAuxDir/q104_cells/*.parquet')),
             |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
             |pairs AS (
             |  SELECT a.id AS id1, b.id AS id2
             |  FROM c a JOIN c b ON a.cell = b.cell AND a.id < b.id
             |  JOIN v va ON va.vec_id = a.id
             |  JOIN v vb ON vb.vec_id = b.id
             |  WHERE list_cosine_similarity(va.dv, vb.dv) >= 0.4),
             |edges AS (SELECT id1 AS a, id2 AS b FROM pairs
             |          UNION SELECT id2, id1 FROM pairs),
             |reach AS (
             |  SELECT a, b FROM edges
             |  UNION
             |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a),
             |lbl AS (SELECT a AS id, least(a, min(b)) AS rep FROM reach GROUP BY a)
             |SELECT e.vec_id,
             |       COALESCE(l.rep, e.vec_id) AS rep_id,
             |       COALESCE(l.rep, e.vec_id) = e.vec_id AS kept
             |FROM (SELECT vec_id FROM embeddings) e
             |LEFT JOIN lbl l ON l.id = e.vec_id
             |ORDER BY e.vec_id""".stripMargin)),

    ("q108_semantic_dedup_hier",
      (s: SparkSession, d: String) => {
        // q104's SCALE PATH pinned in the gate: the same SemDeDup
        // downstream but over the two-level (hierarchical) cell
        // assignment — √k supers × √k children, O(√k) per row where the
        // flat argmax is O(k) with k = n/cellSize growing with the
        // corpus. Forced on here (hierThreshold=2) so the kernel the
        // 100 TB regime uses is the one the oracle recomputes against.
        Similarity.semanticDedupFromCells(Tables.embeddings(s, d),
            q108Cells(s, d), threshold = 0.4)
          .orderBy("vec_id")
      },
      // identical downstream oracle to q104, over the HIER assignment
      // dump: within-cell all-pairs cosine, recursive-CTE closure,
      // min-id representative
      Some(s"""WITH RECURSIVE c AS (SELECT id, cell
             |           FROM read_parquet('$OracleAuxDir/q108_cells/*.parquet')),
             |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
             |pairs AS (
             |  SELECT a.id AS id1, b.id AS id2
             |  FROM c a JOIN c b ON a.cell = b.cell AND a.id < b.id
             |  JOIN v va ON va.vec_id = a.id
             |  JOIN v vb ON vb.vec_id = b.id
             |  WHERE list_cosine_similarity(va.dv, vb.dv) >= 0.4),
             |edges AS (SELECT id1 AS a, id2 AS b FROM pairs
             |          UNION SELECT id2, id1 FROM pairs),
             |reach AS (
             |  SELECT a, b FROM edges
             |  UNION
             |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a),
             |lbl AS (SELECT a AS id, least(a, min(b)) AS rep FROM reach GROUP BY a)
             |SELECT e.vec_id,
             |       COALESCE(l.rep, e.vec_id) AS rep_id,
             |       COALESCE(l.rep, e.vec_id) = e.vec_id AS kept
             |FROM (SELECT vec_id FROM embeddings) e
             |LEFT JOIN lbl l ON l.id = e.vec_id
             |ORDER BY e.vec_id""".stripMargin)),

    ("q105_bm25_topk",
      (s: SparkSession, d: String) => {
        // BM25 sparse retrieval: every 100th doc's distinct first-8
        // tokens form a term-set query; top-5 docs per query. Queries
        // broadcast onto the (doc,term,tf) posting frame — per-query
        // work ∝ its terms' posting lists; top-k via the bounded heap
        // (O(queries × k) shuffle, no per-query sort of scored docs).
        val docs = Tables.documents(s, d)
        Retrieval.bm25TopK(docs,
            Retrieval.probeQueries(docs, every = 100, width = 8), k = 5)
          .orderBy("query_id", "rank")
      },
      // full recomputation oracle: same idf/tf-norm algebra, same
      // 4-decimal pre-rank rounding, same (score desc, doc_id) ties
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |dl AS (SELECT doc_id, len(toks) AS dl FROM t),
             |tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
             |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
             |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
             |st AS (SELECT COUNT(*) AS n_docs, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
             |q AS (SELECT DISTINCT doc_id AS query_id,
             |        unnest(list_distinct(list_slice(toks, 1, 8))) AS term
             |      FROM t WHERE doc_id % 100 = 0),
             |sc AS (SELECT q.query_id, tf.doc_id,
             |         round(SUM(ln(1.0 + (st.n_docs - df.df + 0.5) / (df.df + 0.5))
             |           * (tf.tf * (1.2 + 1.0) /
             |              (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl)))), 4) AS score
             |       FROM q JOIN tf USING (term) JOIN df USING (term)
             |       JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN st
             |       GROUP BY 1, 2),
             |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
             |        ORDER BY score DESC, doc_id) AS rank
             |      FROM sc WHERE query_id <> doc_id)
             |SELECT query_id, doc_id, score, CAST(rank AS BIGINT) AS rank
             |FROM r WHERE rank <= 5
             |ORDER BY query_id, rank""".stripMargin)),

    ("q106_perplexity_filter",
      (s: SparkSession, d: String) => {
        // CCNet-style LM quality filter: Laplace-smoothed bigram LM
        // trained on the corpus, per-doc avg log-likelihood, keep docs
        // at/above the exact 10th percentile. Counts are map-side-
        // combinable aggs; the threshold is one percentile over the
        // O(docs) scored frame, broadcast back.
        NgramLM.perplexityFilter(Tables.documents(s, d), keepQuantile = 0.1)
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |g0 AS (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
             |       FROM t WHERE len(toks) >= 2),
             |g AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2 FROM g0),
             |dg AS (SELECT doc_id, w1, w2, COUNT(*) AS n FROM g GROUP BY 1, 2, 3),
             |c12 AS (SELECT w1, w2, CAST(SUM(n) AS BIGINT) AS c12 FROM dg GROUP BY 1, 2),
             |c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
             |v AS (SELECT COUNT(DISTINCT w) AS v
             |      FROM (SELECT unnest(toks) AS w FROM t)),
             |lp AS (SELECT dg.doc_id, dg.n,
             |         dg.n * ln((COALESCE(c12.c12, 0) + 1.0) / (COALESCE(c1.c1, 0) + v.v)) AS lp
             |       FROM dg LEFT JOIN c12 USING (w1, w2) LEFT JOIN c1 USING (w1) CROSS JOIN v),
             |sc AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
             |         round(SUM(lp) / SUM(n), 4) AS avg_lp FROM lp GROUP BY 1),
             |thr AS (SELECT quantile_cont(avg_lp, 0.1) AS thr FROM sc)
             |SELECT doc_id, n_bigrams, avg_lp, avg_lp >= thr AS kept
             |FROM sc CROSS JOIN thr
             |ORDER BY doc_id""".stripMargin)),

    ("q107_dsir_weights",
      (s: SparkSession, d: String) => {
        // DSIR importance weights: unigram-LM log ratio toward the
        // lang='en' slice, Laplace-smoothed over the union vocabulary.
        // Model frames are O(vocab) pre-aggregations; docs reduce to
        // (doc, term, n) before the join-back.
        val docs = Tables.documents(s, d)
        NgramLM.dsirWeights(docs, docs.filter(col("lang") === "en"))
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
             |du AS (SELECT doc_id, w, COUNT(*) AS n FROM tok GROUP BY 1, 2),
             |craw AS (SELECT w, CAST(SUM(n) AS BIGINT) AS c_raw FROM du GROUP BY 1),
             |ctgt AS (SELECT w, CAST(SUM(n) AS BIGINT) AS c_tgt
             |         FROM du JOIN documents USING (doc_id) WHERE lang = 'en' GROUP BY 1),
             |m AS (SELECT COALESCE(craw.w, ctgt.w) AS w,
             |        COALESCE(c_raw, 0) AS c_raw, COALESCE(c_tgt, 0) AS c_tgt
             |      FROM craw FULL OUTER JOIN ctgt ON craw.w = ctgt.w),
             |tot AS (SELECT CAST(SUM(c_raw) AS BIGINT) AS t_raw,
             |        CAST(SUM(c_tgt) AS BIGINT) AS t_tgt, COUNT(*) AS v FROM m),
             |lw AS (SELECT du.doc_id, CAST(SUM(du.n) AS BIGINT) AS n_tokens,
             |         round(SUM(du.n * (ln((COALESCE(m.c_tgt, 0) + 1.0) / (t_tgt + v))
             |                         - ln((COALESCE(m.c_raw, 0) + 1.0) / (t_raw + v)))), 4) AS log_w
             |       FROM du LEFT JOIN m USING (w) CROSS JOIN tot GROUP BY du.doc_id)
             |SELECT doc_id, n_tokens, log_w FROM lw
             |ORDER BY doc_id""".stripMargin)),

    ("q109_nb_classify",
      (s: SparkSession, d: String) => {
        // fastText-surrogate corpus classifier: multinomial NB trained
        // on the 80% labeled slice (doc_id % 5 <> 0), scoring EVERY doc
        // (so the held-out 20% is a real prediction). Model = two count
        // frames; scores rounded before the argmax so an independent
        // engine reproduces the prediction exactly.
        val docs = Tables.documents(s, d)
        graft.ext.NaiveBayes.trainScore(
            docs.filter(col("doc_id") % 5 =!= 0), docs, "lang")
          .orderBy("doc_id")
      },
      Some("""WITH tr AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 <> 0),
             |tw AS (SELECT lang AS label, unnest(string_split(text, ' ')) AS w FROM tr),
             |cw AS (SELECT label, w, COUNT(*) AS c FROM tw GROUP BY 1, 2),
             |cl AS (SELECT label, CAST(SUM(c) AS BIGINT) AS cl FROM cw GROUP BY 1),
             |pr AS (SELECT lang AS label, COUNT(*) AS nd FROM tr GROUP BY 1),
             |tot AS (SELECT (SELECT COUNT(DISTINCT w) FROM tw) AS v,
             |               (SELECT COUNT(*) FROM tr) AS nt),
             |dn AS (SELECT doc_id, w, COUNT(*) AS n
             |       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
             |       GROUP BY 1, 2),
             |sc AS (SELECT dn.doc_id, pr.label,
             |         round(ln(pr.nd * 1.0 / tot.nt)
             |           + SUM(dn.n * ln((COALESCE(cw.c, 0) + 1.0) / (cl.cl + tot.v))), 4) AS score_pred
             |       FROM dn CROSS JOIN pr
             |       LEFT JOIN cw ON cw.label = pr.label AND cw.w = dn.w
             |       JOIN cl ON cl.label = pr.label
             |       CROSS JOIN tot
             |       GROUP BY dn.doc_id, pr.label, pr.nd, tot.nt),
             |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
             |        ORDER BY score_pred DESC, label) AS rk FROM sc)
             |SELECT doc_id, label AS label_pred, score_pred FROM r WHERE rk = 1
             |ORDER BY doc_id""".stripMargin)),

    ("q110_span_dedup",
      (s: SparkSession, d: String) => {
        // C4's actual corpus EDIT: globally-first occurrence of each
        // 8-token tile survives, later duplicates are cut, text
        // reconstructed from the surviving tiles (~5% of tiles at sf0.1
        // are corpus-level duplicates — the planted near-dup docs).
        graft.ext.Dedup.dedupTiles(Tables.documents(s, d), "doc_id", "text",
            width = 8)
          .orderBy("doc_id")
      },
      Some(spanDedupOracle)),

    ("q111_sample_quantiles",
      (s: SparkSession, d: String) => {
        // the 100 TB quantile path: deterministic bottom-k-by-hash
        // sample (TakeOrdered, never a global sort) + exact interpolated
        // quantiles over the k sample rows. The hash is the same public
        // Knuth form as q57/q77, so the oracle reproduces the SAMPLE,
        // not just the estimate.
        val li = Tables.lineitem(s, d)
        graft.ext.RobustStats.sampleQuantiles(li,
            col("l_orderkey") * 10 + col("l_linenumber"),
            col("l_extendedprice"),
            probs = Seq(0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99), k = 1000)
          .orderBy("p")
      },
      Some("""WITH s AS (SELECT l_extendedprice AS v
             |           FROM lineitem
             |           ORDER BY ((l_orderkey * 10 + l_linenumber) % 1000003) * 2654435761 % 1000000007,
             |                    l_orderkey * 10 + l_linenumber
             |           LIMIT 1000),
             |sel AS (SELECT quantile_cont(v, [0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99]) AS qs
             |        FROM s)
             |SELECT CAST(p AS DOUBLE) AS p, q
             |FROM (SELECT unnest([0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99]) AS p,
             |             unnest(qs) AS q FROM sel)
             |ORDER BY p""".stripMargin)),

    ("q112_temperature_mix",
      (s: SparkSession, d: String) => {
        // temperature-weighted mixture (α = 1/2): targets ∝ √n_g, so
        // the dominant language is downsampled hard while low-resource
        // ones keep most of their docs — the multilingual-LM sampling
        // recipe with the targets computed IN-ENGINE from observed
        // group sizes (integer isqrt ⇒ exactly recomputable), then the
        // bounded-heap stratified pick.
        graft.ext.Sharding.temperatureMix(Tables.documents(s, d), "lang",
            "doc_id", totalTarget = 300L)
          .select("doc_id", "lang")
          .orderBy("doc_id")
      },
      Some("""WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
             |w AS (SELECT lang, n, CAST(floor(sqrt(n * 1000000.0)) AS BIGINT) AS w FROM c),
             |t AS (SELECT lang, n,
             |        least(n, (300 * w) // (SELECT SUM(w) FROM w)) AS t_g
             |      FROM w),
             |r AS (SELECT d.doc_id, d.lang, t.t_g,
             |        row_number() OVER (PARTITION BY d.lang
             |          ORDER BY ((d.doc_id % 1000003) * 2654435761) % 100, d.doc_id) AS rn
             |      FROM documents d JOIN t USING (lang))
             |SELECT doc_id, lang FROM r WHERE rn <= t_g AND t_g > 0
             |ORDER BY doc_id""".stripMargin)),

    ("q113_mutual_margin_pairs",
      (s: SparkSession, d: String) => {
        // bitext-style paired-data mining: mutual best-candidate pairs
        // across the even/odd embedding slices under the ratio margin
        // (hubness-normalized). GROUND-TRUTH oracle: DuckDB recomputes
        // the full pipeline from raw vectors — all-pairs cosine, per-
        // side top-k averages, margins, mutual argmax.
        val emb = Tables.embeddings(s, d)
        graft.ext.Similarity.mutualMarginPairs(
            emb.filter(col("vec_id") % 2 === 0),
            emb.filter(col("vec_id") % 2 =!= 0),
            k = 8, minMargin = 1.05)
          .orderBy("id_a")
      },
      Some("""WITH va AS (SELECT vec_id AS id_a, CAST(embedding AS DOUBLE[]) AS v
             |           FROM embeddings WHERE vec_id % 2 = 0),
             |vb AS (SELECT vec_id AS id_b, CAST(embedding AS DOUBLE[]) AS v
             |       FROM embeddings WHERE vec_id % 2 <> 0),
             |s AS (SELECT id_a, id_b, list_cosine_similarity(va.v, vb.v) AS sim
             |      FROM va CROSS JOIN vb),
             |ka AS (SELECT id_a, id_b, sim, row_number() OVER (PARTITION BY id_a
             |         ORDER BY sim DESC, id_b) AS rk FROM s),
             |kb AS (SELECT id_a, id_b, sim, row_number() OVER (PARTITION BY id_b
             |         ORDER BY sim DESC, id_a) AS rk FROM s),
             |aavg AS (SELECT id_a, AVG(sim) AS avg_a FROM ka WHERE rk <= 8 GROUP BY 1),
             |bavg AS (SELECT id_b, AVG(sim) AS avg_b FROM kb WHERE rk <= 8 GROUP BY 1),
             |pairs AS (SELECT DISTINCT id_a, id_b, sim FROM (
             |            SELECT id_a, id_b, sim FROM ka WHERE rk <= 8
             |            UNION ALL SELECT id_a, id_b, sim FROM kb WHERE rk <= 8)),
             |m AS (SELECT p.id_a, p.id_b, p.sim,
             |        round(p.sim / ((avg_a + avg_b) / 2), 4) AS margin
             |      FROM pairs p JOIN aavg USING (id_a) JOIN bavg USING (id_b)),
             |f AS (SELECT *, row_number() OVER (PARTITION BY id_a
             |        ORDER BY margin DESC, id_b) AS rf FROM m),
             |g AS (SELECT id_a, id_b, row_number() OVER (PARTITION BY id_b
             |        ORDER BY margin DESC, id_a) AS rb FROM m)
             |SELECT f.id_a, f.id_b, f.sim, f.margin
             |FROM f JOIN g USING (id_a, id_b)
             |WHERE f.rf = 1 AND g.rb = 1 AND f.margin >= 1.05
             |ORDER BY f.id_a""".stripMargin)),

    ("q114_dup_pagerank",
      (s: SparkSession, d: String) => {
        // graph centrality over the duplication graph: PageRank in exact
        // integer arithmetic (scaled longs, integer div) so the 5-
        // iteration fixed point is bit-reproducible by any engine — the
        // oracle replays all 5 iterations in SQL. High-rank nodes are
        // the template/boilerplate sources.
        graft.ext.PageRank.ranks(
            graft.ext.Dedup.tileDupEdges(Tables.documents(s, d), "doc_id",
              "text", width = 8), iterations = 5)
          .select(col("node").as("doc_id"), col("pr"))
          .orderBy("doc_id")
      },
      Some(q114Sql)),

    ("q117_weighted_median",
      (s: SparkSession, d: String) => {
        // quantity-weighted median price (cents) per return flag: the
        // exact lower-weighted-median integer rule — no interpolation,
        // no float compare, bit-reproducible by any engine. Values
        // collapse to the (group, cents) distinct frame before the
        // cumulative window ranks them.
        graft.ext.RobustStats.weightedMedian(Tables.lineitem(s, d),
            "l_returnflag",
            floor(col("l_extendedprice") * 100 + 0.5),
            col("l_quantity"))
          .orderBy("l_returnflag")
      },
      Some("""WITH gv AS (SELECT l_returnflag AS g,
             |         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v,
             |         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
             |       FROM lineitem GROUP BY 1, 2),
             |c AS (SELECT g, v, w,
             |        SUM(w) OVER (PARTITION BY g ORDER BY v
             |          ROWS UNBOUNDED PRECEDING) AS cum,
             |        SUM(w) OVER (PARTITION BY g) AS tot FROM gv)
             |SELECT g AS l_returnflag, COUNT(*) AS n_values,
             |  CAST(MAX(tot) AS BIGINT) AS total_w,
             |  MIN(CASE WHEN 2 * cum >= tot THEN v END) AS wmedian
             |FROM c GROUP BY g
             |ORDER BY l_returnflag""".stripMargin)),

    ("q118_pack_sequences",
      (s: SparkSession, d: String) => {
        // GPT-style concat-and-chop: the corpus as one global token
        // stream chopped into 512-token training sequences, docs
        // SPLITTING across boundaries (cf. q55 where docs never split
        // and shards overflow). Distributed prefix sum + map-only
        // explode; all-integer span arithmetic both engines reproduce
        // exactly (Sharding.packSequences scaladoc).
        val toks = Tables.documents(s, d)
          .select(col("doc_id"),
            graft.ext.TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        Sharding.packSequences(toks, "doc_id", "n_tokens",
            seqLen = 512L, numBuckets = 8)
          .orderBy("doc_id", "seq_id")
      },
      Some("""WITH toks AS (SELECT doc_id,
             |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens
             |  FROM documents),
             |cum AS (SELECT doc_id, n_tokens,
             |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS BIGINT) AS c
             |  FROM toks),
             |sp AS (SELECT doc_id, n_tokens, c,
             |    UNNEST(range(c // 512, (c + n_tokens - 1) // 512 + 1)) AS seq_id
             |  FROM cum WHERE n_tokens > 0)
             |SELECT doc_id, n_tokens, CAST(seq_id AS BIGINT) AS seq_id,
             |  CAST(GREATEST(0, seq_id * 512 - c) AS BIGINT) AS doc_off,
             |  CAST(c + GREATEST(0, seq_id * 512 - c) - seq_id * 512
             |    AS BIGINT) AS seq_off,
             |  CAST(LEAST(n_tokens, (seq_id + 1) * 512 - c)
             |    - GREATEST(0, seq_id * 512 - c) AS BIGINT) AS span_len
             |FROM sp ORDER BY doc_id, seq_id""".stripMargin)),

    ("q119_pca_project",
      (s: SparkSession, d: String) => {
        // dimensionality reduction before indexing: project 64-dim
        // embeddings onto the top-8 principal components (one
        // distributed decimal-sum covariance pass + driver Jacobi;
        // projection map-only against broadcast-literal components —
        // PCA.scaladoc). Long format (vec_id, comp, proj) so the oracle
        // recomputes every value from raw vectors + the dumped model.
        PCA.project(Tables.embeddings(s, d), "vec_id", "embedding",
            q119Fit(s, d))
          .orderBy("vec_id", "comp")
      },
      Some(s"""WITH comp AS (SELECT comp, bias, list(w ORDER BY j) AS wv
             |  FROM read_parquet('$OracleAuxDir/q119_components/*.parquet')
             |  GROUP BY comp, bias),
             |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings)
             |SELECT e.vec_id, c.comp,
             |  ROUND(list_inner_product(e.x, c.wv) - c.bias, 4) AS proj
             |FROM e CROSS JOIN comp c
             |ORDER BY vec_id, comp""".stripMargin)),

    ("q122_pca_recall",
      (s: SparkSession, d: String) => {
        // reduction-quality monitor (q92/q103's shape for the PCA path):
        // per-query recall@10 of brute-force search in the 8-dim reduced
        // space against 64-dim exact truth — the continuous check that
        // the projection isn't silently eating neighborhood structure.
        // BOTH sides recompute wholly in SQL (projections from the
        // dumped model, truth from raw vectors).
        val emb = Tables.embeddings(s, d)
        val red = PCA.projectVectors(emb, "vec_id", "embedding", q119Fit(s, d))
        val probes = emb.filter(col("vec_id") % 50 === 0)
        val exact = Similarity.topKBruteForce(emb, probes, k = 10)
        val approx = Similarity.topKBruteForceD(red,
          red.filter(col("vec_id") % 50 === 0), k = 10)
        val hits = exact.select("query_id", "neighbor_id")
          .join(approx.select("query_id", "neighbor_id"),
            Seq("query_id", "neighbor_id"))
          .groupBy("query_id").agg(count(lit(1)).as("recall_hits"))
        probes.select(col("vec_id").as("query_id"))
          .join(hits, Seq("query_id"), "left")
          .select(col("query_id"),
            coalesce(col("recall_hits"), lit(0L)).as("recall_hits"),
            lit(10L).as("k"))
          .orderBy("query_id")
      },
      Some(s"""WITH comp AS (SELECT comp, bias, list(w ORDER BY j) AS wv
             |  FROM read_parquet('$OracleAuxDir/q119_components/*.parquet')
             |  GROUP BY comp, bias),
             |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
             |red AS (SELECT v.vec_id,
             |    list(ROUND(list_inner_product(v.dv, c.wv) - c.bias, 4)
             |         ORDER BY c.comp) AS pv
             |  FROM v CROSS JOIN comp c GROUP BY v.vec_id),
             |rq AS (SELECT vec_id AS query_id, pv AS qv FROM red WHERE vec_id % 50 = 0),
             |rsim AS (SELECT rq.query_id, r.vec_id AS neighbor_id,
             |    CASE WHEN list_inner_product(r.pv, r.pv) = 0
             |           OR list_inner_product(rq.qv, rq.qv) = 0 THEN 0.0
             |         ELSE list_inner_product(r.pv, rq.qv) /
             |              (sqrt(list_inner_product(r.pv, r.pv)) *
             |               sqrt(list_inner_product(rq.qv, rq.qv))) END AS sim
             |  FROM red r CROSS JOIN rq WHERE r.vec_id <> rq.query_id),
             |apk AS (SELECT query_id, neighbor_id FROM (
             |    SELECT *, row_number() OVER (PARTITION BY query_id
             |      ORDER BY sim DESC, neighbor_id) AS rnk FROM rsim)
             |  WHERE rnk <= 10),
             |q AS (SELECT vec_id AS query_id, dv AS qv FROM v WHERE vec_id % 50 = 0),
             |ex AS (SELECT q.query_id, e.vec_id AS neighbor_id,
             |    row_number() OVER (PARTITION BY q.query_id
             |      ORDER BY list_cosine_similarity(e.dv, q.qv) DESC, e.vec_id) AS rnk
             |  FROM v e CROSS JOIN q WHERE e.vec_id <> q.query_id),
             |exk AS (SELECT query_id, neighbor_id FROM ex WHERE rnk <= 10),
             |h AS (SELECT e.query_id, COUNT(*) AS recall_hits
             |  FROM exk e JOIN apk a
             |    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
             |  GROUP BY 1)
             |SELECT q.query_id,
             |  CAST(COALESCE(h.recall_hits, 0) AS BIGINT) AS recall_hits,
             |  CAST(10 AS BIGINT) AS k
             |FROM q LEFT JOIN h USING (query_id)
             |ORDER BY query_id""".stripMargin)),

    ("q120_decontaminate_bloom",
      (s: SparkSession, d: String) => {
        // q52's operator at its 100 TB shape: benchmark side treated as
        // too big to broadcast (shuffle-hash join), with the corpus's
        // pre-shuffle shingle stream cut by a bloom bitmap over the
        // benchmark shingles. Bit-identical to the exact path (false
        // positives die in the join) — the ORACLE is the exact SQL.
        // Different slice than q52 (every 89th doc, first 12 tokens) so
        // the two queries cannot mask each other.
        val docs = Tables.documents(s, d)
        val bench = docs.filter(col("doc_id") % 89 === 0)
          .select(col("doc_id"),
            array_join(slice(split(col("text"), " "), 1, 12), " ").as("text"))
        Dedup.decontaminateBloom(docs, bench, "doc_id", "text",
            n = 3, containment = 0.8)
          .orderBy("doc_id", "bench_id")
      },
      Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |mk AS (SELECT doc_id, toks,
             |  list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
             |  ELSE list_transform(range(1, len(toks) - 1),
             |         i -> array_to_string(list_slice(toks, i, i + 2), ' '))
             |  END) AS sh FROM tok),
             |btok AS (SELECT doc_id AS bench_id, list_slice(toks, 1, 12) AS toks
             |         FROM tok WHERE doc_id % 89 = 0),
             |bsh AS (SELECT bench_id,
             |  list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
             |  ELSE list_transform(range(1, len(toks) - 1),
             |         i -> array_to_string(list_slice(toks, i, i + 2), ' '))
             |  END) AS sh FROM btok)
             |SELECT c.doc_id, b.bench_id,
             |  CAST(len(list_intersect(c.sh, b.sh)) AS DOUBLE) / len(b.sh) AS containment
             |FROM mk c CROSS JOIN bsh b
             |WHERE CAST(len(list_intersect(c.sh, b.sh)) AS DOUBLE) / len(b.sh) >= 0.8
             |ORDER BY doc_id, bench_id""".stripMargin)),

    ("q125_vocab_growth",
      (s: SparkSession, d: String) => {
        // Heaps-law corpus-scaling diagnostic: cumulative docs / tokens
        // / distinct vocabulary at every-50-id checkpoints. One
        // token-grain min-agg (each type's first doc) + integer bucket
        // arithmetic + one tiny checkpoint window — all-integer output.
        TextAnalysis.vocabGrowth(Tables.documents(s, d), every = 50L)
          .orderBy("checkpoint")
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
             |fd AS (SELECT w, MIN(doc_id) AS first_doc FROM tok GROUP BY w),
             |cpv AS (SELECT ((first_doc - 1) // 50 + 1) * 50 AS cp,
             |          CAST(COUNT(*) AS BIGINT) AS new_types FROM fd GROUP BY 1),
             |cpt AS (SELECT ((doc_id - 1) // 50 + 1) * 50 AS cp,
             |          CAST(COUNT(*) AS BIGINT) AS n_docs,
             |          CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
             |        FROM documents GROUP BY 1),
             |j AS (SELECT COALESCE(cpt.cp, cpv.cp) AS checkpoint,
             |        COALESCE(n_docs, 0) AS d, COALESCE(n_tokens, 0) AS t,
             |        COALESCE(new_types, 0) AS v
             |      FROM cpt FULL JOIN cpv ON cpt.cp = cpv.cp)
             |SELECT CAST(checkpoint AS BIGINT) AS checkpoint,
             |  CAST(SUM(d) OVER w AS BIGINT) AS cum_docs,
             |  CAST(SUM(t) OVER w AS BIGINT) AS cum_tokens,
             |  CAST(SUM(v) OVER w AS BIGINT) AS vocab
             |FROM j WINDOW w AS (ORDER BY checkpoint ROWS UNBOUNDED PRECEDING)
             |ORDER BY checkpoint""".stripMargin)),

    ("q124_nb_pr_curve",
      (s: SparkSession, d: String) => {
        // threshold calibration for the corpus classifier: one-vs-rest
        // ('en') precision/recall sweep on the HELD-OUT slice (trained
        // on doc_id % 5 <> 0, evaluated on % 5 = 0) over a fixed margin
        // grid — the step that picks the routing threshold before a
        // classifier gates a 100 TB corpus. Margins come from ROUNDED
        // scores, counts are integers, so every row reproduces exactly.
        val docs = Tables.documents(s, d)
        graft.ext.NaiveBayes.prCurve(
            docs.filter(col("doc_id") % 5 =!= 0),
            docs.filter(col("doc_id") % 5 === 0),
            "lang", positive = "en",
            thresholds = Seq(-100.0, -50.0, -20.0, -10.0, -5.0, -2.0, 0.0,
              2.0, 5.0, 10.0, 20.0, 50.0, 100.0))
          .orderBy("threshold")
      },
      Some("""WITH tr AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 <> 0),
             |ev AS (SELECT doc_id, lang FROM documents WHERE doc_id % 5 = 0),
             |tw AS (SELECT lang AS label, unnest(string_split(text, ' ')) AS w FROM tr),
             |cw AS (SELECT label, w, COUNT(*) AS c FROM tw GROUP BY 1, 2),
             |cl AS (SELECT label, CAST(SUM(c) AS BIGINT) AS cl FROM cw GROUP BY 1),
             |pr AS (SELECT lang AS label, COUNT(*) AS nd FROM tr GROUP BY 1),
             |tot AS (SELECT (SELECT COUNT(DISTINCT w) FROM tw) AS v,
             |               (SELECT COUNT(*) FROM tr) AS nt),
             |dn AS (SELECT d.doc_id, w, COUNT(*) AS n
             |       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
             |             FROM documents WHERE doc_id % 5 = 0) d
             |       GROUP BY 1, 2),
             |sc AS (SELECT dn.doc_id, pr.label,
             |         round(ln(pr.nd * 1.0 / tot.nt)
             |           + SUM(dn.n * ln((COALESCE(cw.c, 0) + 1.0) / (cl.cl + tot.v))), 4) AS sp
             |       FROM dn CROSS JOIN pr
             |       LEFT JOIN cw ON cw.label = pr.label AND cw.w = dn.w
             |       JOIN cl ON cl.label = pr.label
             |       CROSS JOIN tot
             |       GROUP BY dn.doc_id, pr.label, pr.nd, tot.nt),
             |mg AS (SELECT sc.doc_id,
             |         MAX(CASE WHEN label = 'en' THEN sp END)
             |           - MAX(CASE WHEN label <> 'en' THEN sp END) AS margin,
             |         ANY_VALUE(ev.lang = 'en') AS truth
             |       FROM sc JOIN ev ON ev.doc_id = sc.doc_id
             |       GROUP BY sc.doc_id),
             |grid AS (SELECT CAST(unnest([-100.0, -50.0, -20.0, -10.0, -5.0, -2.0,
             |              0.0, 2.0, 5.0, 10.0, 20.0, 50.0, 100.0]) AS DOUBLE) AS threshold),
             |agg AS (SELECT threshold,
             |          CAST(SUM(CASE WHEN margin >= threshold AND truth THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             |          CAST(SUM(CASE WHEN margin >= threshold AND NOT truth THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             |          CAST(SUM(CASE WHEN margin < threshold AND truth THEN 1 ELSE 0 END) AS BIGINT) AS fn
             |        FROM mg CROSS JOIN grid GROUP BY threshold)
             |SELECT threshold, tp, fp, fn,
             |  CASE WHEN tp + fp = 0 THEN 0.0
             |       ELSE round(tp * 1.0 / (tp + fp), 4) END AS precision,
             |  CASE WHEN tp + fn = 0 THEN 0.0
             |       ELSE round(tp * 1.0 / (tp + fn), 4) END AS recall
             |FROM agg ORDER BY threshold""".stripMargin)),

    ("q126_contamination_profile",
      (s: SparkSession, d: String) => {
        // per-doc dirtiness: share of each doc's distinct 3-grams found
        // anywhere in the benchmark set (q52's bench: first 15 tokens of
        // every 97th doc) — the signal a pipeline thresholds on, where
        // q52 reports pair-level leakage
        val docs = Tables.documents(s, d)
        val bench = docs.filter(col("doc_id") % 97 === 0)
          .select(col("doc_id"),
            array_join(slice(split(col("text"), " "), 1, 15), " ").as("text"))
        Dedup.contaminationProfile(docs, bench, "doc_id", "text", n = 3)
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |mk AS (SELECT doc_id,
             |  list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
             |  ELSE list_transform(range(1, len(toks) - 1),
             |         i -> array_to_string(list_slice(toks, i, i + 2), ' '))
             |  END) AS sh FROM tok),
             |bt AS (SELECT list_slice(toks, 1, 15) AS toks FROM tok WHERE doc_id % 97 = 0),
             |bs AS (SELECT DISTINCT unnest(
             |  CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
             |  ELSE list_transform(range(1, len(toks) - 1),
             |         i -> array_to_string(list_slice(toks, i, i + 2), ' '))
             |  END) AS s FROM bt),
             |ex AS (SELECT doc_id, unnest(sh) AS s FROM mk)
             |SELECT ex.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
             |  CAST(COUNT(bs.s) AS BIGINT) AS n_matched,
             |  CAST(COUNT(bs.s) AS DOUBLE) / COUNT(*) AS dirty_frac
             |FROM ex LEFT JOIN bs USING (s)
             |GROUP BY ex.doc_id ORDER BY ex.doc_id""".stripMargin)),

    ("q127_source_overlap",
      (s: SparkSession, d: String) => {
        // cross-source overlap WITHOUT a cross-source join: pairwise
        // union/intersection/Jaccard of per-event-type user sets,
        // estimated from the same KMV registers q38 dumps — sketch
        // algebra only (merge + recut), O(groups² × k) total work
        val reg = graft.ext.Sketches.kmvRegisters(Tables.events(s, d),
          "event_type", col("user_id"), k = 128)
        graft.ext.Sketches.overlapMatrix(reg, "event_type", k = 128)
          .orderBy("group_a", "group_b")
      },
      // the oracle recomputes the ENTIRE matrix from the dumped register
      // table in HUGEINT — merge, recut, estimate, inclusion-exclusion
      Some(s"""WITH s AS (SELECT event_type, mins
             |           FROM read_parquet('$OracleAuxDir/q38_kmv/*.parquet')),
             |p AS (SELECT a.event_type AS group_a, b.event_type AS group_b,
             |             a.mins AS ma, b.mins AS mb
             |      FROM s a JOIN s b ON a.event_type < b.event_type),
             |m AS (SELECT group_a, group_b, ma, mb,
             |             list_sort(list_distinct(list_concat(ma, mb))) AS mu FROM p),
             |e AS (SELECT group_a, group_b,
             |  CASE WHEN len(ma) < 128 THEN CAST(len(ma) AS BIGINT)
             |       ELSE CAST((127 * 18446744073709551616::HUGEINT)
             |            / (CAST(ma[128] AS HUGEINT) + 9223372036854775808) AS BIGINT) END AS distinct_a,
             |  CASE WHEN len(mb) < 128 THEN CAST(len(mb) AS BIGINT)
             |       ELSE CAST((127 * 18446744073709551616::HUGEINT)
             |            / (CAST(mb[128] AS HUGEINT) + 9223372036854775808) AS BIGINT) END AS distinct_b,
             |  CASE WHEN len(mu) < 128 THEN CAST(len(mu) AS BIGINT)
             |       ELSE CAST((127 * 18446744073709551616::HUGEINT)
             |            / (CAST(mu[128] AS HUGEINT) + 9223372036854775808) AS BIGINT) END AS union_est
             |  FROM m),
             |f AS (SELECT group_a, group_b, distinct_a, distinct_b, union_est,
             |  greatest(CAST(0 AS BIGINT), distinct_a + distinct_b - union_est) AS inter_est
             |  FROM e)
             |SELECT group_a, group_b, distinct_a, distinct_b, union_est, inter_est,
             |  CASE WHEN union_est > 0
             |       THEN CAST(inter_est AS DOUBLE) / CAST(union_est AS DOUBLE)
             |       ELSE 0.0 END AS jaccard
             |FROM f ORDER BY group_a, group_b""".stripMargin)),

    ("q128_cosine_topk_sq",
      (s: SparkSession, d: String) => {
        val emb = Tables.embeddings(s, d)
        val queries = emb.filter(col("vec_id") % 50 === 0)
        // int8 scalar quantization: the corpus-side ANN scan reads 64
        // BYTES per vector instead of 64 floats (4× smaller index, far
        // less recall loss than PQ's 32×) — the middle rung of the
        // compression ladder. Same oracle contract as q30/q33/q91: the
        // deterministic candidate dump is re-ranked exactly.
        graft.ext.SQ.topKSq(emb, queries, k = 10, q128Fit(s, d), refine = 4)
          .orderBy("query_id", "rank")
      },
      Some(rerankOracle("q128_candidates", k = 10))),

    ("q129_sq_recall",
      (s: SparkSession, d: String) => {
        // index-quality monitor for the SQ8 path (q92's shape): per-query
        // recall@10 of byte-code ADC + exact re-rank vs brute force
        val emb = Tables.embeddings(s, d)
        val queries = emb.filter(col("vec_id") % 50 === 0)
        val exact = Similarity.topKBruteForce(emb, queries, k = 10)
        val approx = graft.ext.SQ.topKSq(emb, queries, k = 10,
          q128Fit(s, d), refine = 4)
        val hits = exact.select("query_id", "neighbor_id")
          .join(approx.select("query_id", "neighbor_id"),
            Seq("query_id", "neighbor_id"))
          .groupBy("query_id").agg(count(lit(1)).as("recall_hits"))
        queries.select(col("vec_id").as("query_id"))
          .join(hits, Seq("query_id"), "left")
          .select(col("query_id"),
            coalesce(col("recall_hits"), lit(0L)).as("recall_hits"),
            lit(10L).as("k"))
          .orderBy("query_id")
      },
      Some(s"""WITH cand AS (SELECT DISTINCT query_id, neighbor_id
             |              FROM read_parquet('$OracleAuxDir/q128_candidates/*.parquet')),
             |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
             |q AS (SELECT vec_id AS query_id, dv AS qv FROM v WHERE vec_id % 50 = 0),
             |ex AS (SELECT q.query_id, e.vec_id AS neighbor_id,
             |         row_number() OVER (PARTITION BY q.query_id
             |           ORDER BY list_cosine_similarity(e.dv, q.qv) DESC, e.vec_id) AS rnk
             |       FROM v e CROSS JOIN q WHERE e.vec_id <> q.query_id),
             |exk AS (SELECT query_id, neighbor_id FROM ex WHERE rnk <= 10),
             |ap AS (SELECT c.query_id, c.neighbor_id,
             |         row_number() OVER (PARTITION BY c.query_id
             |           ORDER BY list_cosine_similarity(cn.dv, cq.dv) DESC, c.neighbor_id) AS rnk
             |       FROM cand c JOIN v cq ON cq.vec_id = c.query_id
             |                   JOIN v cn ON cn.vec_id = c.neighbor_id),
             |apk AS (SELECT query_id, neighbor_id FROM ap WHERE rnk <= 10),
             |h AS (SELECT e.query_id, COUNT(*) AS recall_hits
             |      FROM exk e JOIN apk a
             |        ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
             |      GROUP BY 1)
             |SELECT q.query_id,
             |       CAST(COALESCE(h.recall_hits, 0) AS BIGINT) AS recall_hits,
             |       CAST(10 AS BIGINT) AS k
             |FROM q LEFT JOIN h USING (query_id)
             |ORDER BY query_id""".stripMargin)),

    ("q132_knn_join",
      (s: SparkSession, d: String) => {
        // all-corpus knn join: every vector's top-5 neighbors, IVF cells
        // auto-sized to constant occupancy, candidate join a shuffle
        // equi-join on cell — NO broadcast anywhere (the query side IS
        // the corpus). Oracle contract of q30/q33: exact re-rank of the
        // deterministic candidate dump.
        val emb = Tables.embeddings(s, d)
        Similarity.knnJoin(emb, k = 5, targetCellSize = 128, nProbe = 4)
          .orderBy("query_id", "rank")
      },
      Some(rerankOracle("q132_candidates", k = 5))),

    ("q133_heavy_tokens",
      (s: SparkSession, d: String) => {
        // corpus-frequency heavy hitters (stopword discovery) at a
        // RELATIVE threshold: ≥0.2% of all tokens, exact counts — via
        // per-partition Misra-Gries candidate summaries + exact recount
        // of candidates only, so the full vocabulary never shuffles
        val toks = Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("token"))
        graft.ext.Sketches.heavyHitters(toks, col("token"), minFreq = 0.002)
          .orderBy("value")
      },
      // the oracle is the DEFINITION (exact counts >= ceil(n * freq)) —
      // the MG sketch is provably a candidate superset, so the output is
      // partitioning-independent and fully recomputable
      Some("""WITH t AS (SELECT unnest(string_split(text, ' ')) AS v FROM documents),
             |n AS (SELECT COUNT(*) AS n FROM t),
             |c AS (SELECT v, COUNT(*) AS cnt FROM t GROUP BY v)
             |SELECT v AS value, cnt FROM c CROSS JOIN n
             |WHERE cnt >= CAST(ceil(n.n * 0.002) AS BIGINT)
             |ORDER BY value""".stripMargin)),

    ("q130_epoch_shuffle",
      (s: SparkSession, d: String) => {
        // deterministic training-order permutation + fixed-size shard
        // cut (seed varies per epoch); distributed global rank, public
        // Knuth hash — any engine replays the permutation bit-for-bit
        Sharding.epochShuffle(Tables.documents(s, d), "doc_id",
            seed = 7L, shardSize = 64L)
          .orderBy("doc_id")
      },
      Some("""WITH h AS (SELECT doc_id,
             |    ((doc_id % 1000003) + 7) * 2654435761 % 1000000007 AS shuffle_key
             |  FROM documents),
             |r AS (SELECT doc_id, shuffle_key,
             |    row_number() OVER (ORDER BY shuffle_key, doc_id) - 1 AS epoch_pos
             |  FROM h)
             |SELECT doc_id, CAST(shuffle_key AS BIGINT) AS shuffle_key,
             |       CAST(epoch_pos AS BIGINT) AS epoch_pos,
             |       CAST(epoch_pos // 64 AS BIGINT) AS shard
             |FROM r ORDER BY doc_id""".stripMargin)),

    ("q121_cluster_representatives",
      (s: SparkSession, d: String) => {
        // best-of-cluster curation: the same verified minhash clusters
        // as q85, but keeping each cluster's highest-quality member
        // (q22's score; exact ties → smallest id) instead of the
        // smallest id — of N copies of a page, keep the best copy.
        val docs = Tables.documents(s, d)
        val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
          shingleSize = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
        val clusters = Dedup.clusterPairs(pairs.select("id1", "id2"))
        Dedup.clusterRepresentatives(clusters,
            TextAnalysis.withQuality(docs)
              .select(col("doc_id"), col("quality_score")),
            "doc_id", "quality_score")
          .orderBy("cluster_id")
      },
      // GROUND-TRUTH oracle: q85's exact-Jaccard recursive-CTE closure
      // composed with q22's quality formula; rank ties break on doc_id
      Some(JaccardClosureCte + """q AS (SELECT doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
             |    CAST(length(text) AS BIGINT) AS n_chars,
             |    CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS BIGINT) AS n_punct
             |  FROM documents),
             |score AS (SELECT doc_id,
             |    0.5 * least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0)
             |      + 0.4 * (CAST(n_distinct AS DOUBLE) / n_tokens)
             |      + 0.1 * (1.0 - least((CAST(n_punct AS DOUBLE) / n_chars) * 4.0, 1.0)) AS qs
             |  FROM q),
             |rep AS (
             |  SELECT l.cluster_id, l.id, s.qs,
             |    row_number() OVER (PARTITION BY l.cluster_id
             |                       ORDER BY s.qs DESC, l.id) AS rn,
             |    COUNT(*) OVER (PARTITION BY l.cluster_id) AS cluster_size
             |  FROM lbl l JOIN score s ON l.id = s.doc_id)
             |SELECT cluster_id, id AS rep_id, qs AS rep_score,
             |  CAST(cluster_size AS BIGINT) AS cluster_size
             |FROM rep WHERE rn = 1 ORDER BY cluster_id""".stripMargin)),

    ("q87_upsample_mix",
      (s: SparkSession, d: String) => {
        // epoch-repetition mixing (weights > 1): ⌊w⌋ copies + a hash-
        // selected fractional copy, map-side explode only — the
        // complement of q77's ≤1 downsampling (Sharding.upsampleByWeight)
        val spec = Seq.tabulate(20)(i => (s"src$i", 500L + (i % 4) * 750L))
        val weights = s.createDataFrame(spec).toDF("source", "permille")
        Sharding.upsampleByWeight(Tables.documents(s, d), weights)
          .select("doc_id", "source", "copy_id")
          .orderBy("doc_id", "copy_id")
      },
      Some(("""WITH w(source, permille) AS (VALUES """ +
        Seq.tabulate(20)(i => s"('src$i', ${500 + (i % 4) * 750})").mkString(", ") +
        """),
             |j AS (SELECT d.doc_id, d.source,
             |        permille // 1000 +
             |        CASE WHEN ((doc_id % 1000003) * 2654435761) % 1000
             |                  < permille % 1000 THEN 1 ELSE 0 END AS n_copies
             |      FROM documents d JOIN w USING (source))
             |SELECT doc_id, source,
             |       unnest(range(1, n_copies + 1)) AS copy_id
             |FROM j WHERE n_copies > 0
             |ORDER BY doc_id, copy_id""").stripMargin)),

    ("q86_repeated_spans",
      (s: SparkSession, d: String) => {
        // substring-level duplication: 8-token spans in ≥2 docs with a
        // deterministic first-occurrence anchor (Dedup.repeatedSpans)
        Dedup.repeatedSpans(Tables.documents(s, d), "doc_id", "text",
            k = 8, minDocs = 2)
          .orderBy("gram")
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |g0 AS (SELECT doc_id, unnest(range(1, len(toks) - 6)) AS i, toks
             |       FROM t WHERE len(toks) >= 8),
             |g AS (SELECT doc_id AS doc, i - 1 AS pos,
             |        array_to_string(list_slice(toks, i, i + 7), ' ') AS gram FROM g0),
             |pd AS (SELECT gram, doc, COUNT(*) AS occ, MIN(pos) AS first_pos
             |       FROM g GROUP BY 1, 2)
             |SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |       CAST(SUM(occ) AS BIGINT) AS n_occurrences,
             |       MIN(doc) AS first_doc,
             |       CAST(arg_min(first_pos, doc) AS BIGINT) AS first_pos
             |FROM pd GROUP BY gram HAVING COUNT(*) >= 2
             |ORDER BY gram""".stripMargin)),

    ("q85_cluster_sizes",
      (s: SparkSession, d: String) => {
        // dedup-audit metric: the cluster-size distribution (how much of
        // the corpus sits in duplicate clusters of which size). Composes
        // the verified minhash pairs + connected components; singletons
        // come from one scalar subtraction (two 1-row aggregates cross-
        // joined — broadcast, no driver action). All-integer output.
        val docs = Tables.documents(s, d)
        val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
          shingleSize = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
        val clusters = Dedup.clusterPairs(pairs.select("id1", "id2"))
        val multi = clusters.groupBy("cluster_id")
          .agg(count(lit(1)).as("cluster_size"))
          .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        val singleton = docs.agg(count(lit(1)).as("__n_docs"))
          .crossJoin(clusters.agg(count(lit(1)).as("__n_clustered")))
          .select(lit(1L).as("cluster_size"),
            (col("__n_docs") - col("__n_clustered")).as("n_clusters"))
        multi.unionByName(singleton)
          .select(col("cluster_size"), col("n_clusters"),
            (col("cluster_size") * col("n_clusters")).as("n_docs"))
          .orderBy("cluster_size")
      },
      // GROUND-TRUTH oracle: q40's exact-Jaccard recursive-CTE closure,
      // aggregated to (size, count); singletons = docs − clustered
      Some(JaccardClosureCte + """sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lbl GROUP BY cluster_id),
             |hist AS (
             |  SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
             |  FROM sizes GROUP BY cluster_size
             |  UNION ALL
             |  SELECT CAST(1 AS BIGINT),
             |         (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM lbl))
             |SELECT cluster_size, n_clusters,
             |       CAST(cluster_size * n_clusters AS BIGINT) AS n_docs
             |FROM hist ORDER BY cluster_size""".stripMargin)),

    ("q84_editdist_neardup",
      (s: SparkSession, d: String) => {
        // edit-distance near-dup on 48-char prefixes: Pass-Join shifted-
        // segment blocking has FULL recall at maxDist, so the oracle is
        // the all-pairs ground truth — it independently verifies the
        // whole candidate-generation scheme, like q26/q31
        Dedup.editDistanceNearDupPairs(Tables.documents(s, d),
            "doc_id", "text", prefixLen = 48, maxDist = 2)
          .orderBy("id1", "id2")
      },
      Some("""WITH p AS (SELECT doc_id, substr(text, 1, 48) AS prefix
             |           FROM documents WHERE length(text) >= 48)
             |SELECT a.doc_id AS id1, b.doc_id AS id2,
             |       CAST(levenshtein(a.prefix, b.prefix) AS BIGINT) AS dist
             |FROM p a JOIN p b ON a.doc_id < b.doc_id
             |WHERE levenshtein(a.prefix, b.prefix) <= 2
             |ORDER BY id1, id2""".stripMargin)),

    ("q83_ngram_novelty",
      (s: SparkSession, d: String) => {
        // distinct-3-gram novelty per document: grams seen in no other
        // doc / total grams — integer outputs only, no float drift
        TextAnalysis.ngramNovelty(Tables.documents(s, d), n = 3)
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |g0 AS (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
             |       FROM t WHERE len(toks) >= 3),
             |g AS (SELECT DISTINCT doc_id,
             |        array_to_string(list_slice(toks, i, i + 2), ' ') AS gram FROM g0),
             |c AS (SELECT gram, COUNT(*) AS gdocs FROM g GROUP BY gram)
             |SELECT g.doc_id, COUNT(*) AS n_grams,
             |  CAST(SUM(CASE WHEN c.gdocs = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
             |FROM g JOIN c USING (gram)
             |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin)),

    ("q134_repetition",
      (s: SparkSession, d: String) => {
        // within-doc repetition signals (the Gopher/MassiveText rules):
        // top 1-/2-gram coverage + duplicated 3-/5-gram occurrence
        // fractions, rounded before the threshold flag — all four gram
        // sizes ride ONE tagged-union shuffle
        TextAnalysis.repetitionProfile(Tables.documents(s, d))
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, toks FROM tok),
             |g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
             |         i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS g
             |       FROM base WHERE n_tokens >= 2),
             |c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY 1, 2),
             |t2 AS (SELECT doc_id, MAX(c) AS top2 FROM c2 GROUP BY 1),
             |c1 AS (SELECT doc_id, w, COUNT(*) AS c
             |       FROM (SELECT doc_id, unnest(toks) AS w FROM base) GROUP BY 1, 2),
             |t1 AS (SELECT doc_id, MAX(c) AS top1 FROM c1 GROUP BY 1),
             |g3 AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
             |         i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS g
             |       FROM base WHERE n_tokens >= 3),
             |c3 AS (SELECT doc_id, g, COUNT(*) AS c FROM g3 GROUP BY 1, 2),
             |d3 AS (SELECT doc_id, SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup3
             |       FROM c3 GROUP BY 1),
             |g5 AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) - 3),
             |         i -> array_to_string(list_slice(toks, i, i + 4), ' '))) AS g
             |       FROM base WHERE n_tokens >= 5),
             |c5 AS (SELECT doc_id, g, COUNT(*) AS c FROM g5 GROUP BY 1, 2),
             |d5 AS (SELECT doc_id, SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup5
             |       FROM c5 GROUP BY 1),
             |f AS (SELECT b.doc_id, b.n_tokens,
             |  round(COALESCE(top1, 0) * 1.0 / b.n_tokens, 4) AS top_unigram_frac,
             |  round(COALESCE(top2, 0) * 2.0 / b.n_tokens, 4) AS top_bigram_frac,
             |  round(CAST(COALESCE(dup3, 0) AS DOUBLE)
             |        / greatest(b.n_tokens - 2, 1), 4) AS dup_3gram_frac,
             |  round(CAST(COALESCE(dup5, 0) AS DOUBLE)
             |        / greatest(b.n_tokens - 4, 1), 4) AS dup_5gram_frac
             |FROM base b LEFT JOIN t1 USING (doc_id) LEFT JOIN t2 USING (doc_id)
             |LEFT JOIN d3 USING (doc_id) LEFT JOIN d5 USING (doc_id))
             |SELECT doc_id, n_tokens, top_unigram_frac, top_bigram_frac,
             |  dup_3gram_frac, dup_5gram_frac,
             |  (top_unigram_frac > 0.20 OR top_bigram_frac > 0.15
             |   OR dup_3gram_frac > 0.01 OR dup_5gram_frac > 0.0) AS repetitive
             |FROM f ORDER BY doc_id""".stripMargin)),

    ("q135_zorder_layout",
      (s: SparkSession, d: String) => {
        // Z-order clustered layout over (ship day, part key): per-file
        // min/max envelopes on BOTH dimensions — the scan-pruning stats
        // a writer would publish; tight envelopes on either column mean
        // a predicate on it skips most files. Morton value is map-only
        // integer bit arithmetic; the equal-size file cut is the
        // distributed exact ntile (range repartition + bucket windows)
        val li = Tables.lineitem(s, d)
        def day = datediff(col("l_shipdate").cast("date"),
          to_date(lit("1992-01-01")))
        val rid = col("l_orderkey") * 100 + col("l_linenumber")
        Sharding.zorderLayout(li, day, col("l_partkey"), rid,
            bits = 16, nFiles = 64)
          .groupBy("file_id")
          .agg(count(lit(1)).as("n_rows"),
            min(day).cast("long").as("min_day"),
            max(day).cast("long").as("max_day"),
            min(col("l_partkey")).as("min_part"),
            max(col("l_partkey")).as("max_part"))
          .orderBy("file_id")
      },
      // the oracle replays the bit interleave (unrolled — DuckDB has no
      // loop) and the standard ntile over the unique (z, rid) order
      Some {
        // each term fully parenthesized: DuckDB's << binds LOOSER than +,
        // so a bare `a << 0 + b << 1` would chain the shifts
        val zx = (0 until 16)
          .map(i => s"((((d & 65535) >> $i) & 1) << ${2 * i})").mkString(" + ")
        val zy = (0 until 16)
          .map(i => s"((((p & 65535) >> $i) & 1) << ${2 * i + 1})").mkString(" + ")
        s"""WITH b AS (SELECT
           |    date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE)) AS d,
           |    l_partkey AS p, l_orderkey * 100 + l_linenumber AS rid
           |  FROM lineitem),
           |z AS (SELECT d, p, rid, ($zx + $zy) AS z FROM b),
           |t AS (SELECT d, p, ntile(64) OVER (ORDER BY z, rid) AS file_id FROM z)
           |SELECT CAST(file_id AS BIGINT) AS file_id,
           |  CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(MIN(d) AS BIGINT) AS min_day, CAST(MAX(d) AS BIGINT) AS max_day,
           |  MIN(p) AS min_part, MAX(p) AS max_part
           |FROM t GROUP BY file_id ORDER BY file_id""".stripMargin
      }),

    ("q136_cluster_quality",
      (s: SparkSession, d: String) => {
        // cluster-separation monitor for q74's fit: per-cell member
        // count + microunit sums of own-centroid similarity and
        // (own − second-best) margin — the linear-time silhouette
        // stand-in an index build checks before trusting its clustering.
        // Map-only O(n·k) dot arithmetic, one k-row rollup shuffle.
        graft.ext.KMeans.clusterQuality(Tables.embeddings(s, d),
            "vec_id", "embedding", q74Fit(s, d), dim = 64)
          .orderBy("cell")
      },
      // the oracle re-scores EVERY vector against the dumped centroids
      // (same sequential double dots), re-derives own/second per vector,
      // and reproduces the exact integer microunit sums
      Some(s"""WITH c AS (SELECT cell, CAST(centroid AS DOUBLE[]) AS cv
             |  FROM read_parquet('$OracleAuxDir/q74_centroids/*.parquet')),
             |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
             |scored AS (SELECT v.vec_id, c.cell, list_dot_product(v.dv, c.cv) AS dot
             |  FROM v CROSS JOIN c),
             |r AS (SELECT vec_id, cell, dot, row_number() OVER (PARTITION BY vec_id
             |    ORDER BY dot DESC, cell) AS rn FROM scored),
             |p AS (SELECT a.vec_id, a.cell, a.dot AS own, b.dot AS second
             |  FROM r a JOIN r b ON a.vec_id = b.vec_id AND a.rn = 1 AND b.rn = 2)
             |SELECT CAST(cell AS BIGINT) AS cell,
             |  CAST(COUNT(*) AS BIGINT) AS n_vectors,
             |  CAST(SUM(CAST(floor(own * 1e6) AS BIGINT)) AS BIGINT) AS sum_own_micro,
             |  CAST(SUM(CAST(floor((own - second) * 1e6) AS BIGINT)) AS BIGINT) AS sum_margin_micro,
             |  CAST(MIN(CAST(floor((own - second) * 1e6) AS BIGINT)) AS BIGINT) AS min_margin_micro
             |FROM p GROUP BY cell ORDER BY cell""".stripMargin)),

    ("q137_lsh_recall",
      (s: SparkSession, d: String) => {
        // empirical recall S-curve of the production minhash pipeline
        // vs exact all-pairs Jaccard ground truth on a 25% id-block
        // sample — the continuous index-quality probe for the TEXT dedup
        // path (q88/q92/q103 are its embedding-side siblings)
        Dedup.lshRecallAudit(Tables.documents(s, d), "doc_id", "text",
            blockSize = 50L, oneInBlocks = 4L, threshold = 0.5)
          .orderBy("j_decile")
      },
      // exact side recomputed wholly in SQL; found side is the dumped
      // pair list (deterministic for the seed) — precision is 1 by the
      // pipeline's own exact verify, so recall is the audited number
      Some(s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks
             |  FROM documents WHERE (doc_id // 50) % 4 = 0),
             |sh AS (SELECT doc_id,
             |  list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
             |  ELSE list_transform(range(1, len(toks) - 1),
             |         i -> array_to_string(list_slice(toks, i, i + 2), ' '))
             |  END) AS sh FROM tok),
             |shx AS (SELECT doc_id, unnest(sh) AS g FROM sh),
             |shn AS (SELECT doc_id, len(sh) AS n FROM sh),
             |inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS i
             |  FROM shx a JOIN shx b ON a.g = b.g AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |pairs AS (SELECT id1, id2,
             |    CAST(i AS DOUBLE) / (c1.n + c2.n - i) AS j
             |  FROM inter
             |  JOIN shn c1 ON c1.doc_id = id1
             |  JOIN shn c2 ON c2.doc_id = id2),
             |ex AS (SELECT id1, id2,
             |    least(CAST(floor(j * 10) AS BIGINT), 9) AS j_decile
             |  FROM pairs WHERE j >= 0.5),
             |f AS (SELECT id1, id2, 1 AS hit
             |  FROM read_parquet('$OracleAuxDir/q137_lsh_pairs/*.parquet')),
             |agg AS (SELECT j_decile, COUNT(*) AS n_exact,
             |    SUM(COALESCE(hit, 0)) AS n_found
             |  FROM ex LEFT JOIN f USING (id1, id2) GROUP BY j_decile)
             |SELECT j_decile, CAST(n_exact AS BIGINT) AS n_exact,
             |  CAST(n_found AS BIGINT) AS n_found,
             |  round(CAST(n_found AS DOUBLE) / n_exact, 4) AS recall
             |FROM agg ORDER BY j_decile""".stripMargin)),

    ("q138_zipf_fit",
      (s: SparkSession, d: String) => {
        // Zipf-law OLS over the top-200 term frequencies (slope ≈ −1 =
        // natural language; flat = boilerplate): log points quantize to
        // integer 1e4-units before summing, so the regression sums are
        // exact and the fit is one double expression over them
        TextAnalysis.zipfFit(Tables.documents(s, d), topV = 200)
      },
      Some("""WITH t AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
             |c AS (SELECT w, COUNT(*) AS cnt FROM t GROUP BY w),
             |top AS (SELECT w, cnt FROM c ORDER BY cnt DESC, w LIMIT 200),
             |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rank FROM top),
             |p AS (SELECT CAST(round(ln(rank) * 10000) AS BIGINT) AS x4,
             |             CAST(round(ln(cnt) * 10000) AS BIGINT) AS y4 FROM r),
             |a AS (SELECT COUNT(*) AS n, SUM(x4) AS sx, SUM(y4) AS sy,
             |             SUM(x4*x4) AS sxx, SUM(x4*y4) AS sxy, SUM(y4*y4) AS syy
             |      FROM p)
             |SELECT CAST(n AS BIGINT) AS n_terms,
             |  round(CAST(n*sxy - sx*sy AS DOUBLE)
             |        / CAST(n*sxx - sx*sx AS DOUBLE), 4) AS slope,
             |  round((CAST(sy AS DOUBLE)
             |         - (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE))
             |           * CAST(sx AS DOUBLE)) / (CAST(n AS DOUBLE) * 10000.0), 4) AS intercept,
             |  round((CAST(n*sxy - sx*sy AS DOUBLE) * CAST(n*sxy - sx*sy AS DOUBLE))
             |        / (CAST(n*sxx - sx*sx AS DOUBLE)
             |           * CAST(n*syy - sy*sy AS DOUBLE)), 4) AS r2
             |FROM a""".stripMargin)),

    ("q139_quality_drift",
      (s: SparkSession, d: String) => {
        // PSI drift between the even- and odd-id corpus halves (the
        // yesterday-vs-today monitor shape): per-bin counts + the
        // (p_a − p_b)·ln(p_a/p_b) contribution in exact 1e-8 units;
        // each side is one map-side bucket count, totals broadcast
        val docs = Tables.documents(s, d)
        TextAnalysis.qualityDrift(
            docs.filter(col("doc_id") % 2 === 0),
            docs.filter(col("doc_id") % 2 === 1), buckets = 10)
          .orderBy("bucket")
      },
      Some("""WITH q AS (SELECT doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
             |    CAST(length(text) AS BIGINT) AS n_chars,
             |    CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS BIGINT) AS n_punct
             |  FROM documents WHERE text IS NOT NULL),
             |score AS (SELECT doc_id,
             |    0.5 * least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0)
             |      + 0.4 * (CAST(n_distinct AS DOUBLE) / n_tokens)
             |      + 0.1 * (1.0 - least((CAST(n_punct AS DOUBLE) / n_chars) * 4.0, 1.0)) AS qs
             |  FROM q),
             |bkt AS (SELECT doc_id, least(CAST(floor(qs * 10) AS BIGINT), 9) AS bucket
             |  FROM score),
             |ca AS (SELECT bucket, COUNT(*) AS n_a FROM bkt WHERE doc_id % 2 = 0 GROUP BY 1),
             |cb AS (SELECT bucket, COUNT(*) AS n_b FROM bkt WHERE doc_id % 2 = 1 GROUP BY 1),
             |grid AS (SELECT unnest(range(0, 10)) AS bucket),
             |j AS (SELECT g.bucket, COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
             |  FROM grid g LEFT JOIN ca ON ca.bucket = g.bucket
             |  LEFT JOIN cb ON cb.bucket = g.bucket),
             |t AS (SELECT SUM(n_a) AS ta, SUM(n_b) AS tb FROM j),
             |p AS (SELECT bucket, n_a, n_b,
             |    CAST(n_a + 1 AS DOUBLE) / (ta + 10) AS pa,
             |    CAST(n_b + 1 AS DOUBLE) / (tb + 10) AS pb
             |  FROM j CROSS JOIN t)
             |SELECT CAST(bucket AS BIGINT) AS bucket,
             |  CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
             |  CAST(round((pa - pb) * ln(pa / pb) * 1e8) AS BIGINT) AS psi_micro8
             |FROM p ORDER BY bucket""".stripMargin)),

    ("q140_cosine_topk_mplsh",
      (s: SparkSession, d: String) => {
        // multi-probe LSH top-k: 4 tables × (8+1) query-side probes in
        // place of q30's 16 single-probe tables — the corpus-side index
        // (the 10⁹-row part at 100 TB) is 4× smaller at comparable
        // recall, and the extra probes are arithmetic on the broadcast
        // query side. Same oracle contract as q30: exact re-rank of the
        // deterministic candidate dump.
        val emb = Tables.embeddings(s, d)
        Similarity.topKLshMultiProbe(emb,
            emb.filter(col("vec_id") % 50 === 0), k = 10,
            numTables = 4, bitsPerTable = 8)
          .orderBy("query_id", "rank")
      },
      Some(rerankOracle("q140_candidates", k = 10))),

    ("q141_ring_negatives",
      (s: SparkSession, d: String) => {
        // contrastive training pairs: 3 hard-ish negatives per doc from
        // its 16-token length band via the seeded ring — every doc is a
        // negative exactly min(3, n_b−1) times, the pairing replays from
        // (ids, seed) with no RNG state, and a new seed re-deals epochs
        Sharding.ringNegatives(Tables.documents(s, d), "doc_id",
            expr("CAST(size(split(text, ' ')) div 16 AS BIGINT)"),
            k = 3, seed = 7L)
          .orderBy("anchor_id", "neg_rank")
      },
      Some("""WITH b AS (SELECT doc_id AS anchor_id,
             |    CAST(len(string_split(text, ' ')) // 16 AS BIGINT) AS bucket,
             |    ((doc_id % 1000003) * 15 % 1000003) * 2654435761 % 1000000007 AS h
             |  FROM documents),
             |p AS (SELECT anchor_id, bucket,
             |    row_number() OVER (PARTITION BY bucket ORDER BY h, anchor_id) - 1 AS pos,
             |    COUNT(*) OVER (PARTITION BY bucket) AS n
             |  FROM b),
             |e AS (SELECT anchor_id, bucket, pos, n,
             |    unnest(range(1, least(3, n - 1) + 1)) AS neg_rank
             |  FROM p WHERE n > 1)
             |SELECT e.anchor_id, CAST(e.neg_rank AS BIGINT) AS neg_rank,
             |  p2.anchor_id AS negative_id, e.bucket
             |FROM e JOIN p p2
             |  ON p2.bucket = e.bucket AND p2.pos = (e.pos + e.neg_rank) % e.n
             |ORDER BY e.anchor_id, e.neg_rank""".stripMargin)),

    ("q142_dq_audit",
      (s: SparkSession, d: String) => {
        // the per-batch data-quality gate: row-level rules fuse into ONE
        // scan per table (a single conditional-sum aggregate melted by
        // stack), referential checks are one anti-join each against the
        // distinct key set, uniqueness is count vs exact distinct — the
        // report is a union of 1-row frames, all-integer output
        import graft.ext.DataAudit
        val li = Tables.lineitem(s, d)
        val ord = Tables.orders(s, d)
        val cust = Tables.customer(s, d)
        DataAudit.audit(Seq(
            DataAudit.rowRules(li, Seq(
              "li_discount_range" -> (col("l_discount") < 0 || col("l_discount") > 0.1),
              "li_discount_watch" -> (col("l_discount") > 0.05),
              "li_quantity_range" -> (col("l_quantity") < 1 || col("l_quantity") > 50),
              "li_price_positive" -> (col("l_extendedprice") <= 0))),
            DataAudit.rowRules(ord, Seq(
              "ord_totalprice_positive" -> (col("o_totalprice") <= 0),
              "ord_status_domain" ->
                !col("o_orderstatus").isin("O", "F", "P"))),
            DataAudit.orphans(li, col("l_orderkey"), ord, col("o_orderkey"),
              "li_orphan_orderkey"),
            DataAudit.orphans(ord, col("o_custkey"), cust, col("c_custkey"),
              "ord_orphan_custkey"),
            DataAudit.duplicateKeys(ord, col("o_orderkey"), "ord_dup_orderkey")))
          .orderBy("rule")
      },
      Some("""WITH r1 AS (SELECT
             |    CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
             |    CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS b,
             |    CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS c,
             |    CAST(SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS e,
             |    CAST(COUNT(*) AS BIGINT) AS n FROM lineitem),
             |r2 AS (SELECT
             |    CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS a,
             |    CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT) AS b,
             |    CAST(COUNT(*) AS BIGINT) AS n FROM orders),
             |orph1 AS (SELECT
             |    CAST((SELECT COUNT(*) FROM lineitem l
             |          WHERE NOT EXISTS (SELECT 1 FROM orders o
             |                            WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT) AS v,
             |    CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n),
             |orph2 AS (SELECT
             |    CAST((SELECT COUNT(*) FROM orders o
             |          WHERE NOT EXISTS (SELECT 1 FROM customer c
             |                            WHERE c.c_custkey = o.o_custkey)) AS BIGINT) AS v,
             |    CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n),
             |dup AS (SELECT CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS v,
             |    CAST(COUNT(*) AS BIGINT) AS n FROM orders),
             |rep AS (
             |  SELECT 'li_discount_range' AS rule, a AS violations, n AS checked FROM r1
             |  UNION ALL SELECT 'li_discount_watch', b, n FROM r1
             |  UNION ALL SELECT 'li_quantity_range', c, n FROM r1
             |  UNION ALL SELECT 'li_price_positive', e, n FROM r1
             |  UNION ALL SELECT 'ord_totalprice_positive', a, n FROM r2
             |  UNION ALL SELECT 'ord_status_domain', b, n FROM r2
             |  UNION ALL SELECT 'li_orphan_orderkey', v, n FROM orph1
             |  UNION ALL SELECT 'ord_orphan_custkey', v, n FROM orph2
             |  UNION ALL SELECT 'ord_dup_orderkey', v, n FROM dup)
             |SELECT rule, violations, checked FROM rep ORDER BY rule""".stripMargin)),

    ("q143_pmi_collocations",
      (s: SparkSession, d: String) => {
        // collocation mining: top-50 adjacent pairs by PMI (≥5 occ.) —
        // multi-word expressions for tokenizer merge seeding and
        // boilerplate phrase detection; rounded before the sort so the
        // cut is engine-stable
        TextAnalysis.pmiCollocations(Tables.documents(s, d),
            minCount = 5L, topK = 50)
          .orderBy(col("pmi").desc, col("t1"), col("t2"))
      },
      Some("""WITH tok AS (SELECT string_split(text, ' ') AS toks FROM documents),
             |uni AS (SELECT unnest(toks) AS t FROM tok),
             |uc AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY t),
             |bi AS (SELECT unnest(list_transform(range(1, len(toks)),
             |         i -> struct_pack(t1 := toks[i], t2 := toks[i + 1]))) AS p
             |       FROM tok WHERE len(toks) >= 2),
             |bc AS (SELECT p.t1 AS t1, p.t2 AS t2, CAST(COUNT(*) AS BIGINT) AS c_xy
             |       FROM bi GROUP BY 1, 2 HAVING COUNT(*) >= 5),
             |tot AS (SELECT (SELECT SUM(c) FROM uc) AS nu,
             |               (SELECT SUM(greatest(len(toks) - 1, 0)) FROM tok) AS nb),
             |scored AS (SELECT bc.t1, bc.t2, bc.c_xy, x.c AS c_x, y.c AS c_y,
             |    round(ln((CAST(bc.c_xy AS DOUBLE) * nu * nu)
             |             / (CAST(nb AS DOUBLE) * x.c * y.c)), 4) AS pmi
             |  FROM bc JOIN uc x ON x.t = bc.t1 JOIN uc y ON y.t = bc.t2
             |  CROSS JOIN tot)
             |SELECT t1, t2, c_xy, c_x, c_y, pmi
             |FROM scored ORDER BY pmi DESC, t1, t2 LIMIT 50""".stripMargin)),

    ("q144_nb_reliability",
      (s: SparkSession, d: String) => {
        // calibration diagram for q124's classifier: margin bands vs
        // empirical positive rate — read BEFORE picking the threshold
        // (a threshold means nothing if the bands aren't ordered)
        val docs = Tables.documents(s, d)
        graft.ext.NaiveBayes.reliability(
            docs.filter(col("doc_id") % 5 =!= 0),
            docs.filter(col("doc_id") % 5 === 0),
            "lang", positive = "en", binWidth = 5.0, maxBin = 10)
          .orderBy("bin")
      },
      Some("""WITH tr AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 <> 0),
             |ev AS (SELECT doc_id, lang FROM documents WHERE doc_id % 5 = 0),
             |tw AS (SELECT lang AS label, unnest(string_split(text, ' ')) AS w FROM tr),
             |cw AS (SELECT label, w, COUNT(*) AS c FROM tw GROUP BY 1, 2),
             |cl AS (SELECT label, CAST(SUM(c) AS BIGINT) AS cl FROM cw GROUP BY 1),
             |pr AS (SELECT lang AS label, COUNT(*) AS nd FROM tr GROUP BY 1),
             |tot AS (SELECT (SELECT COUNT(DISTINCT w) FROM tw) AS v,
             |               (SELECT COUNT(*) FROM tr) AS nt),
             |dn AS (SELECT d.doc_id, w, COUNT(*) AS n
             |       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
             |             FROM documents WHERE doc_id % 5 = 0) d
             |       GROUP BY 1, 2),
             |sc AS (SELECT dn.doc_id, pr.label,
             |         round(ln(pr.nd * 1.0 / tot.nt)
             |           + SUM(dn.n * ln((COALESCE(cw.c, 0) + 1.0) / (cl.cl + tot.v))), 4) AS sp
             |       FROM dn CROSS JOIN pr
             |       LEFT JOIN cw ON cw.label = pr.label AND cw.w = dn.w
             |       JOIN cl ON cl.label = pr.label
             |       CROSS JOIN tot
             |       GROUP BY dn.doc_id, pr.label, pr.nd, tot.nt),
             |mg AS (SELECT sc.doc_id,
             |         MAX(CASE WHEN label = 'en' THEN sp END)
             |           - MAX(CASE WHEN label <> 'en' THEN sp END) AS margin,
             |         ANY_VALUE(ev.lang = 'en') AS truth
             |       FROM sc JOIN ev ON ev.doc_id = sc.doc_id
             |       GROUP BY sc.doc_id)
             |SELECT CAST(least(greatest(floor(margin / 5.0), -10), 10) AS BIGINT) AS bin,
             |  CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(CASE WHEN truth THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
             |  round(CAST(SUM(CASE WHEN truth THEN 1 ELSE 0 END) AS DOUBLE)
             |        / COUNT(*), 4) AS frac_true
             |FROM mg GROUP BY 1 ORDER BY bin""".stripMargin)),

    ("q145_mmr_rerank",
      (s: SparkSession, d: String) => {
        // diversified retrieval: greedy MMR over each query's exact
        // top-20 (λ=0.7, μ=0.3), 5 picks — relevance traded against
        // redundancy; every greedy step rounds before its argmax, so
        // the selection is a pure function of the vectors
        val emb = Tables.embeddings(s, d)
        Similarity.mmrRerank(emb, emb.filter(col("vec_id") % 50 === 0),
            k = 5, nCandidates = 20, lambda = 0.7, mu = 0.3)
          .orderBy("query_id", "mmr_rank")
      },
      // GROUND-TRUTH oracle: all 5 greedy steps unrolled in SQL from
      // raw vectors (the q114 discipline) — candidates, pairwise sims,
      // and every pick recomputed independently
      Some {
        val steps = (2 to 5).map { i =>
          s"""p$i AS (SELECT c.query_id, c.neighbor_id, c.sim,
             |    round(0.7 * c.sim - 0.3 * ms.m, 4) AS score,
             |    row_number() OVER (PARTITION BY c.query_id
             |      ORDER BY round(0.7 * c.sim - 0.3 * ms.m, 4) DESC, c.neighbor_id) AS rn
             |  FROM cand c
             |  JOIN (SELECT ps.query_id, ps.ca AS neighbor_id, MAX(ps.sim_ab) AS m
             |        FROM ps JOIN sel${i - 1} s
             |          ON s.query_id = ps.query_id AND s.neighbor_id = ps.cb
             |        GROUP BY 1, 2) ms
             |    ON ms.query_id = c.query_id AND ms.neighbor_id = c.neighbor_id
             |  WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} s
             |    WHERE s.query_id = c.query_id AND s.neighbor_id = c.neighbor_id)),
             |s$i AS (SELECT query_id, neighbor_id, sim, score, $i AS mmr_rank
             |  FROM p$i WHERE rn = 1),
             |sel$i AS (SELECT * FROM sel${i - 1} UNION ALL SELECT * FROM s$i)""".stripMargin
        }.mkString(",\n")
        s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
           |q AS (SELECT vec_id AS query_id, dv AS qv FROM v WHERE vec_id % 50 = 0),
           |ex0 AS (SELECT q.query_id, e.vec_id AS neighbor_id,
           |    list_cosine_similarity(e.dv, q.qv) AS sim,
           |    row_number() OVER (PARTITION BY q.query_id
           |      ORDER BY list_cosine_similarity(e.dv, q.qv) DESC, e.vec_id) AS rn
           |  FROM v e CROSS JOIN q WHERE e.vec_id <> q.query_id),
           |cand AS (SELECT query_id, neighbor_id, sim FROM ex0 WHERE rn <= 20),
           |ps AS (SELECT c1.query_id, c1.neighbor_id AS ca, c2.neighbor_id AS cb,
           |    list_cosine_similarity(va.dv, vb.dv) AS sim_ab
           |  FROM cand c1 JOIN cand c2 ON c1.query_id = c2.query_id
           |    AND c1.neighbor_id <> c2.neighbor_id
           |  JOIN v va ON va.vec_id = c1.neighbor_id
           |  JOIN v vb ON vb.vec_id = c2.neighbor_id),
           |p1 AS (SELECT query_id, neighbor_id, sim, round(0.7 * sim, 4) AS score,
           |    row_number() OVER (PARTITION BY query_id
           |      ORDER BY round(0.7 * sim, 4) DESC, neighbor_id) AS rn
           |  FROM cand),
           |s1 AS (SELECT query_id, neighbor_id, sim, score, 1 AS mmr_rank
           |  FROM p1 WHERE rn = 1),
           |sel1 AS (SELECT * FROM s1),
           |$steps
           |SELECT query_id, CAST(mmr_rank AS BIGINT) AS mmr_rank, neighbor_id,
           |  sim, score AS mmr_score
           |FROM sel5 ORDER BY query_id, mmr_rank""".stripMargin
      }),

    ("q146_rrf_fusion",
      (s: SparkSession, d: String) => {
        // hybrid retrieval: the sparse channel (BM25 over text) and the
        // dense channel (exact cosine over embeddings) each produce a
        // per-query top-20, fused by reciprocal-rank into one top-10 —
        // rank-only fusion, so the channels' incomparable score scales
        // never meet. Fusion inputs are O(queries × 20) rows: the
        // corpus-sized work stays inside each channel's own scale path.
        val docs = Tables.documents(s, d)
        val emb = Tables.embeddings(s, d)
        val lex = Retrieval.bm25TopK(docs,
            Retrieval.probeQueries(docs, every = 50, width = 8), k = 20)
          .select("query_id", "doc_id", "rank")
        val den = Similarity.topKBruteForce(emb,
            emb.filter(col("vec_id") % 50 === 0), k = 20)
          .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
        Retrieval.rrfFuse(Seq(lex, den), k = 10)
          .orderBy("query_id", "rank")
      },
      // full recomputation oracle: both channels re-derived in SQL
      // (q105's BM25 algebra at every=50/k=20; q29's cosine kernel at
      // k=20), fused with the same integer floor-division contribution
      // 10^12 // (60 + rank) — no floating point anywhere in the fusion
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |dl AS (SELECT doc_id, len(toks) AS dl FROM t),
             |tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
             |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
             |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
             |st AS (SELECT COUNT(*) AS n_docs, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
             |q AS (SELECT DISTINCT doc_id AS query_id,
             |        unnest(list_distinct(list_slice(toks, 1, 8))) AS term
             |      FROM t WHERE doc_id % 50 = 0),
             |sc AS (SELECT q.query_id, tf.doc_id,
             |         round(SUM(ln(1.0 + (st.n_docs - df.df + 0.5) / (df.df + 0.5))
             |           * (tf.tf * (1.2 + 1.0) /
             |              (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl)))), 4) AS score
             |       FROM q JOIN tf USING (term) JOIN df USING (term)
             |       JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN st
             |       GROUP BY 1, 2),
             |lex AS (SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
             |          ORDER BY score DESC, doc_id) AS rank
             |        FROM sc WHERE query_id <> doc_id QUALIFY rank <= 20),
             |qv AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
             |       FROM embeddings WHERE vec_id % 50 = 0),
             |den0 AS (SELECT q.query_id, e.vec_id AS doc_id,
             |           list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS sim
             |         FROM embeddings e CROSS JOIN qv q WHERE e.vec_id <> q.query_id),
             |den AS (SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
             |          ORDER BY sim DESC, doc_id) AS rank
             |        FROM den0 QUALIFY rank <= 20),
             |u AS (SELECT query_id, doc_id, 1000000000000 // (60 + rank) AS contrib FROM lex
             |      UNION ALL
             |      SELECT query_id, doc_id, 1000000000000 // (60 + rank) FROM den),
             |f AS (SELECT query_id, doc_id, CAST(SUM(contrib) AS BIGINT) AS rrf_units
             |      FROM u GROUP BY 1, 2),
             |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
             |        ORDER BY rrf_units DESC, doc_id) AS rank FROM f)
             |SELECT query_id, doc_id, rrf_units, CAST(rank AS BIGINT) AS rank
             |FROM r WHERE rank <= 10
             |ORDER BY query_id, rank""".stripMargin)),

    ("q147_containment",
      (s: SparkSession, d: String) => {
        // asymmetric containment dedup: the smaller shingle set ≥60%
        // inside the bigger one — the quoted-whole / aggregator-page
        // duplication Jaccard dedup is blind to. Exact counts off the
        // shingle inverted index (one self-join + hash agg); uncapped
        // here (the oracle's exact regime) — maxPostingLen caps the
        // boilerplate-shingle blowup at corpus scale.
        Dedup.containmentPairs(Tables.documents(s, d), "doc_id", "text",
            threshold = 0.6, shingleSize = 3)
          .orderBy("id_small", "id_big")
      },
      // GROUND-TRUTH oracle: all-pairs exact 3-shingle containment with
      // the same smaller-set orientation (size, then id, lexicographic).
      // Shingle semantics mirror Dedup.shingles (q26's contract): space
      // split, word 3-grams, short docs collapse to one whole-text
      // shingle; the engine's 64-bit hashed shingles are set-equivalent
      Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |sh AS (SELECT doc_id,
             |  unnest(list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
             |  ELSE list_transform(range(1, len(toks) - 1),
             |         i -> array_to_string(list_slice(toks, i, i + 2), ' '))
             |  END)) AS s FROM tok),
             |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
             |inter AS (SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS inter
             |          FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id
             |          GROUP BY 1, 2),
             |j AS (SELECT i.ida, i.idb, i.inter, sa.sz AS sza, sb.sz AS szb
             |      FROM inter i JOIN sz sa ON sa.doc_id = i.ida
             |      JOIN sz sb ON sb.doc_id = i.idb),
             |o AS (SELECT CASE WHEN sza <= szb THEN ida ELSE idb END AS id_small,
             |             CASE WHEN sza <= szb THEN idb ELSE ida END AS id_big,
             |             least(sza, szb) AS sz_small, greatest(sza, szb) AS sz_big,
             |             CAST(inter AS DOUBLE) / least(sza, szb) AS containment
             |      FROM j)
             |SELECT id_small, id_big, sz_small, sz_big, containment
             |FROM o WHERE containment >= 0.6
             |ORDER BY id_small, id_big""".stripMargin)),

    ("q148_density_prune",
      (s: SparkSession, d: String) => {
        // prototypicality pruning over q104's semantic cells: within
        // each cell, the 20% of members closest to the cell centroid
        // drop first (Sorscher et al.'s keep-the-hard-examples rule) —
        // the shrink-to-token-budget step after semantic dedup. Exact
        // integer centroid sums + sequential double dots + floor-micro
        // ranking make the kept set engine-reproducible.
        Similarity.densityPrune(Tables.embeddings(s, d), q104Cells(s, d),
            dropPct = 20)
          .withColumnRenamed("id", "vec_id")
          .orderBy("vec_id")
      },
      // the oracle recomputes everything from the dumped cells + raw
      // vectors: floor-microunit per-dim sums, one exact division per
      // centroid dim, the same three-dot cosine, the same int64
      // ceil-division drop count
      Some(s"""WITH c AS (SELECT id, cell
             |  FROM read_parquet('$OracleAuxDir/q104_cells/*.parquet')),
             |v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
             |m AS (SELECT c.cell, v.id, v.dv FROM c JOIN v USING (id)),
             |melt AS (SELECT cell, id, unnest(dv) AS x,
             |         unnest(range(1, len(dv) + 1)) AS dim FROM m),
             |sums AS (SELECT cell, dim, SUM(CAST(floor(x * 1e6) AS BIGINT)) AS sm
             |         FROM melt GROUP BY 1, 2),
             |cnt AS (SELECT cell, COUNT(*) AS n_cell FROM m GROUP BY 1),
             |cent AS (SELECT s.cell, n.n_cell,
             |           list(CAST(s.sm AS DOUBLE) / n.n_cell ORDER BY s.dim) AS cv
             |         FROM sums s JOIN cnt n USING (cell) GROUP BY 1, 2),
             |sc AS (SELECT m.id, m.cell, ce.n_cell,
             |         CASE WHEN list_inner_product(m.dv, m.dv) = 0
             |                OR list_inner_product(ce.cv, ce.cv) = 0 THEN 0.0
             |              ELSE list_inner_product(m.dv, ce.cv) /
             |                   (sqrt(list_inner_product(m.dv, m.dv)) *
             |                    sqrt(list_inner_product(ce.cv, ce.cv))) END AS sim
             |       FROM m JOIN cent ce USING (cell)),
             |r AS (SELECT id, cell, n_cell,
             |        CAST(floor(sim * 1e6) AS BIGINT) AS proto_micro,
             |        row_number() OVER (PARTITION BY cell
             |          ORDER BY CAST(floor(sim * 1e6) AS BIGINT) DESC, id) AS proto_rank
             |      FROM sc)
             |SELECT id AS vec_id, cell, CAST(n_cell AS BIGINT) AS n_cell, proto_micro,
             |  CAST(proto_rank AS BIGINT) AS proto_rank,
             |  proto_rank > least((n_cell * 20 + 99) // 100, n_cell - 1) AS kept
             |FROM r ORDER BY vec_id""".stripMargin)),

    ("q149_weighted_sample",
      (s: SparkSession, d: String) => {
        // weighted sampling without replacement (Efraimidis-Spirakis
        // exponential race): per language, 25 docs weighted by length —
        // deterministic (Knuth-residue uniform + rounded-ln key), so
        // the sampled training mix re-deals identically on any engine.
        // Selection is the bounded per-stratum heap: O(strata × k)
        // shuffle, never a per-stratum sort of the corpus.
        Sharding.weightedSample(Tables.documents(s, d), "lang", "n_chars",
            k = 25, idCol = "doc_id", seed = 42L)
          .withColumnRenamed("id", "doc_id")
          .orderBy("stratum", "rank")
      },
      // full recomputation: same residue hash, same u, same rounded
      // exponential key, same (e_units, id) order
      Some(weightedSampleOracle)),

    ("q150_weighted_jaccard",
      (s: SparkSession, d: String) => {
        // idf-weighted near-dup pairs: shared rare shingles dominate,
        // shared boilerplate barely counts — the weighted-set dedup
        // template crawls need. Exact integer idf units off the same
        // inverted index as q147; one double division per pair.
        Dedup.weightedJaccardPairs(Tables.documents(s, d), "doc_id", "text",
            threshold = 0.5, shingleSize = 3)
          .orderBy("id1", "id2")
      },
      // GROUND-TRUTH oracle: all-pairs weighted Jaccard from string
      // shingles with the identical round(ln(N/df)*1e6) quantization
      Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |sh AS (SELECT doc_id,
             |  unnest(list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
             |  ELSE list_transform(range(1, len(toks) - 1),
             |         i -> array_to_string(list_slice(toks, i, i + 2), ' '))
             |  END)) AS s FROM tok),
             |nn AS (SELECT COUNT(*) AS n FROM documents),
             |dfq AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY 1),
             |idf AS (SELECT s,
             |    CAST(round(ln(CAST((SELECT n FROM nn) AS DOUBLE) / df) * 1e6) AS BIGINT) AS w
             |  FROM dfq),
             |sw AS (SELECT doc_id, SUM(w) AS sw FROM sh JOIN idf USING (s) GROUP BY 1),
             |shared AS (SELECT a.doc_id AS id1, b.doc_id AS id2, SUM(i.w) AS sh_w
             |           FROM sh a JOIN sh b USING (s) JOIN idf i USING (s)
             |           WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
             |j AS (SELECT sd.id1, sd.id2,
             |        CAST(sd.sh_w AS DOUBLE) / (wa.sw + wb.sw - sd.sh_w) AS wjaccard
             |      FROM shared sd JOIN sw wa ON wa.doc_id = sd.id1
             |      JOIN sw wb ON wb.doc_id = sd.id2)
             |SELECT id1, id2, wjaccard FROM j WHERE wjaccard >= 0.5
             |ORDER BY id1, id2""".stripMargin)),

    ("q151_leakage_split",
      (s: SparkSession, d: String) => {
        // leakage-safe train/val/test split: every near-dup CLUSTER
        // moves to one split (assignment hashes the component-min
        // representative), so a test doc can never have a train-side
        // near-duplicate — the split that makes eval numbers trustable.
        // Components over the verified minhash pairs; singletons root at
        // themselves, reproducing the plain per-doc split exactly.
        val docs = Tables.documents(s, d)
        val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
          shingleSize = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
        Sharding.leakageSafeSplit(docs, pairs, "doc_id")
          .orderBy("doc_id")
      },
      // GROUND-TRUTH oracle: q85's exact-Jaccard recursive-CTE closure
      // to component-min roots + the identical modular split hash
      Some(JaccardClosureCte + """rooted AS (SELECT d.doc_id,
             |    coalesce(l.cluster_id, d.doc_id) AS cluster_id
             |  FROM documents d LEFT JOIN lbl l ON l.id = d.doc_id),
             |bk AS (SELECT doc_id, cluster_id,
             |    (cluster_id % 1000003) * 2654435761 % 100 AS b FROM rooted)
             |SELECT doc_id, cluster_id,
             |  CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
             |       ELSE 'test' END AS split
             |FROM bk ORDER BY doc_id""".stripMargin)),

    ("q152_split_leakage",
      (s: SparkSession, d: String) => {
        // the audit q151 exists to pass: near-dup pairs straddling a
        // split boundary, per scheme. The naive per-doc hash split
        // leaks (cross pairs > 0 whenever dup clusters exist); the
        // cluster-aware split is leak-free BY CONSTRUCTION (0 rows is
        // the contract, and this query proves it against the same pair
        // list). All-integer 2-row output.
        val docs = Tables.documents(s, d)
        val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
          shingleSize = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
        val naive = Sharding.assignSplit(
          docs.select(col("doc_id")), "doc_id")
        val safe = Sharding.leakageSafeSplit(docs, pairs, "doc_id")
          .select("doc_id", "split")
        def crossCount(splits: DataFrame, scheme: String): DataFrame =
          pairs.select("id1", "id2")
            .join(splits.select(col("doc_id").as("id1"), col("split").as("s1")), "id1")
            .join(splits.select(col("doc_id").as("id2"), col("split").as("s2")), "id2")
            .agg(count(lit(1)).as("n_pairs"),
              coalesce(sum(when(col("s1") =!= col("s2"), 1L).otherwise(0L)),
                lit(0L)).as("n_cross"))
            .select(lit(scheme).as("scheme"), col("n_pairs"), col("n_cross"))
        crossCount(naive, "by_doc").unionByName(crossCount(safe, "by_cluster"))
          .orderBy("scheme")
      },
      Some(JaccardClosureCte + """rooted AS (SELECT d.doc_id,
             |    coalesce(l.cluster_id, d.doc_id) AS cluster_id
             |  FROM documents d LEFT JOIN lbl l ON l.id = d.doc_id),
             |sp AS (SELECT doc_id,
             |    CASE WHEN (doc_id % 1000003) * 2654435761 % 100 < 90 THEN 'train'
             |         WHEN (doc_id % 1000003) * 2654435761 % 100 < 95 THEN 'val'
             |         ELSE 'test' END AS s_doc,
             |    CASE WHEN (cluster_id % 1000003) * 2654435761 % 100 < 90 THEN 'train'
             |         WHEN (cluster_id % 1000003) * 2654435761 % 100 < 95 THEN 'val'
             |         ELSE 'test' END AS s_cluster
             |  FROM rooted),
             |j AS (SELECT a.s_doc AS d1, b.s_doc AS d2,
             |        a.s_cluster AS c1, b.s_cluster AS c2
             |      FROM pairs p JOIN sp a ON a.doc_id = p.id1
             |      JOIN sp b ON b.doc_id = p.id2)
             |SELECT 'by_cluster' AS scheme, COUNT(*) AS n_pairs,
             |  CAST(coalesce(SUM(CASE WHEN c1 <> c2 THEN 1 ELSE 0 END), 0)
             |    AS BIGINT) AS n_cross FROM j
             |UNION ALL
             |SELECT 'by_doc', COUNT(*),
             |  CAST(coalesce(SUM(CASE WHEN d1 <> d2 THEN 1 ELSE 0 END), 0)
             |    AS BIGINT) FROM j
             |ORDER BY scheme""".stripMargin)),

    ("q153_sorted_neighborhood",
      (s: SparkSession, d: String) => {
        // sorted-neighborhood blocking (Hernández-Stolfo): sort by
        // (lang, n_chars, id), compare each doc with its 5 successors,
        // verify with exact Jaccard — the zero-hash ER complement to
        // LSH banding (production runs both and unions the pairs). The
        // global rank is the distributed staged rank, the candidates a
        // map-only explode + one integer equi-join.
        Dedup.sortedNeighborhoodPairs(Tables.documents(s, d), "doc_id",
            "text", Seq(col("lang"), col("n_chars")), window = 5,
            threshold = 0.5)
          .orderBy("id1", "id2")
      },
      // GROUND-TRUTH oracle: the same total order via row_number, the
      // same 5-successor candidate comb, exact string-shingle Jaccard
      Some("""WITH tok AS (SELECT doc_id, lang, n_chars,
             |    string_split(text, ' ') AS toks FROM documents
             |    WHERE text IS NOT NULL),
             |sh AS (SELECT doc_id, lang, n_chars,
             |  list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
             |  ELSE list_transform(range(1, len(toks) - 1),
             |         i -> array_to_string(list_slice(toks, i, i + 2), ' '))
             |  END) AS sh FROM tok),
             |r AS (SELECT *, row_number()
             |        OVER (ORDER BY lang, n_chars, doc_id) AS rn FROM sh),
             |cand AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
             |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
             |      len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
             |  FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 5)
             |SELECT least(ida, idb) AS id1, greatest(ida, idb) AS id2, jaccard
             |FROM cand WHERE jaccard >= 0.5
             |ORDER BY id1, id2""".stripMargin)),

    ("q154_winsorize",
      (s: SparkSession, d: String) => {
        // per-language winsorization of document length to its exact
        // discrete [p5, p95]: the robust normalization applied before a
        // metric feeds a sampling weight, where one pathological outlier
        // would own the scale. The quantile never sorts the corpus —
        // it walks the (lang, value) histogram.
        RobustStats.winsorize(Tables.documents(s, d), "lang",
            col("n_chars"), "doc_id")
          .orderBy("doc_id")
      },
      // same integer rank arithmetic over the same histogram walk
      Some("""WITH h AS (SELECT lang, n_chars AS v, COUNT(*) AS c
             |  FROM documents GROUP BY 1, 2),
             |cum AS (SELECT lang, v,
             |    SUM(c) OVER (PARTITION BY lang ORDER BY v) AS cum,
             |    SUM(c) OVER (PARTITION BY lang) AS n FROM h),
             |b AS (SELECT lang,
             |    MIN(CASE WHEN cum >= (n - 1) * 5 // 100 + 1 THEN v END) AS lo,
             |    MIN(CASE WHEN cum >= (n - 1) * 95 // 100 + 1 THEN v END) AS hi
             |  FROM cum GROUP BY lang)
             |SELECT d.doc_id, d.lang, d.n_chars AS v, b.lo, b.hi,
             |  least(greatest(d.n_chars, b.lo), b.hi) AS winsorized
             |FROM documents d JOIN b USING (lang)
             |ORDER BY d.doc_id""".stripMargin)),

    ("q155_bpe_merges",
      (s: SparkSession, d: String) => {
        // the actual BPE trainer loop (q94 is ONE counting pass): three
        // sequential count -> argmax -> rewrite rounds, so later merges
        // extend earlier ones. Per round: one map-only fold rewrite, one
        // map-side pair count, a 1-row TakeOrdered -- the only driver
        // traffic is the winning pair.
        TextAnalysis.bpeMerges(Tables.documents(s, d), rounds = 3)
      },
      // GROUND-TRUTH oracle: all three rounds unrolled -- same argmax
      // tie-break, same left-to-right non-overlap rewrite expressed as
      // match-run parity (a match is taken iff its in-run position is
      // odd, provably the fold's selection), same chained-token counts
      Some(bpeMergeTableSql(3))),

    ("q156_token_spectrum",
      (s: SparkSession, d: String) => {
        // token frequency-of-frequencies (the Good-Turing input; the
        // companion read to q138's Zipf slope and q125's vocab growth):
        // N_r = how many distinct types occur exactly r times. A healthy
        // crawl has a fat N_1 (hapax) head; duplication inflates high-r
        // mass. Two map-side-combinable counts — the second groups the
        // (type, freq) frame, bounded by vocabulary, not rows.
        TextAnalysis.tokenSpectrum(Tables.documents(s, d))
      },
      Some("""WITH tc AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
             |f AS (SELECT t, COUNT(*) AS freq FROM tc GROUP BY t)
             |SELECT freq, CAST(COUNT(*) AS BIGINT) AS n_types
             |FROM f GROUP BY freq ORDER BY freq""".stripMargin)),

    ("q157_event_paths",
      (s: SparkSession, d: String) => {
        // behavioral path mining: the top-20 per-user event-type
        // TRIGRAMS in (ts, event_id) order — the "what do users do in
        // sequence" read that funnels (q64) fix in advance and session
        // windows (q16) aggregate away. The lead window partitions by
        // user (bounded by per-user event counts — high cardinality, no
        // hot task); the cut is count desc with a full lexicographic
        // tie-break, so the top-20 is engine-stable.
        TextAnalysis.eventPaths(Tables.events(s, d), k = 20)
      },
      Some("""WITH s AS (SELECT event_type AS e1,
             |    lead(event_type, 1) OVER w AS e2,
             |    lead(event_type, 2) OVER w AS e3
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
             |SELECT e1, e2, e3, CAST(COUNT(*) AS BIGINT) AS n_paths
             |FROM s WHERE e3 IS NOT NULL GROUP BY 1, 2, 3
             |ORDER BY n_paths DESC, e1, e2, e3 LIMIT 20""".stripMargin)),

    ("q159_ecdf_normalize",
      (s: SparkSession, d: String) => {
        // per-source ECDF normalization: each doc's length maps to its
        // exact within-source percentile rank (integer microunits) —
        // the transform that makes scores comparable ACROSS sources
        // before cross-source mixing weights. The ECDF walks the
        // (source, value) histogram; ranks broadcast back.
        RobustStats.ecdfNormalize(Tables.documents(s, d), "source",
            col("n_chars"), "doc_id")
          .orderBy("doc_id")
      },
      // identical integer arithmetic over the same histogram walk
      Some("""WITH h AS (SELECT source, n_chars AS v, COUNT(*) AS c
             |  FROM documents GROUP BY 1, 2),
             |r AS (SELECT source, v,
             |    CAST(SUM(c) OVER (PARTITION BY source ORDER BY v) * 1000000 //
             |         SUM(c) OVER (PARTITION BY source) AS BIGINT) AS pct_micro
             |  FROM h)
             |SELECT d.doc_id, d.source, d.n_chars AS v, r.pct_micro
             |FROM documents d JOIN r ON r.source = d.source AND r.v = d.n_chars
             |ORDER BY d.doc_id""".stripMargin)),

    ("q160_semantic_decontaminate",
      (s: SparkSession, d: String) => {
        // embedding-space decontamination: flag corpus vectors whose
        // cosine to ANY benchmark vector reaches 0.35 — catches the
        // paraphrased eval item the shingle-containment pass (q52)
        // cannot see. Benchmark side broadcasts (eval suites are
        // bounded); the scan is map-only with a combinable reduce.
        val emb = Tables.embeddings(s, d)
        Similarity.semanticDecontaminate(
            emb.filter(col("vec_id") % 97 =!= 0),
            emb.filter(col("vec_id") % 97 === 0), threshold = 0.35)
          .orderBy("vec_id")
      },
      // full recomputation: the same double cosine, the same integer
      // micro floor, the same (sim, -bench_id) argmax tie-break
      Some("""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv
             |  FROM embeddings WHERE vec_id % 97 <> 0),
             |b AS (SELECT vec_id AS bench_id, CAST(embedding AS DOUBLE[]) AS bv
             |  FROM embeddings WHERE vec_id % 97 = 0),
             |s AS (SELECT c.vec_id, b.bench_id,
             |    CAST(floor(list_inner_product(c.dv, b.bv) /
             |      (sqrt(list_inner_product(c.dv, c.dv)) *
             |       sqrt(list_inner_product(b.bv, b.bv))) * 1e6) AS BIGINT) AS sm
             |  FROM c CROSS JOIN b),
             |f AS (SELECT * FROM s WHERE sm >= 350000),
             |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
             |        ORDER BY sm DESC, bench_id) AS rn FROM f)
             |SELECT f.vec_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
             |  MIN(r.bench_id) AS top_bench_id,
             |  MAX(f.sm) AS max_sim_micro
             |FROM f JOIN r ON r.vec_id = f.vec_id AND r.rn = 1
             |GROUP BY f.vec_id
             |ORDER BY f.vec_id""".stripMargin)),

    ("q161_image_hash_dedup",
      (s: SparkSession, d: String) => {
        // image near-dup pairs over REAL bitmaps: every document renders
        // as a BMP (near-dup docs → near-identical pixels), the REAL
        // encode→decode→aHash kernel fingerprints each image, and the
        // simhash pigeonhole machinery finds Hamming ≤ 3 pairs — the
        // cheap perceptual-dedup pass an image corpus runs before any
        // embedding model touches it.
        val fps = Multimodal.imageAHash(
          Multimodal.synthesizeBmpCorpus(Tables.documents(s, d)))
        Dedup.hammingNearDupPairs(fps, maxHamming = 3)
          .withColumn("hamming", col("hamming").cast("long"))
          .orderBy("id1", "id2")
      },
      // all-pairs Hamming ground truth over the dumped aHashes: a pair
      // the 4-chunk pigeonhole missed (or a phantom the verify let
      // through) hash-fails here
      Some(s"""WITH fp AS (SELECT id, fp
              |           FROM read_parquet('$OracleAuxDir/q161_ahashes/*.parquet'))
              |SELECT a.id AS id1, b.id AS id2,
              |       CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
              |FROM fp a JOIN fp b ON a.id < b.id
              |WHERE bit_count(xor(a.fp, b.fp)) <= 3
              |ORDER BY id1, id2""".stripMargin)),

    ("q162_range_join_sql",
      (s: SparkSession, d: String) => {
        // a PLAIN-SQL point-in-interval join: order dates against 7-day
        // post-ship windows. No equality conjunct, so vanilla Spark
        // plans the quadratic BroadcastNestedLoopJoin — the engine's
        // RangeJoinRule (plans/RangeJoinRule, loaded via
        // GraftExtensions) rewrites it to the granule-bucketized
        // equi-join automatically; semantics are byte-identical either
        // way (RangeJoinRuleSpec pins both the plan shape and the
        // equality), which is why the oracle is simply the same SQL.
        Tables.orders(s, d).createOrReplaceTempView("q162_orders")
        Tables.lineitem(s, d).createOrReplaceTempView("q162_lineitem")
        s.sql("""
          WITH p AS (SELECT CAST(o_orderdate AS TIMESTAMP) AS ts, o_orderkey
                     FROM q162_orders WHERE o_orderkey % 100 = 0),
          i AS (SELECT CAST(l_shipdate AS TIMESTAMP) AS start_ts,
                       CAST(l_shipdate AS TIMESTAMP) + INTERVAL 7 DAY AS end_ts,
                       l_orderkey, l_linenumber
                FROM q162_lineitem WHERE l_orderkey % 50 = 0)
          SELECT p.o_orderkey, i.l_orderkey, i.l_linenumber
          FROM p JOIN i ON p.ts >= i.start_ts AND p.ts < i.end_ts
          ORDER BY o_orderkey, l_orderkey, l_linenumber""")
      },
      Some("""WITH p AS (SELECT CAST(o_orderdate AS TIMESTAMP) AS ts, o_orderkey
             |           FROM orders WHERE o_orderkey % 100 = 0),
             |i AS (SELECT CAST(l_shipdate AS TIMESTAMP) AS start_ts,
             |             CAST(l_shipdate AS TIMESTAMP) + INTERVAL 7 DAY AS end_ts,
             |             l_orderkey, l_linenumber
             |      FROM lineitem WHERE l_orderkey % 50 = 0)
             |SELECT p.o_orderkey, i.l_orderkey, i.l_linenumber
             |FROM p JOIN i ON p.ts >= i.start_ts AND p.ts < i.end_ts
             |ORDER BY o_orderkey, l_orderkey, l_linenumber""".stripMargin)),

    ("q163_bpe_encode",
      (s: SparkSession, d: String) => {
        // the ENCODE step next to q155's merge table: per document, the
        // token count before and after the three learned merges rewrite
        // it -- the compression the merges actually buy. Same sequential
        // recurrence; the rewritten corpus is the byproduct.
        TextAnalysis.bpeEncode(Tables.documents(s, d), rounds = 3)
          .orderBy("doc_id")
      },
      // the q155 oracle chain extended through the third rewrite, then
      // raw-vs-encoded lengths per document
      Some(bpeEncodeSql(3))),

    ("q164_leakage_folds",
      (s: SparkSession, d: String) => {
        // dedup-safe k-fold assignment (q151 at cross-validation shape):
        // fold = hash(cluster root) mod 5 — a near-dup pair can never
        // straddle folds, so every held-out fold is leak-free against
        // its training complement.
        val docs = Tables.documents(s, d)
        val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
          shingleSize = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
        Sharding.leakageSafeFolds(docs, pairs, "doc_id", k = 5)
          .orderBy("doc_id")
      },
      Some(leakageFoldsSql(5))),

    ("q165_dedup_rates",
      (s: SparkSession, d: String) => {
        // per-source dedup-rate audit: exact losers, near losers (on
        // the exact survivors — dedupCorpus's order), survivors. The
        // rollout dashboard: a source whose loss rate spikes is a
        // mirror, a template farm, or a crawler loop.
        Dedup.dedupRates(Tables.documents(s, d), "doc_id", "text",
            "source", threshold = 0.5)
          .orderBy("source")
      },
      // GROUND TRUTH: exact losers by raw TEXT grouping, the closure
      // over the exact-survivor corpus (the parameterized CTE body),
      // integer flags folded per source
      Some("WITH RECURSIVE eg AS (SELECT text, MIN(doc_id) AS rep, COUNT(*) AS n\n" +
        "    FROM documents GROUP BY text),\n" +
        "exl AS (SELECT d.doc_id FROM documents d JOIN eg ON eg.text = d.text\n" +
        "        WHERE eg.n > 1 AND d.doc_id <> eg.rep),\n" +
        "fresh AS (SELECT * FROM documents\n" +
        "          WHERE doc_id NOT IN (SELECT doc_id FROM exl)),\n" +
        jaccardClosureBody("fresh") +
        """nl AS (SELECT id AS doc_id FROM lbl WHERE cluster_id < id)
          |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          |  CAST(coalesce(SUM(CASE WHEN e.doc_id IS NOT NULL THEN 1 END), 0)
          |    AS BIGINT) AS n_exact_dup,
          |  CAST(coalesce(SUM(CASE WHEN n.doc_id IS NOT NULL THEN 1 END), 0)
          |    AS BIGINT) AS n_near_dup,
          |  CAST(COUNT(*) - coalesce(SUM(CASE WHEN e.doc_id IS NOT NULL THEN 1 END), 0)
          |    - coalesce(SUM(CASE WHEN n.doc_id IS NOT NULL THEN 1 END), 0)
          |    AS BIGINT) AS n_kept
          |FROM documents d
          |LEFT JOIN exl e ON e.doc_id = d.doc_id
          |LEFT JOIN nl n ON n.doc_id = d.doc_id
          |GROUP BY d.source ORDER BY d.source""".stripMargin)),

    ("q166_bpe_deep",
      (s: SparkSession, d: String) => {
        // depth-capable batched BPE: 160 merges in ⌈160/32⌉ = 5 recount
        // windows (the sequential q155 trainer would take 160 job
        // rounds). Query = the merge table; provenance windows ride the
        // q166_windows aux dump for the oracle's independent replay.
        import s.implicits._
        q166Train(s, d).merges.toDF("round", "lhs", "rhs", "pair_count")
          .orderBy("round")
      },
      // INDEPENDENT REPLAY: DuckDB walks the dumped per-window spectrum
      // slices (Spark-computed pair counts — the trusted dump boundary,
      // the q30/q24 discipline) and re-runs the driver-local adoption
      // from scratch as a recursive CTE: candidates in (count desc,
      // lhs, rhs) order, skip if either token is dirty this window,
      // stop at the batch cap / total rounds. Any drift in the greedy —
      // order, dirty rule, caps, window reset — hash-fails.
      Some(q166ReplaySql)),

    ("q168_bm25_maintained",
      (s: SparkSession, d: String) => {
        // the MAINTAINED streaming BM25 index under the DuckDB gate:
        // documents arrive as three folds with a compaction between the
        // second and third (generation fold + post-compaction append),
        // then top-k over the store must equal q105's full-corpus BM25
        // (same oracle, verbatim). Fresh store per sf dir (memoized
        // per JVM; build/read split via [[storeBuilders]]).
        val docs = Tables.documents(s, d)
        val st = q168StoreBuild(s, d)
        graft.streaming.IndexStream.topK(s, st,
            Retrieval.probeQueries(docs, every = 100, width = 8), k = 5)
          .orderBy("query_id", "rank")
      },
      // q105's full-recomputation oracle verbatim: the maintained index
      // answers over everything ingested = the whole corpus
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |dl AS (SELECT doc_id, len(toks) AS dl FROM t),
             |tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
             |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
             |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
             |st AS (SELECT COUNT(*) AS n_docs, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
             |q AS (SELECT DISTINCT doc_id AS query_id,
             |        unnest(list_distinct(list_slice(toks, 1, 8))) AS term
             |      FROM t WHERE doc_id % 100 = 0),
             |sc AS (SELECT q.query_id, tf.doc_id,
             |         round(SUM(ln(1.0 + (st.n_docs - df.df + 0.5) / (df.df + 0.5))
             |           * (tf.tf * (1.2 + 1.0) /
             |              (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl)))), 4) AS score
             |       FROM q JOIN tf USING (term) JOIN df USING (term)
             |       JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN st
             |       GROUP BY 1, 2),
             |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
             |        ORDER BY score DESC, doc_id) AS rank
             |      FROM sc WHERE query_id <> doc_id)
             |SELECT query_id, doc_id, score, CAST(rank AS BIGINT) AS rank
             |FROM r WHERE rank <= 5
             |ORDER BY query_id, rank""".stripMargin)),

    ("q169_span_dedup_exact",
      (s: SparkSession, d: String) => {
        // suffix-array-grade substring dedup (Lee et al. ExactSubstr at
        // token grain): tokens covered by a non-first occurrence of any
        // duplicated 8-token substring are cut, at ANY alignment — the
        // exact operator q110's fixed tiles approximate (tiles miss
        // occurrences that disagree on offset mod width).
        Dedup.exactSpanDedup(Tables.documents(s, d), "doc_id", "text",
            minLen = 8)
          .orderBy("doc_id")
      },
      // GROUND TRUTH: DuckDB recomputes the whole pipeline from raw
      // text — rolling 8-gram occurrences, global first by (doc, pos),
      // coverage marks of later occurrences, anti-join rebuild
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
             |           FROM documents WHERE text IS NOT NULL),
             |g AS (SELECT doc_id, i - 1 AS pos,
             |        array_to_string(toks[i:i+7], ' ') AS gram
             |      FROM t, unnest(range(1, len(toks) - 6)) AS u(i)
             |      WHERE len(toks) >= 8),
             |r AS (SELECT doc_id, pos, gram,
             |        row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rk,
             |        COUNT(*) OVER (PARTITION BY gram) AS n
             |      FROM g),
             |marks AS (SELECT DISTINCT doc_id, pos + o.range AS tpos
             |          FROM r, range(0, 8) o WHERE r.n > 1 AND r.rk > 1),
             |tok AS (SELECT doc_id, i - 1 AS tpos, toks[i] AS tok
             |        FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
             |kept AS (SELECT tok.doc_id, COUNT(*) AS n_kept,
             |           string_agg(tok.tok, ' ' ORDER BY tok.tpos) AS text_clean
             |         FROM tok LEFT JOIN marks
             |           ON marks.doc_id = tok.doc_id AND marks.tpos = tok.tpos
             |         WHERE marks.doc_id IS NULL
             |         GROUP BY tok.doc_id)
             |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
             |  CAST(coalesce(kept.n_kept, 0) AS BIGINT) AS n_kept,
             |  coalesce(kept.text_clean, '') AS text_clean
             |FROM t LEFT JOIN kept ON kept.doc_id = t.doc_id
             |ORDER BY t.doc_id""".stripMargin)),

    ("q172_substr_decontaminate",
      (s: SparkSession, d: String) => {
        // targeted cross-corpus decontamination at substring grain:
        // benchmark items are the first 15 tokens of every 97th doc
        // (q52's convention); every training token covered by an
        // 8-token window that appears in the benchmark is CUT, at any
        // alignment — the source docs lose exactly their contaminated
        // prefix (self-validating), quoting docs lose only the quote.
        val docs = Tables.documents(s, d)
        val bench = docs.filter(col("doc_id") % 97 === 0)
          .select(col("doc_id"),
            array_join(slice(split(col("text"), " "), 1, 15), " ").as("text"))
        Dedup.exactSubstrDecontaminate(docs, bench, "doc_id", "text",
            minLen = 8)
          .orderBy("doc_id")
      },
      // GROUND TRUTH: DuckDB rebuilds the whole pass from raw text —
      // distinct benchmark 8-gram set, train-side rolling windows,
      // coverage marks of matching windows, anti-join rebuild
      Some(substrDecontamOracleSql)),

    ("q185_decontam_maintained",
      (s: SparkSession, d: String) => {
        // the STREAMING decontamination registry: q172's benchmark set
        // arrives as three residue-class suites (with a replayed fold
        // and a mid-stream compaction), and the corpus cut against the
        // accumulated store must equal the one-shot batch pass over the
        // unioned suites — q172's full DuckDB recompute, verbatim (set
        // union is fold-order-free; the mark join is a semi-join).
        val st = q185StoreBuild(s, d)
        graft.streaming.DecontamStream.decontaminate(s, st,
            graft.core.Tables.documents(s, d), "doc_id", "text", minLen = 8)
          .orderBy("doc_id")
      },
      Some(substrDecontamOracleSql)),

    ("q174_phrase_search",
      (s: SparkSession, d: String) => {
        // exact phrase retrieval through the positional posting index:
        // phrases are tokens 3..6 of every 163rd doc (phrase_id =
        // source doc_id) — every source doc must report itself
        // (self-validating), plus any doc repeating the phrase verbatim.
        val docs = Tables.documents(s, d)
        val phrases = docs
          .filter(col("doc_id") % 163 === 0 &&
            size(split(col("text"), " ")) >= 6)
          .select(col("doc_id").as("phrase_id"),
            array_join(slice(split(col("text"), " "), 3, 4), " ").as("phrase"))
        Retrieval.phraseSearch(docs, phrases)
          .orderBy("phrase_id", "doc_id")
      },
      // GROUND TRUTH: DuckDB re-runs the positional-index algebra from
      // raw text — postings, phrase offsets, anchor counting
      Some(phraseSearchOracleSql)),

    ("q186_phrase_maintained",
      (s: SparkSession, d: String) => {
        // the MAINTAINED positional index: documents arrive as three
        // residue folds (with a replayed fold and a mid-stream
        // compaction), then q174's phrase search over the store must
        // equal the one-shot pass over the whole corpus — postings are
        // per-document facts, so the maintained frame is their union
        // (same oracle, verbatim).
        val docs = Tables.documents(s, d)
        val st = q186StoreBuild(s, d)
        graft.streaming.PosIndexStream.phraseSearch(s, st,
            docs.filter(col("doc_id") % 163 === 0 &&
                size(split(col("text"), " ")) >= 6)
              .select(col("doc_id").as("phrase_id"),
                array_join(slice(split(col("text"), " "), 3, 4), " ").as("phrase")))
          .orderBy("phrase_id", "doc_id")
      },
      Some(phraseSearchOracleSql)),

    // ------------------------------------------------------------------
    // q175–q179: the REMAINING maintained streaming stores under the
    // DuckDB gate (completing what q167/q168/q170/q171/q173 started for
    // SCD2/BM25/snapshot/agg/join) — each store folds the corpus in
    // micro-batches, then its read surface must answer identically to
    // the one-shot batch operator over everything ingested.
    // ------------------------------------------------------------------
    ("q175_dedup_maintained",
      (s: SparkSession, d: String) => {
        // the streaming exact-dedup index (text-hash → min doc id
        // representative): min is associative + idempotent, so the
        // 3-fold store must equal the one-shot grouping. The index
        // keeps only 64-bit hashes; joining back to the corpus
        // recovers the (doc, canonical-representative) map the oracle
        // recomputes from raw text.
        val docs = Tables.documents(s, d)
        val st = q175StoreBuild(s, d)
        graft.streaming.DedupStream.readIndex(s, st)
          .join(docs.select(xxhash64(col("text")).as("text_hash"),
            col("doc_id")), "text_hash")
          .select(col("doc_id"), col("rep_id"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, MIN(doc_id) OVER (PARTITION BY text) AS rep_id
             |FROM documents ORDER BY doc_id""".stripMargin)),

    ("q176_sample_maintained",
      (s: SparkSession, d: String) => {
        // the streaming per-stratum A-ES reservoir: deterministic keys
        // make per-stratum min-k associative, so the maintained sample
        // is BIT-IDENTICAL to q149's one-shot weightedSample over the
        // whole corpus (same oracle, verbatim).
        val st = q176StoreBuild(s, d)
        graft.streaming.SampleStream.readSample(s, st)
          .withColumnRenamed("id", "doc_id")
          .orderBy("stratum", "rank")
      },
      Some(weightedSampleOracle)),

    ("q177_drift_maintained",
      (s: SparkSession, d: String) => {
        // the streaming PSI drift monitor: each batch scores against
        // the ACCUMULATED reference of everything before it (batch 0
        // against itself ⇒ the PSI-0 calibration row). The oracle
        // recomputes every prefix histogram and the per-bucket-rounded
        // PSI sum from raw text.
        val st = q177StoreBuild(s, d)
        graft.streaming.DriftStream.readLog(s, st)
          .select(col("batch").cast("long").as("batch"),
            col("n_docs"), col("psi_micro8"))
          .orderBy("batch")
      },
      Some("""WITH q AS (SELECT doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
             |    CAST(length(text) AS BIGINT) AS n_chars,
             |    CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS BIGINT) AS n_punct
             |  FROM documents WHERE text IS NOT NULL),
             |score AS (SELECT doc_id,
             |    0.5 * least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0)
             |      + 0.4 * (CAST(n_distinct AS DOUBLE) / n_tokens)
             |      + 0.1 * (1.0 - least((CAST(n_punct AS DOUBLE) / n_chars) * 4.0, 1.0)) AS qs
             |  FROM q),
             |bkt AS (SELECT doc_id % 3 AS batch,
             |    least(CAST(floor(qs * 10) AS BIGINT), 9) AS bucket FROM score),
             |cnt AS (SELECT batch, bucket, COUNT(*) AS n FROM bkt GROUP BY 1, 2),
             |grid AS (SELECT b.batch, u.bucket
             |         FROM (SELECT DISTINCT batch FROM cnt) b
             |         CROSS JOIN (SELECT unnest(range(0, 10)) AS bucket) u),
             |cur AS (SELECT g.batch, g.bucket, COALESCE(c.n, 0) AS n_b
             |        FROM grid g LEFT JOIN cnt c
             |          ON c.batch = g.batch AND c.bucket = g.bucket),
             |ref AS (SELECT g.batch, g.bucket, COALESCE(SUM(c.n), 0) AS n_a
             |        FROM grid g LEFT JOIN cnt c
             |          ON c.bucket = g.bucket AND c.batch < g.batch
             |        GROUP BY 1, 2),
             |t AS (SELECT cur.batch, cur.bucket, ref.n_a, cur.n_b,
             |        SUM(ref.n_a) OVER (PARTITION BY cur.batch) AS ta,
             |        SUM(cur.n_b) OVER (PARTITION BY cur.batch) AS tb
             |      FROM cur JOIN ref
             |        ON ref.batch = cur.batch AND ref.bucket = cur.bucket),
             |p AS (SELECT batch, bucket,
             |        CAST(n_a + 1 AS DOUBLE) / (ta + 10) AS pa,
             |        CAST(n_b + 1 AS DOUBLE) / (tb + 10) AS pb
             |      FROM t),
             |psi AS (SELECT batch, CAST(SUM(CASE WHEN batch = 0 THEN 0
             |          ELSE CAST(round((pa - pb) * ln(pa / pb) * 1e8) AS BIGINT) END)
             |          AS BIGINT) AS psi_micro8
             |        FROM p GROUP BY 1),
             |nd AS (SELECT batch, COUNT(*) AS n_docs FROM bkt GROUP BY 1)
             |SELECT CAST(psi.batch AS BIGINT) AS batch, nd.n_docs, psi.psi_micro8
             |FROM psi JOIN nd USING (batch)
             |ORDER BY batch""".stripMargin)),

    ("q178_span_maintained",
      (s: SparkSession, d: String) => {
        // the streaming C4-style span-dedup corpus: batches fed in
        // ascending doc-id ranges, where first-arrival-wins coincides
        // with q110's global min-(doc, idx) winner rule — so the
        // maintained clean corpus must equal the one-shot dedupTiles
        // (same oracle, verbatim).
        val st = q178StoreBuild(s, d)
        graft.streaming.SpanStream.readClean(s, st)
          .select("doc_id", "n_tiles", "n_kept", "text_clean")
          .orderBy("doc_id")
      },
      Some(spanDedupOracle)),

    ("q179_ann_maintained",
      (s: SparkSession, d: String) => {
        // the streaming PQ ANN index: codebook frozen on the base
        // third, two streamed batches encode-and-append (with an
        // in-stream compaction), then top-k over the CODES store +
        // exact re-rank. Same oracle contract as q91/q102: the
        // deterministic candidate dump is re-ranked exactly in DuckDB.
        val emb = Tables.embeddings(s, d)
        graft.streaming.AnnStream.topK(s, q179Store(s, d), emb,
            emb.filter(col("vec_id") % 50 === 0), k = 10)
          .orderBy("query_id", "rank")
      },
      Some(rerankOracle("q179_candidates", k = 10))),

    ("q180_doc_maintained",
      (s: SparkSession, d: String) => {
        // the streaming deduplicating corpus builder (DocStream) under
        // the gate — the near-dup sibling of q175's exact index, and
        // the last spec-only store. Three sequential batches by doc_id
        // residue, batch 1 additionally carrying PLANTED exact replays
        // of batch-0 survivors (the cross-batch hash anti-join path),
        // with a generation COMPACTION between batches 1 and 2 (the
        // q168 discipline — fold + post-compaction append on one
        // store). Survivor rule per batch: exact drop vs the standing
        // corpus, within-batch transitive-closure keep-min at jaccard
        // >= 0.5, then drop survivors with any corpus partner at the
        // threshold. The oracle replays all three stages from raw text
        // (q62's recursive-CTE machinery, unrolled sequentially).
        // bandsForRecall keeps LSH recall at 0.999 AT the threshold so
        // the ground-truth comparison is honest, not luck.
        val st = q180StoreBuild(s, d)
        graft.streaming.DocStream.readCorpus(s, s"$st/corpus")
          .select("doc_id", "lang", "source")
          .orderBy("doc_id")
      },
      // GROUND TRUTH: the three-stage survivor recursion replayed from
      // raw text — per stage: exact drop vs accumulated survivors,
      // within-batch closure keep-min (recursive CTE), cross near-drop
      // at jaccard >= 0.5 vs accumulated survivors. Every non-recursive
      // CTE is MATERIALIZED: DuckDB inlines CTEs by default, and the
      // staged references (s1 -> w1 -> f1 -> s0 -> ...) re-expand
      // EXPONENTIALLY without it (measured 214 s inlined vs 16 s
      // materialized at sf0.01)
      Some("""WITH RECURSIVE
             |t AS MATERIALIZED (SELECT doc_id, text, lang, source FROM documents),
             |sh AS MATERIALIZED (SELECT doc_id,
             |  list_distinct(CASE WHEN len(string_split(text, ' ')) < 3
             |    THEN [text]
             |    ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
             |      i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' '))
             |  END) AS sh FROM t),
             |b0 AS MATERIALIZED (SELECT doc_id, text FROM t WHERE doc_id % 3 = 0),
             |p0 AS MATERIALIZED (SELECT a.doc_id AS id1, b.doc_id AS id2
             |  FROM b0 a JOIN b0 b ON a.doc_id < b.doc_id
             |  JOIN sh sa ON sa.doc_id = a.doc_id
             |  JOIN sh sb ON sb.doc_id = b.doc_id
             |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
             |        len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5),
             |e0 AS MATERIALIZED (SELECT id1 AS a, id2 AS b FROM p0 UNION SELECT id2, id1 FROM p0),
             |reach0 AS (SELECT a, b FROM e0
             |  UNION
             |  SELECT r.a, e.b FROM reach0 r JOIN e0 e ON r.b = e.a WHERE e.b <> r.a),
             |lbl0 AS MATERIALIZED (SELECT a AS id, least(a, min(b)) AS cid FROM reach0 GROUP BY a),
             |s0 AS MATERIALIZED (SELECT doc_id, text FROM b0
             |  WHERE doc_id NOT IN (SELECT id FROM lbl0 WHERE cid < id)),
             |b1 AS MATERIALIZED (SELECT doc_id, text, doc_id AS src_id FROM t WHERE doc_id % 3 = 1
             |  UNION ALL
             |  SELECT doc_id + 3000000, text, doc_id FROM t
             |  WHERE doc_id % 3 = 0 AND doc_id % 11 = 0),
             |f1 AS MATERIALIZED (SELECT doc_id, src_id FROM b1
             |  WHERE text NOT IN (SELECT text FROM s0)),
             |p1 AS MATERIALIZED (SELECT a.doc_id AS id1, b.doc_id AS id2
             |  FROM f1 a JOIN f1 b ON a.doc_id < b.doc_id
             |  JOIN sh sa ON sa.doc_id = a.src_id
             |  JOIN sh sb ON sb.doc_id = b.src_id
             |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
             |        len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5),
             |e1 AS MATERIALIZED (SELECT id1 AS a, id2 AS b FROM p1 UNION SELECT id2, id1 FROM p1),
             |reach1 AS (SELECT a, b FROM e1
             |  UNION
             |  SELECT r.a, e.b FROM reach1 r JOIN e1 e ON r.b = e.a WHERE e.b <> r.a),
             |lbl1 AS MATERIALIZED (SELECT a AS id, least(a, min(b)) AS cid FROM reach1 GROUP BY a),
             |w1 AS MATERIALIZED (SELECT doc_id, src_id FROM f1
             |  WHERE doc_id NOT IN (SELECT id FROM lbl1 WHERE cid < id)),
             |x1 AS MATERIALIZED (SELECT DISTINCT w.doc_id FROM w1 w
             |  JOIN sh sw ON sw.doc_id = w.src_id, s0
             |  JOIN sh se ON se.doc_id = s0.doc_id
             |  WHERE CAST(len(list_intersect(sw.sh, se.sh)) AS DOUBLE) /
             |        len(list_distinct(list_concat(sw.sh, se.sh))) >= 0.5),
             |s1 AS MATERIALIZED (SELECT w1.doc_id, w1.src_id FROM w1
             |  WHERE w1.doc_id NOT IN (SELECT doc_id FROM x1)),
             |corpus1 AS MATERIALIZED (SELECT doc_id, doc_id AS src_id, text FROM s0
             |  UNION ALL
             |  SELECT s1.doc_id, s1.src_id, t.text FROM s1 JOIN t ON t.doc_id = s1.src_id),
             |b2 AS MATERIALIZED (SELECT doc_id, text FROM t WHERE doc_id % 3 = 2),
             |f2 AS MATERIALIZED (SELECT doc_id FROM b2
             |  WHERE text NOT IN (SELECT text FROM corpus1)),
             |p2 AS MATERIALIZED (SELECT a.doc_id AS id1, b.doc_id AS id2
             |  FROM f2 a JOIN f2 b ON a.doc_id < b.doc_id
             |  JOIN sh sa ON sa.doc_id = a.doc_id
             |  JOIN sh sb ON sb.doc_id = b.doc_id
             |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
             |        len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5),
             |e2 AS MATERIALIZED (SELECT id1 AS a, id2 AS b FROM p2 UNION SELECT id2, id1 FROM p2),
             |reach2 AS (SELECT a, b FROM e2
             |  UNION
             |  SELECT r.a, e.b FROM reach2 r JOIN e2 e ON r.b = e.a WHERE e.b <> r.a),
             |lbl2 AS MATERIALIZED (SELECT a AS id, least(a, min(b)) AS cid FROM reach2 GROUP BY a),
             |w2 AS MATERIALIZED (SELECT doc_id FROM f2
             |  WHERE doc_id NOT IN (SELECT id FROM lbl2 WHERE cid < id)),
             |x2 AS MATERIALIZED (SELECT DISTINCT w.doc_id FROM w2 w
             |  JOIN sh sw ON sw.doc_id = w.doc_id, corpus1 c
             |  JOIN sh se ON se.doc_id = c.src_id
             |  WHERE CAST(len(list_intersect(sw.sh, se.sh)) AS DOUBLE) /
             |        len(list_distinct(list_concat(sw.sh, se.sh))) >= 0.5),
             |s2 AS MATERIALIZED (SELECT doc_id FROM w2
             |  WHERE doc_id NOT IN (SELECT doc_id FROM x2)),
             |kept AS MATERIALIZED (SELECT doc_id, src_id FROM corpus1
             |  UNION ALL SELECT doc_id, doc_id FROM s2)
             |SELECT k.doc_id, t.lang, t.source FROM kept k
             |JOIN t ON t.doc_id = k.src_id
             |ORDER BY k.doc_id""".stripMargin)),

    ("q181_bpe_encode_deep",
      (s: SparkSession, d: String) => {
        // production ENCODE with the q166-trained 160-merge table
        // through the rank-routing indexed kernel — per-document cost
        // independent of table depth (the sequential kernel would scan
        // every document once per merge). The merge table rides the
        // q181_merges aux dump so the oracle can replay the encode
        // INDEPENDENTLY.
        val table = q166Train(s, d).merges.map(m => (m._2, m._3))
        graft.ext.TextAnalysis.bpeEncodeWithTable(
            Tables.documents(s, d).filter(col("text").isNotNull), table)
          .select("doc_id", "n_raw", "n_encoded")
          .orderBy("doc_id")
      },
      // INDEPENDENT REPLAY: DuckDB re-applies every merge round
      // SEQUENTIALLY — a recursive CTE over rounds whose step is the
      // left-to-right non-overlap fold as a list_reduce with a string
      // accumulator (last accumulator token == lhs AND next == rhs →
      // join with a SPACE, forming the merged token; else append behind
      // the chr(31) separator; a just-merged token can never re-fire as
      // lhs because it contains a space). The engine computes the same
      // answer through the rank-routed indexed kernel, so ANY routing
      // bug — staleness, ordering, skipped-recreation, multi-rank —
      // hash-fails against this sequential reference.
      Some(s"""WITH RECURSIVE
             |m AS MATERIALIZED (SELECT round, lhs, rhs
             |  FROM read_parquet('$OracleAuxDir/q181_merges/*.parquet')),
             |enc AS (
             |  SELECT doc_id, 0 AS r, replace(text, ' ', chr(31)) AS state
             |  FROM documents WHERE text IS NOT NULL
             |  UNION ALL
             |  SELECT e.doc_id, e.r + 1,
             |    list_reduce(string_split(e.state, chr(31)),
             |      (acc, x) -> CASE WHEN (acc = m.lhs
             |                             OR ends_with(acc, chr(31) || m.lhs))
             |                        AND x = m.rhs
             |                  THEN acc || ' ' || x
             |                  ELSE acc || chr(31) || x END)
             |  FROM enc e JOIN m ON m.round = e.r + 1)
             |SELECT d.doc_id,
             |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_raw,
             |  CAST(len(string_split(f.state, chr(31))) AS BIGINT) AS n_encoded
             |FROM documents d
             |JOIN (SELECT doc_id, state FROM enc
             |      WHERE r = (SELECT MAX(round) FROM m)) f USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin)),

    ("q188_wordpiece_encode",
      (s: SparkSession, d: String) => {
        // greedy longest-match WordPiece encode (the BERT-tokenizer
        // inference rule) against the corpus-derived vocabulary —
        // topWords=16 < the corpus's 31 distinct words, so roughly half
        // the vocabulary genuinely splits into affix/char pieces. The
        // vocabulary rides the q188_vocab aux dump; the ENCODE is
        // re-derived in SQL as a per-word greedy recursion, so the
        // kernel's longest-match loop is NOT trusted from the engine —
        // any match-order, continuation-table, or marker bug hash-fails.
        WordPiece.encode(Tables.documents(s, d), q188Vocab(s, d))
          .orderBy("doc_id")
      },
      // INDEPENDENT REPLAY: per (doc, word) a recursive CTE walks the
      // word left to right; each step's LATERAL picks the LONGEST
      // vocabulary piece prefixing the remaining suffix (continuation
      // table when pos > 1), coalescing to a 1-char consume exactly as
      // the kernel's fallback. Documents whose every token is empty
      // still emit a row (n_words = 0, encoded = '') via the LEFT JOIN.
      Some(wordPieceEncodeOracleSql)),

    ("q189_gopher_rules",
      (s: SparkSession, d: String) =>
        // the Gopher-style quality rule card: per document the integer
        // signals, one boolean per rule, and the conjunctive keep —
        // every threshold an INTEGER comparison (the q71 discipline), so
        // borderline documents cannot flip between engines. One map-only
        // pass; the oracle recomputes every signal via unnest+GROUP BY,
        // so the engine's array folds (incl. the sorted run-length
        // dominance scan) are fully re-derived.
        TextAnalysis.gopherRules(Tables.documents(s, d)).orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |  FROM documents WHERE text IS NOT NULL),
             |w AS (SELECT doc_id, toks[i] AS w
             |      FROM t, unnest(range(1, len(toks) + 1)) u(i)),
             |base AS (SELECT doc_id,
             |    COUNT(*) AS n_words, SUM(len(w)) AS sum_word_chars,
             |    SUM(CASE WHEN regexp_full_match(w, '[A-Za-z]+')
             |        THEN 1 ELSE 0 END) AS n_alpha_words,
             |    SUM(CASE WHEN w IN ('the','and','of','to','is','in','that','with')
             |        THEN 1 ELSE 0 END) AS n_stopwords
             |  FROM w GROUP BY doc_id),
             |dom AS (SELECT doc_id, MAX(c) AS max_word_count
             |  FROM (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY 1, 2)
             |  GROUP BY doc_id),
             |bg AS (SELECT doc_id, COUNT(*) AS n_bigrams,
             |    COUNT(DISTINCT g) AS n_distinct_bigrams
             |  FROM (SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS g
             |        FROM t, unnest(range(1, len(toks))) u(i))
             |  GROUP BY doc_id),
             |j AS (SELECT t.doc_id,
             |    CAST(coalesce(base.n_words, 0) AS BIGINT) AS n_words,
             |    CAST(coalesce(base.sum_word_chars, 0) AS BIGINT) AS sum_word_chars,
             |    CAST(coalesce(base.n_alpha_words, 0) AS BIGINT) AS n_alpha_words,
             |    CAST(coalesce(base.n_stopwords, 0) AS BIGINT) AS n_stopwords,
             |    CAST(coalesce(dom.max_word_count, 0) AS BIGINT) AS max_word_count,
             |    CAST(coalesce(bg.n_bigrams, 0) AS BIGINT) AS n_bigrams,
             |    CAST(coalesce(bg.n_distinct_bigrams, 0) AS BIGINT) AS n_distinct_bigrams
             |  FROM t LEFT JOIN base USING (doc_id)
             |    LEFT JOIN dom USING (doc_id) LEFT JOIN bg USING (doc_id))
             |SELECT doc_id, n_words, sum_word_chars, n_alpha_words,
             |  n_stopwords, max_word_count, n_bigrams, n_distinct_bigrams,
             |  (n_words >= 30 AND n_words <= 50000) AS r_word_count,
             |  (3 * n_words <= sum_word_chars
             |   AND sum_word_chars <= 10 * n_words) AS r_mean_word_len,
             |  (5 * n_alpha_words >= 4 * n_words) AS r_alpha_ratio,
             |  (n_stopwords >= 2) AS r_stopwords,
             |  (5 * max_word_count <= n_words) AS r_dominance,
             |  (2 * (n_bigrams - n_distinct_bigrams) <= n_bigrams) AS r_repetition,
             |  ((n_words >= 30 AND n_words <= 50000)
             |   AND (3 * n_words <= sum_word_chars
             |        AND sum_word_chars <= 10 * n_words)
             |   AND (5 * n_alpha_words >= 4 * n_words)
             |   AND (n_stopwords >= 2)
             |   AND (5 * max_word_count <= n_words)
             |   AND (2 * (n_bigrams - n_distinct_bigrams) <= n_bigrams)) AS keep
             |FROM j ORDER BY doc_id""".stripMargin)),

    ("q190_image_dhash_dedup",
      (s: SparkSession, d: String) => {
        // the GRADIENT half of the perceptual-dedup pair: the same real
        // BMP corpus as q161, fingerprinted by dHash (9×8 block-mean
        // right-neighbor comparisons — exposure-shift-invariant where
        // aHash is not), pairs via the same Hamming pigeonhole. Image
        // pipelines run BOTH and union the pair sets; gating the second
        // family pins the 9-wide grid arithmetic and the bit layout.
        val fps = Multimodal.imageDHash(
          Multimodal.synthesizeBmpCorpus(Tables.documents(s, d)))
        Dedup.hammingNearDupPairs(fps, maxHamming = 3)
          .withColumn("hamming", col("hamming").cast("long"))
          .orderBy("id1", "id2")
      },
      // all-pairs Hamming ground truth over the dumped dHashes — a pair
      // the 4-chunk pigeonhole missed (or a phantom) hash-fails
      Some(s"""WITH fp AS (SELECT id, fp
              |           FROM read_parquet('$OracleAuxDir/q190_dhashes/*.parquet'))
              |SELECT a.id AS id1, b.id AS id2,
              |       CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
              |FROM fp a JOIN fp b ON a.id < b.id
              |WHERE bit_count(xor(a.fp, b.fp)) <= 3
              |ORDER BY id1, id2""".stripMargin)),

    ("q191_unigram_viterbi",
      (s: SparkSession, d: String) =>
        // exact unigram-LM Viterbi segmentation statistics (Kudo 2018's
        // inference shape) under the integer-exact objective
        // cost = K − weight: per document the word count, total optimal
        // cost, and the (unique) optimal piece count. The inventory
        // rides the q191_pieces aux dump; the DP itself is re-derived in
        // SQL as a per-word forward recursion whose step takes the MIN
        // over matching pieces — the kernel's DP is NOT trusted from the
        // engine; any transition, fallback, or cost bug hash-fails.
        Unigram.viterbiStats(Tables.documents(s, d), q191Pieces(s, d))
          .orderBy("doc_id"),
      // INDEPENDENT REPLAY: forward DP per DISTINCT word (best[] carried
      // as a BIGINT list through the recursion), then word costs join
      // back to per-document sums. coalesce = the cost-K single-char
      // fallback, exactly the kernel's no-match semantics.
      Some(unigramViterbiOracleSql)),

    ("q192_fim_transform",
      (s: SparkSession, d: String) =>
        // the fill-in-the-middle data transformation (Bavarian et al.
        // 2022): a deterministic-hash-selected half of the corpus
        // reorders to <PRE> prefix <SUF> suffix <MID> middle; the rest
        // pass through verbatim. Selection and both split points are
        // pure functions of (doc_id, seed) — the q77 keep-rule
        // arithmetic — so the oracle replays the WHOLE transform
        // independently, sentinels, slices, and all.
        Sharding.fimTransform(Tables.documents(s, d)).orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |  FROM documents WHERE text IS NOT NULL),
             |c AS (SELECT doc_id, toks, len(toks) AS n,
             |    ((doc_id + 17) % 1000003) * 2654435761 % 1000003 AS h0,
             |    ((doc_id + 18) % 1000003) * 2654435761 % 1000003 AS h1,
             |    ((doc_id + 19) % 1000003) * 2654435761 % 1000003 AS h2
             |  FROM t),
             |s AS (SELECT doc_id, toks, n,
             |    (n >= 8 AND h0 % 1000 < 500) AS fim,
             |    CASE WHEN n >= 2
             |      THEN least(h1 % (n - 1) + 1, h2 % (n - 1) + 1) END AS i,
             |    CASE WHEN n >= 2
             |      THEN greatest(h1 % (n - 1) + 1, h2 % (n - 1) + 1) END AS j
             |  FROM c)
             |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, fim,
             |  CASE WHEN fim THEN array_to_string(
             |      ['<PRE>'] || toks[1:i] || ['<SUF>'] || toks[j+1:n]
             |        || ['<MID>'] || toks[i+1:j], ' ')
             |    ELSE array_to_string(toks, ' ') END AS text_fim
             |FROM s ORDER BY doc_id""".stripMargin)),

    ("q193_tokenizer_bakeoff",
      (s: SparkSession, d: String) =>
        // the four-family tokenizer bake-off: whitespace, the
        // q166-trained 160-merge BPE table (indexed kernel), the q188
        // WordPiece vocabulary (greedy kernel), and the q191 unigram
        // inventory (Viterbi kernel) — ONE map-only projection, all
        // three trained tables riding as codegen reference objects. The
        // oracle replays ALL THREE non-trivial families independently
        // (the q181 sequential fold, the q188 greedy recursion, the
        // q191 DP) off their existing aux dumps, so this also gates that
        // the kernels compose without interference in one codegen span.
        Tokenizers.profile(Tables.documents(s, d),
            q166Train(s, d).merges.map(m => (m._2, m._3)),
            q188Vocab(s, d), q191Pieces(s, d))
          .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE
             |m AS MATERIALIZED (SELECT round, lhs, rhs
             |  FROM read_parquet('$OracleAuxDir/q181_merges/*.parquet')),
             |v AS MATERIALIZED (SELECT piece, cont
             |  FROM read_parquet('$OracleAuxDir/q188_vocab/*.parquet')),
             |p AS MATERIALIZED (SELECT piece, cost
             |  FROM read_parquet('$OracleAuxDir/q191_pieces/*.parquet')),
             |enc AS (
             |  SELECT doc_id, 0 AS r, replace(text, ' ', chr(31)) AS state
             |  FROM documents WHERE text IS NOT NULL
             |  UNION ALL
             |  SELECT e.doc_id, e.r + 1,
             |    list_reduce(string_split(e.state, chr(31)),
             |      (acc, x) -> CASE WHEN (acc = m.lhs
             |                             OR ends_with(acc, chr(31) || m.lhs))
             |                        AND x = m.rhs
             |                  THEN acc || ' ' || x
             |                  ELSE acc || chr(31) || x END)
             |  FROM enc e JOIN m ON m.round = e.r + 1),
             |bpe AS (SELECT doc_id,
             |    CAST(len(string_split(state, chr(31))) AS BIGINT) AS n_bpe
             |  FROM enc WHERE r = (SELECT MAX(round) FROM m)),
             |wwords AS (SELECT doc_id, i AS widx, toks[i] AS word
             |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
             |        FROM documents WHERE text IS NOT NULL),
             |       unnest(range(1, len(toks) + 1)) AS u(i)
             |  WHERE toks[i] <> ''),
             |step AS (
             |  SELECT doc_id, widx, word, 1 AS pos, 0 AS n FROM wwords
             |  UNION ALL
             |  SELECT s.doc_id, s.widx, s.word, s.pos + mm.l, s.n + 1
             |  FROM step s,
             |    LATERAL (SELECT coalesce(MAX(len(v.piece)), 1) AS l
             |             FROM v WHERE v.cont = (s.pos > 1)
             |               AND v.piece = substr(s.word, s.pos, len(v.piece))) mm
             |  WHERE s.pos <= len(s.word)),
             |wp AS (SELECT doc_id, SUM(n) AS n_wp
             |  FROM step WHERE pos > len(word) GROUP BY doc_id),
             |uw AS (SELECT DISTINCT word FROM wwords),
             |dp AS (
             |  SELECT word, 0 AS pos, CAST([0] AS BIGINT[]) AS best FROM uw
             |  UNION ALL
             |  SELECT d.word, d.pos + 1,
             |    list_append(d.best, coalesce(
             |      (SELECT MIN(d.best[d.pos + 2 - l.l] + p.cost)
             |       FROM unnest([1, 2, 3, 4]) AS l(l)
             |       JOIN p ON p.piece = substr(d.word, d.pos + 2 - l.l, l.l)
             |       WHERE l.l <= d.pos + 1),
             |      d.best[d.pos + 1] + 1000000000000))
             |  FROM dp d WHERE d.pos < len(d.word)),
             |wcost AS (SELECT word, best[len(word) + 1] AS cost
             |          FROM dp WHERE pos = len(word)),
             |ug AS (SELECT w.doc_id,
             |    SUM((c.cost + 1000000000000 - 1) // 1000000000000) AS n_ug
             |  FROM wwords w JOIN wcost c USING (word) GROUP BY 1)
             |SELECT d.doc_id,
             |  CAST(len(list_filter(string_split(d.text, ' '), x -> x <> ''))
             |    AS BIGINT) AS n_ws,
             |  bpe.n_bpe,
             |  CAST(coalesce(wp.n_wp, 0) AS BIGINT) AS n_wp,
             |  CAST(coalesce(ug.n_ug, 0) AS BIGINT) AS n_ug
             |FROM documents d JOIN bpe USING (doc_id)
             |  LEFT JOIN wp USING (doc_id) LEFT JOIN ug USING (doc_id)
             |WHERE d.text IS NOT NULL
             |ORDER BY d.doc_id""".stripMargin)),

    ("q194_wordpiece_maintained",
      (s: SparkSession, d: String) => {
        // the maintained vocabulary store under the gate: the corpus
        // ingested as three residue folds with a REPLAYED batch, a
        // mid-stream compaction, and a post-compaction replay at the
        // watermark (skipped by the guard) — then the WordPiece
        // vocabulary derived FROM THE STORE encodes the corpus and must
        // answer q188's greedy-replay oracle VERBATIM: additive count
        // folds are arrival-order-free, so the maintained counts equal
        // the one-shot aggregation bit-for-bit, and identical counts
        // force the identical vocabulary (ties break on the piece).
        val st = q194StoreBuild(s, d)
        val vocab = graft.streaming.VocabStream.wordPieceVocab(s, st)
        WordPiece.encode(Tables.documents(s, d), vocab).orderBy("doc_id")
      },
      Some(wordPieceEncodeOracleSql)),

    ("q195_unigram_maintained",
      (s: SparkSession, d: String) => {
        // the SAME maintained store serves the unigram inventory (the
        // substring weights derive from word counts alone) — q191's
        // Viterbi-DP oracle answered verbatim off the maintained path;
        // one store, every frequency-derived tokenizer artifact.
        val st = q194StoreBuild(s, d)
        val pieces = graft.streaming.VocabStream.unigramPieces(s, st)
        Unigram.viterbiStats(Tables.documents(s, d), pieces).orderBy("doc_id")
      },
      Some(unigramViterbiOracleSql)),

    ("q196_unigram_em",
      (s: SparkSession, d: String) =>
        // unigram-LM EM TRAINING (Kudo 2018 §3.2, deterministic hard-EM
        // with integer weights): a 48-piece seed inventory prunes to 24
        // through 2 EM iterations — E-step segments the vocabulary with
        // the exact-Viterbi kernel (backtrace tie-break: longest piece
        // achieving the optimal cost), M-step re-derives costs from
        // frequency-weighted USAGE and keeps chars + the top-24 used
        // multis. Query = per-doc Viterbi stats under the TRAINED
        // inventory. Only the SEED rides the q196_seed aux dump: the
        // oracle replays BOTH full EM iterations — forward DP,
        // backtrace, usage accounting, pruning — and the final
        // segmentation pass in SQL, so neither the trainer loop nor the
        // kernel is trusted from the engine; any drift in a tie-break,
        // the fallback, usage weighting, or the prune rule hash-fails.
        Unigram.viterbiStats(Tables.documents(s, d), q196Train(s, d).pieces)
          .orderBy("doc_id"),
      Some(q196ReplaySql)),

    ("q197_bpe_maintained",
      (s: SparkSession, d: String) => {
        // the MAINTAINED BPE path under the gate: character-grain
        // training (Sennrich ACL'16 — each distinct word a char
        // sequence weighted by its count) over the SAME maintained
        // vocabulary store as q194/q195, because the word-count
        // multiset is the trainer's additive sufficient statistic —
        // the store folds it exactly, so the store-derived merge table
        // must equal the one-shot table bit-for-bit. The oracle replays
        // the adoption greedy over the ONE-SHOT window spectra
        // (q197_windows aux): a store fold bug, a weighting bug, or any
        // greedy drift hash-fails. (The corpus-grain q166 trainer is
        // NOT maintainable this way — cross-word adjacency is not
        // additive under rewrites — which is why the production-scale
        // maintained path trains from counts.)
        import s.implicits._
        q197StoreMerges(s, d).toDF("round", "lhs", "rhs", "pair_count")
          .orderBy("round")
      },
      Some(bpeAdoptionReplaySql("q197_windows", rounds = 48, cap = 16))),

    ("q198_bpe_encode_maintained",
      (s: SparkSession, d: String) => {
        // char-grain ENCODE through the STORE-derived merge table — the
        // maintained trainer's production inference step: one map-only
        // pass, no shuffle, each word folded through the depth-
        // independent indexed kernel. The oracle replays the encode
        // SEQUENTIALLY (the q181 fold at char grain) from the ONE-SHOT
        // merge table (q197_merges aux), so both the kernel routing AND
        // the store-vs-one-shot table equality are under the hash.
        val table = q197StoreMerges(s, d).map(m => (m._2, m._3))
        TextAnalysis.bpeEncodeWords(Tables.documents(s, d), table)
          .orderBy("doc_id")
      },
      Some(q198ReplaySql)),

    ("q199_bfd_pack",
      (s: SparkSession, d: String) => {
        // best-fit-decreasing packing within id-range buckets — the
        // padding-minimizing complement to q55's id-order greedy (docs
        // never split; bins never overflow, so padding is exact).
        // Global BFD is inherently sequential, so the scale unit is
        // the bucket: exact BFD per bucket, buckets independent and
        // parallel, per-task memory bounded by bucketSize docs. The
        // oracle re-runs EVERY placement sequentially in SQL — the
        // (tokens desc, id) arrival order, the fullest-fitting-bin
        // rule, the lowest-index tie-break, and the new-bin/oversized
        // fallback all hash-gate.
        val toks = Tables.documents(s, d).select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        Sharding.bfdPack(toks, "doc_id", "n_tokens",
            capacity = 256L, bucketSize = 128L)
          .orderBy("doc_id")
      },
      Some(q199ReplaySql)),

    ("q200_gopher_drift_maintained",
      (s: SparkSession, d: String) => {
        // the maintained PER-SOURCE Gopher rule card under the gate —
        // the drift monitor DriftStream's global scalar PSI cannot
        // express (VERDICT r12 #6: checked, NOT subsumed — PSI has no
        // source axis and no per-rule attribution): corpus ingested as
        // three folds with a replayed batch, a mid-stream compaction,
        // and a replay at the watermark, then the per-(source, rule)
        // document/failure counts must equal DuckDB's full
        // recomputation from raw text — additive counts are
        // arrival-order-free, the q194/q197 discipline.
        val st = q200StoreBuild(s, d)
        graft.streaming.GopherStream.ruleCard(s, st)
          .orderBy("source", "rule")
      },
      Some(q200OracleSql)),

    ("q201_kn_loglik",
      (s: SparkSession, d: String) =>
        // interpolated Kneser-Ney bigram scoring (the KenLM smoothing,
        // upgrading q106's Laplace baseline): discount D from the
        // bigram count-of-counts, back-off weight from distinct right
        // continuations, continuation probability from distinct left
        // continuations — every model quantity an integer count or a
        // ratio of integers, so the oracle re-derives the WHOLE model
        // (c12/history/continuation frames, n1/n2 → D, the interpolated
        // probability, the per-doc average) from raw text. Self-scored
        // (train = corpus), the q106 convention.
        NgramLM.knLogLik(Tables.documents(s, d),
            Tables.documents(s, d), 2).orderBy("doc_id"),
      Some(knOracleSql)),

    ("q202_kn_maintained",
      (s: SparkSession, d: String) => {
        // the MAINTAINED Kneser-Ney model under the gate: bigram counts
        // folded incrementally by NgramCountStream (three residue folds
        // with a replayed batch, a mid-stream compaction, a replay at
        // the watermark), then the corpus scored against the
        // store-derived model must answer q201's full-recomputation
        // oracle VERBATIM — the bigram-count multiset is the KN model's
        // additive sufficient statistic (continuation counts are NOT
        // additive, which is why the store keeps counts and derives the
        // distincts at read time).
        val st = ngramStoreBuild(s, d, 2)
        NgramLM.knLogLikFromCounts(Tables.documents(s, d),
            graft.streaming.NgramCountStream.counts(s, st, 2))
          .orderBy("doc_id")
      },
      Some(knOracleSql)),

    ("q203_kn3_loglik",
      (s: SparkSession, d: String) =>
        // TRIGRAM interpolated Kneser-Ney (Chen & Goodman 1999 §3) —
        // the recursion q201 is the base case of, with the middle
        // order estimated from CONTINUATION counts ĉ(w2,w3) =
        // N1+(·,w2,w3) (how many distinct histories precede the
        // bigram), NOT raw bigram counts — the distinction that makes
        // KN KN. Every model frame derives from the one distinct-
        // trigram type table; the oracle re-derives the WHOLE
        // two-level model (both discounts from count-of-counts, both
        // back-off weights, the continuation distribution) from raw
        // text. Self-scored, the q106/q201 convention.
        NgramLM.knLogLik(Tables.documents(s, d),
            Tables.documents(s, d), 3).orderBy("doc_id"),
      Some(trigramKnOracleSql)),

    ("q204_kn3_maintained",
      (s: SparkSession, d: String) => {
        // the MAINTAINED trigram-KN model under the gate (VERDICT r13
        // roadmap #2): trigram counts folded incrementally by
        // NgramCountStream — three residue folds with a replayed batch, a
        // mid-stream compaction, a replay at the watermark — then the
        // corpus scored against the store-derived model must answer
        // q203's full-recomputation oracle VERBATIM: the trigram-count
        // multiset is the two-level model's additive sufficient
        // statistic (NO type-level quantity — ĉ, any N1+, n1/n2 — is
        // additive, so the store keeps counts and derives the type
        // table at read time, where it is trigram-vocabulary-sized).
        val st = ngramStoreBuild(s, d, 3)
        NgramLM.knLogLikFromCounts(Tables.documents(s, d),
            graft.streaming.NgramCountStream.counts(s, st, 3))
          .orderBy("doc_id")
      },
      Some(trigramKnOracleSql)),

    ("q205_kn_pruned",
      (s: SparkSession, d: String) =>
        // ENTROPY-PRUNED interpolated KN (Stolcke 1998; the
        // SRILM -prune / KenLM-filter deployment step, VERDICT r13
        // roadmap #6): explicit bigram entries whose removal costs
        // < eps weighted log-likelihood drop from the model, and each
        // history's back-off weight RENORMALIZES over the survivors
        // (Σ P = 1 exactly, spec-pinned). Self-scoring routes every
        // pruned entry through the renormalized back-off arm, so the
        // oracle's independent replay of the loss table, the kept
        // set, and the γ renormalization all sit under the hash; γ
        // derives from integer per-history aggregates (k, Σc12, Σnb),
        // so no floating-point accumulation order can drift between
        // engines.
        NgramLM.knPrunedLogLik(Tables.documents(s, d),
            Tables.documents(s, d), 2, Q205Eps).orderBy("doc_id"),
      Some(knPrunedOracleSql)),

    ("q206_kn_pruned_maintained",
      (s: SparkSession, d: String) => {
        // the PRUNED model from the MAINTAINED store — the deployment
        // composition: the bigram store's folded counts feed the Stolcke
        // prune + γ renormalization, and because the pruned model is a
        // pure function of the additive count multiset exactly like the
        // full model, the maintained pruned scores answer q205's
        // one-shot oracle VERBATIM (same store as q202; the store is
        // built once and serves full and pruned reads alike).
        val st = ngramStoreBuild(s, d, 2)
        NgramLM.knPrunedLogLikFromCounts(Tables.documents(s, d),
            graft.streaming.NgramCountStream.counts(s, st, 2), Q205Eps)
          .orderBy("doc_id")
      },
      Some(knPrunedOracleSql)),

    ("q207_kn3_pruned",
      (s: SparkSession, d: String) =>
        // entropy-pruned TRIGRAM KN — q205's criterion at q203's order.
        // The γ telescope stays integer-derivable one order up because
        // the (w1,w2) history FIXES w2: every kept continuation's
        // mid-level probability shares the (ĉ(w2,·), N1+(w2,·))
        // denominators, so Σ_kept P̂ reduces to per-history integer
        // aggregates (k, Σc123, Σĉ, Σnb) and the oracle replays the
        // loss table, the kept set, and γ3 with no fp-order anywhere.
        // Self-scored; eps = 1e-4 per-token nats prunes a real split
        // of the trigram table at both gate SFs (9,408 of 16,245
        // types at sf0.01; 10,576 of 27,213 at sf0.1).
        NgramLM.knPrunedLogLik(Tables.documents(s, d),
            Tables.documents(s, d), 3, Q207Eps).orderBy("doc_id"),
      Some(trigramKnPrunedOracleSql)),

    ("q208_kn3_pruned_maintained",
      (s: SparkSession, d: String) => {
        // q206's composition one order up: the trigram store's folded
        // counts feed the trigram prune + γ3 renormalization and must
        // answer q207's one-shot oracle verbatim (same store as q204).
        val st = ngramStoreBuild(s, d, 3)
        NgramLM.knPrunedLogLikFromCounts(Tables.documents(s, d),
            graft.streaming.NgramCountStream.counts(s, st, 3), Q207Eps)
          .orderBy("doc_id")
      },
      Some(trigramKnPrunedOracleSql)),

    ("q209_kn_model_export",
      (s: SparkSession, d: String) => {
        // the SERVING seam under the gate: the pruned model EXPORTS as
        // three bounded parquet tables (entries/backoff/cont —
        // KnModel), loads back, and scores with NO raw counts and no
        // model re-derivation — three equi-joins against the artifact.
        // The stored doubles are the in-memory scorer's values and
        // parquet round-trips IEEE bits, so the loop must answer
        // q205's full-recomputation oracle VERBATIM: export, file
        // round-trip, and load-side arms all hash-gate.
        val st = knModelBuild(s, d, 2, Q205Eps)
        graft.ext.KnModel.score(s, st, Tables.documents(s, d))
          .orderBy("doc_id")
      },
      Some(knPrunedOracleSql)),

    ("q210_kn3_model_export",
      (s: SparkSession, d: String) => {
        // the SERVING seam at the TRIGRAM order (VERDICT r14 roadmap
        // #2 — the model a production quality filter actually ships):
        // q207's pruned trigram model exports as FIVE bounded parquet
        // tables (entries/backoff12/mid/backoff2/cont, the columnar
        // pruned-ARPA shape), loads back, and scores with NO raw
        // counts and no model re-derivation — five equi-joins against
        // the artifact. The stored doubles are the in-memory scorer's
        // values, the middle model's unseen arm reduces bit-exactly to
        // bow·pcont, and parquet round-trips IEEE bits, so the full
        // export → load → score loop answers q207's raw-text
        // full-recomputation oracle VERBATIM.
        val st = knModelBuild(s, d, 3, Q207Eps)
        graft.ext.KnModel.score(s, st, Tables.documents(s, d))
          .orderBy("doc_id")
      },
      Some(trigramKnPrunedOracleSql)),

    ("q211_kn4_loglik",
      (s: SparkSession, d: String) =>
        // 4-GRAM interpolated Kneser-Ney (VERDICT r14 #6: the order
        // ceiling, resolved by EXTENDING — production KenLM defaults
        // to order 5, and this instantiation proves the engine's
        // recursion generalizes: one more continuation-count table
        // (ĉ2 read off the ĉ3 TYPE table, the
        // continuation-of-continuations), one more count-of-counts
        // discount, nothing else changes). The oracle re-derives the
        // THREE-level model — all three discounts, both intermediate
        // continuation tables, the continuation distribution — from
        // raw text. Self-scored, the q201/q203 convention.
        NgramLM.knLogLik(Tables.documents(s, d),
            Tables.documents(s, d), 4).orderBy("doc_id"),
      Some(quadgramKnOracleSql)),

    ("q212_soft_em_estep_fixed",
      (s: SparkSession, d: String) => {
        // the published soft-EM E-step (Kudo 2018 — forward–backward
        // expected piece counts) under the DuckDB hash gate (VERDICT
        // r14 #7): each lattice occurrence's posterior α(i)·θ·β(j)/α(L)
        // rounds to ⌊e·10⁹ + 0.5⌋ BEFORE any accumulation, so every
        // sum — within a word, across words, across the corpus — is
        // INTEGER and fp-order-free; the lattice doubles themselves
        // use only +/×/÷ in fixed position/length order (no libm), so
        // the oracle's recursive-CTE replay reproduces them bit-for-bit
        // and the longs hash-match. θ derives from the q191 integer
        // piece weights (one double division of integers); the
        // inventory rides the existing q191_pieces aux dump.
        val inv = q191Pieces(s, d)
          .map { case (p, cost) => (p, graft.ext.Unigram.CostScale - cost) }
        graft.ext.Unigram.softExpectedCountsFixed(
            WordPiece.wordCounts(Tables.documents(s, d)), inv)
          .orderBy("piece")
      },
      Some(softEStepOracleSql)),

    ("q213_kn3_model_export_maintained",
      (s: SparkSession, d: String) => {
        // the FULL deployment composition, every seam under one hash:
        // the maintained trigram store (q204's folds/replay/compaction)
        // feeds the Stolcke prune and the serving export
        // (KnModel.exportFromCounts over NgramCountStream.counts),
        // the artifact round-trips through parquet, loads, and scores
        // with no raw counts — store → prune → export → load → score
        // answering q207's one-shot raw-text oracle VERBATIM (the
        // count multiset is additive, the pruned model is a pure
        // function of it, and the q210 fidelity contract covers the
        // file round-trip).
        val st = q213ModelBuild(s, d)
        graft.ext.KnModel.score(s, st, Tables.documents(s, d))
          .orderBy("doc_id")
      },
      Some(trigramKnPrunedOracleSql)),

    ("q214_soft_em_iteration_fixed",
      (s: SparkSession, d: String) => {
        // a FULL soft-EM iteration under the hash (q212 + the M-step):
        // E-step 1 produces integer fixed-point expected counts; the
        // M-step renormalizes them as one integer-ratio division per
        // piece (θ'_p = e_p / Σe — both BIGINT, so the new θ is as
        // engine-replayable as the q191 seed weights); E-step 2 runs
        // the lattice under θ'. The oracle replays BOTH lattice passes
        // and the integer M-step from the q191_pieces dump alone —
        // the published estimator's loop body, end to end, with no
        // floating-point accumulation order anywhere.
        val inv = q191Pieces(s, d)
          .map { case (p, cost) => (p, graft.ext.Unigram.CostScale - cost) }
        graft.ext.Unigram.softEmIterationFixed(
            WordPiece.wordCounts(Tables.documents(s, d)), inv)
          .orderBy("piece")
      },
      Some(softEmIterationOracleSql)),

    ("q215_kn4_maintained",
      (s: SparkSession, d: String) => {
        // the MAINTAINED 4-gram-KN model under the gate — the q204
        // composition one order up: 4-gram counts folded incrementally
        // by NgramCountStream (residue folds with a replayed batch, a
        // mid-stream compaction, a replay at the watermark), then the
        // corpus scored against the store-derived model answers q211's
        // full-recomputation oracle VERBATIM (the 4-gram count multiset
        // is the three-level model's additive sufficient statistic; no
        // type-level quantity — ĉ3, ĉ2, any N1+, any n1/n2 — is
        // additive, so the store keeps counts and derives the type
        // tables at read time).
        val st = ngramStoreBuild(s, d, 4)
        NgramLM.knLogLikFromCounts(Tables.documents(s, d),
            graft.streaming.NgramCountStream.counts(s, st, 4))
          .orderBy("doc_id")
      },
      Some(quadgramKnOracleSql)),

    ("q216_kn4_pruned",
      (s: SparkSession, d: String) =>
        // entropy-pruned 4-GRAM KN — q207's criterion at q211's order,
        // completing the pruning family at every instantiated order.
        // The γ telescope stays integer-derivable because the
        // (w1,w2,w3) history fixes BOTH lower histories: Σ_kept P̂3
        // and Σ_kept P̂2 reduce to per-history integer aggregates
        // (k, Σc1234, Σĉ3, Σĉ2, Σnb), so the oracle replays the loss
        // table, the kept set, and γ4 with no fp-order anywhere.
        // Self-scored; eps = 3e-5 per-token nats prunes a real split
        // of the 4-gram table at both gate SFs.
        NgramLM.knPrunedLogLik(Tables.documents(s, d),
            Tables.documents(s, d), 4, Q216Eps).orderBy("doc_id"),
      Some(quadgramKnPrunedOracleSql)),

    ("q217_kn4_pruned_maintained",
      (s: SparkSession, d: String) => {
        // q208's composition one order up: the 4-gram store's folded
        // counts feed the 4-gram prune + γ4 renormalization and must
        // answer q216's one-shot oracle verbatim (same store as q215).
        val st = ngramStoreBuild(s, d, 4)
        NgramLM.knPrunedLogLikFromCounts(Tables.documents(s, d),
            graft.streaming.NgramCountStream.counts(s, st, 4), Q216Eps)
          .orderBy("doc_id")
      },
      Some(quadgramKnPrunedOracleSql)),

    ("q218_kn4_model_export",
      (s: SparkSession, d: String) => {
        // the serving seam at the 4-GRAM order — export/serving now
        // exists at EVERY pruned order (q209/q210/q218): q216's model
        // ships as SEVEN bounded parquet tables (the columnar pruned
        // 4-gram ARPA shape — explicit entries, two intermediate
        // continuation models with per-history back-off weights, the
        // continuation distribution), loads back, and scores with NO
        // raw counts — seven equi-joins. Stored doubles are the
        // in-memory scorer's values, every unseen arm reduces
        // bit-exactly to bow·lower, parquet round-trips IEEE bits, so
        // the loop answers q216's full-recomputation oracle VERBATIM.
        val st = knModelBuild(s, d, 4, Q216Eps)
        graft.ext.KnModel.score(s, st, Tables.documents(s, d))
          .orderBy("doc_id")
      },
      Some(quadgramKnPrunedOracleSql)),

    ("q219_kn_model_score_sql",
      (s: SparkSession, d: String) => {
        // the SQL face of serving-artifact scoring (VERDICT r15
        // missing #3: a SQL-only user could reach the self-trained
        // kn_score/kn3_score/kn_pruned_score TVFs but NOT an exported
        // model dir — the deployment path CuratePipeline's CCNet gate
        // uses). `kn_model_score('docs', dir)` auto-detects the
        // artifact's order (KnModel.scoreAny) and normalizes the
        // schema to (doc_id, n_grams, n_oov, avg_lp); here it scores
        // q210's pruned-trigram export, so the TVF expansion must
        // answer q207's full raw-text recomputation oracle (modulo
        // the order-agnostic n_grams alias) — the whole
        // export → load → SQL-score loop under one hash.
        val st = knModelBuild(s, d, 3, Q207Eps)
        Tables.documents(s, d).createOrReplaceTempView("q219_docs")
        s.sql(s"SELECT * FROM kn_model_score('q219_docs', '$st')")
          .orderBy("doc_id")
      },
      // q207/q210's oracle verbatim, with the scoreAny-normalized
      // gram-count alias (n_trigrams → n_grams)
      Some(trigramKnPrunedOracleSql.replace("AS n_trigrams", "AS n_grams"))),

    ("q220_soft_em_pruned_iteration",
      (s: SparkSession, d: String) => {
        // the full published trainer ROUND under the hash (PLANS r15
        // candidate #1: q214 is one loop body; the trainer interleaves
        // the Kudo §3.2 prune between iterations): E-step 1 under the
        // q191 seed θ, the integer M-step, then the PRUNE — keep every
        // single-codepoint piece plus the top ⌈0.75·|multis|⌉ by
        // (e_fixed DESC, piece ASC), a purely INTEGER-ordered
        // selection — θ' renormalizes the survivors, E-step 2 runs
        // under θ'. Nothing fp-order-sensitive exists anywhere: both
        // lattice passes round per-occurrence to ⌊e·10⁹+0.5⌋ before
        // any accumulation, the kept set is an integer sort, and the
        // oracle replays passes, M-step, and prune from the
        // q191_pieces dump alone.
        val inv = q191Pieces(s, d)
          .map { case (p, cost) => (p, graft.ext.Unigram.CostScale - cost) }
        graft.ext.Unigram.softEmPrunedIterationFixed(
            WordPiece.wordCounts(Tables.documents(s, d)), inv,
            keepMultiFrac = 0.75)
          .orderBy("piece")
      },
      Some(softEmPrunedIterationOracleSql)),
  )

  /** q203's oracle: the full two-level interpolated-KN replay. D3/D2
    * inline as CASE expressions (the q201 pattern, one per level), with
    * the n1 = 0 discount floor ([[graft.ext.NgramLM.knLogLik]]'s
    * degenerate-discount guard, ADVICE r13). */
  private def trigramKnOracleSql: String = {
    val d3 = """(CASE WHEN t3.tn1 = 0 THEN 0.5
               |      ELSE CAST(t3.tn1 AS DOUBLE) / (t3.tn1 + 2 * t3.tn2) END)""".stripMargin
    val d2 = """(CASE WHEN th.hn1 = 0 THEN 0.5
               |      ELSE CAST(th.hn1 AS DOUBLE) / (th.hn1 + 2 * th.hn2) END)""".stripMargin
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |g0 AS (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
       |       FROM t WHERE len(toks) >= 3),
       |g AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3
       |      FROM g0),
       |dg AS (SELECT doc_id, w1, w2, w3, COUNT(*) AS n FROM g GROUP BY 1, 2, 3, 4),
       |c123 AS (SELECT w1, w2, w3, CAST(SUM(n) AS BIGINT) AS c123
       |         FROM dg GROUP BY 1, 2, 3),
       |h12 AS (SELECT w1, w2, CAST(SUM(c123) AS BIGINT) AS c12dot,
       |          CAST(COUNT(*) AS BIGINT) AS nf12 FROM c123 GROUP BY 1, 2),
       |chat AS (SELECT w2, w3, CAST(COUNT(*) AS BIGINT) AS chat
       |         FROM c123 GROUP BY 1, 2),
       |hh AS (SELECT w2, CAST(SUM(chat) AS BIGINT) AS chatdot,
       |         CAST(COUNT(*) AS BIGINT) AS nfhat FROM chat GROUP BY 1),
       |cont AS (SELECT w3, CAST(COUNT(*) AS BIGINT) AS nb FROM chat GROUP BY 1),
       |t3 AS (SELECT CAST(SUM(CASE WHEN c123 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tn1,
       |         CAST(SUM(CASE WHEN c123 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS tn2
       |       FROM c123),
       |th AS (SELECT CAST(COUNT(*) AS BIGINT) AS b,
       |         CAST(SUM(CASE WHEN chat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hn1,
       |         CAST(SUM(CASE WHEN chat = 2 THEN 1 ELSE 0 END) AS BIGINT) AS hn2
       |       FROM chat),
       |lp AS (SELECT dg.doc_id, dg.n,
       |         dg.n * ln(
       |           GREATEST(COALESCE(c123.c123, 0) - $d3, 0.0) / h12.c12dot
       |           + ($d3 * h12.nf12 / h12.c12dot) *
       |             (GREATEST(COALESCE(chat.chat, 0) - $d2, 0.0) / hh.chatdot
       |              + ($d2 * hh.nfhat / hh.chatdot)
       |                * (CAST(cont.nb AS DOUBLE) / th.b))) AS lp
       |       FROM dg LEFT JOIN c123 USING (w1, w2, w3)
       |         LEFT JOIN h12 USING (w1, w2)
       |         LEFT JOIN chat USING (w2, w3)
       |         LEFT JOIN hh USING (w2) LEFT JOIN cont USING (w3)
       |         CROSS JOIN t3 CROSS JOIN th)
       |SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_trigrams,
       |  CAST(0 AS BIGINT) AS n_oov,
       |  round(SUM(lp) / SUM(n), 4) AS avg_lp
       |FROM lp GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  }

  /** q211's oracle: the full THREE-level interpolated-KN replay —
    * [[trigramKnOracleSql]] one order deeper. ĉ2 marginalizes the ĉ3 TYPE
    * table (not the raw counts), D4/D3/D2 inline as CASE expressions
    * with the n1 = 0 floor; self-scored ⇒ every join hits, so the
    * direct nested formula needs no fall-through arms and n_oov pins
    * to 0 (the trigram KN oracle convention). */
  private def quadgramKnOracleSql: String = {
    val d4 = """(CASE WHEN t4.qn1 = 0 THEN 0.5
               |      ELSE CAST(t4.qn1 AS DOUBLE) / (t4.qn1 + 2 * t4.qn2) END)""".stripMargin
    val d3 = """(CASE WHEN tr.rn1 = 0 THEN 0.5
               |      ELSE CAST(tr.rn1 AS DOUBLE) / (tr.rn1 + 2 * tr.rn2) END)""".stripMargin
    val d2 = """(CASE WHEN ts.sn1 = 0 THEN 0.5
               |      ELSE CAST(ts.sn1 AS DOUBLE) / (ts.sn1 + 2 * ts.sn2) END)""".stripMargin
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |g0 AS (SELECT doc_id, toks, unnest(range(1, len(toks) - 2)) AS i
       |       FROM t WHERE len(toks) >= 4),
       |g AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2,
       |        toks[i + 2] AS w3, toks[i + 3] AS w4 FROM g0),
       |dg AS (SELECT doc_id, w1, w2, w3, w4, COUNT(*) AS n
       |       FROM g GROUP BY 1, 2, 3, 4, 5),
       |c1234 AS (SELECT w1, w2, w3, w4, CAST(SUM(n) AS BIGINT) AS c1234
       |          FROM dg GROUP BY 1, 2, 3, 4),
       |h123 AS (SELECT w1, w2, w3, CAST(SUM(c1234) AS BIGINT) AS c123dot,
       |           CAST(COUNT(*) AS BIGINT) AS nf123 FROM c1234 GROUP BY 1, 2, 3),
       |c3 AS (SELECT w2, w3, w4, CAST(COUNT(*) AS BIGINT) AS c3
       |       FROM c1234 GROUP BY 1, 2, 3),
       |h23 AS (SELECT w2, w3, CAST(SUM(c3) AS BIGINT) AS c3dot,
       |          CAST(COUNT(*) AS BIGINT) AS nf23 FROM c3 GROUP BY 1, 2),
       |c2 AS (SELECT w3, w4, CAST(COUNT(*) AS BIGINT) AS c2
       |       FROM c3 GROUP BY 1, 2),
       |h3 AS (SELECT w3, CAST(SUM(c2) AS BIGINT) AS c2dot,
       |         CAST(COUNT(*) AS BIGINT) AS nf3 FROM c2 GROUP BY 1),
       |cont AS (SELECT w4, CAST(COUNT(*) AS BIGINT) AS nb FROM c2 GROUP BY 1),
       |t4 AS (SELECT CAST(SUM(CASE WHEN c1234 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS qn1,
       |         CAST(SUM(CASE WHEN c1234 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS qn2
       |       FROM c1234),
       |tr AS (SELECT CAST(SUM(CASE WHEN c3 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS rn1,
       |         CAST(SUM(CASE WHEN c3 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS rn2
       |       FROM c3),
       |ts AS (SELECT CAST(COUNT(*) AS BIGINT) AS b,
       |         CAST(SUM(CASE WHEN c2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS sn1,
       |         CAST(SUM(CASE WHEN c2 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS sn2
       |       FROM c2),
       |lp AS (SELECT dg.doc_id, dg.n,
       |         dg.n * ln(
       |           GREATEST(COALESCE(c1234.c1234, 0) - $d4, 0.0) / h123.c123dot
       |           + ($d4 * h123.nf123 / h123.c123dot) *
       |             (GREATEST(COALESCE(c3.c3, 0) - $d3, 0.0) / h23.c3dot
       |              + ($d3 * h23.nf23 / h23.c3dot) *
       |                (GREATEST(COALESCE(c2.c2, 0) - $d2, 0.0) / h3.c2dot
       |                 + ($d2 * h3.nf3 / h3.c2dot)
       |                   * (CAST(cont.nb AS DOUBLE) / ts.b)))) AS lp
       |       FROM dg LEFT JOIN c1234 USING (w1, w2, w3, w4)
       |         LEFT JOIN h123 USING (w1, w2, w3)
       |         LEFT JOIN c3 USING (w2, w3, w4)
       |         LEFT JOIN h23 USING (w2, w3)
       |         LEFT JOIN c2 USING (w3, w4)
       |         LEFT JOIN h3 USING (w3) LEFT JOIN cont USING (w4)
       |         CROSS JOIN t4 CROSS JOIN tr CROSS JOIN ts)
       |SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_quadgrams,
       |  CAST(0 AS BIGINT) AS n_oov,
       |  round(SUM(lp) / SUM(n), 4) AS avg_lp
       |FROM lp GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  }

  /** q212's oracle: DuckDB replays the forward–backward lattice per
    * distinct word from the q191_pieces dump alone — α carried as a
    * growing DOUBLE[] through a forward recursion, β through a
    * backward one (list_prepend keeps β(pos) at index 1, so β(pos+l)
    * is the PREVIOUS row's b[l]) — then rounds each occurrence posterior
    * to fixed point and integer-sums. Bit-exactness argument: both
    * engines evaluate the identical IEEE expression tree in the
    * identical order — the α step is t1 + t2 + t3 + t4 with missing
    * pieces contributing +0.0 (an IEEE identity on the non-negative
    * lattice values), each term α(p−l)·θ with α first; the β step
    * θ·β(p+l) with θ first; the posterior ((α·θ)·β)/z; the rounding
    * floor(e·10⁹ + 0.5) — and every sum after the floor is BIGINT. */
  /** One forward–backward lattice pass as a CTE block against
    * inventory CTE `inv` (piece, th): the α/β recursions per distinct
    * word plus the per-occurrence fixed-point posteriors — shared by
    * the q212 (single-pass) and q214 (two passes with the integer
    * M-step between) oracles. CTE names suffixed with `sfx` so two
    * passes coexist in one WITH RECURSIVE.
    *
    * Formulation notes, all forced by a DuckDB 1.0.0 executor bug
    * found while gating q214 (a recursive CTE whose step reads another
    * CTE that itself aggregates a recursion comes back CORRUPT when
    * re-consumed downstream — lists zero out or null out, while the
    * same values project correctly when queried directly):
    *  - θ lookups in the recursive steps are LEFT JOINs, not
    *    correlated scalar subqueries (the subquery form re-executes
    *    the upstream chain per row and breaks; the join form is also
    *    what a sane engine plans). Position guards ride inside CASE,
    *    so an out-of-range substr can never contribute even if it
    *    accidentally matches a piece.
    *  - β builds FORWARD from the word's end via list_append
    *    (b[m] = β(len−m+1)); the natural list_prepend version is the
    *    one that zeroed out downstream.
    *  - the α(L) > 0 coverage guard is a CASE inside cf, not a WHERE
    *    (comparisons on recursion-carried list elements misfilter in
    *    the bug's presence); an uncoverable word contributes cf = 0
    *    everywhere, matching the engine's skip, and HAVING drops
    *    zero-total pieces on both sides.
    * Bit-exactness is untouched: the IEEE expression order is the
    * kernel's (α-step t1+t2+t3+t4 with +0.0 identities, α·θ then
    * θ·β, ((α·θ)·β)/z, floor(e·10⁹ + 0.5)). */
  private def softLatticeBlock(sfx: String, inv: String): String =
    s"""fa$sfx AS (
       |  SELECT word, 0 AS pos, CAST([1.0] AS DOUBLE[]) AS a FROM uw
       |  UNION ALL
       |  SELECT d.word, d.pos + 1,
       |    list_append(d.a,
       |      coalesce(d.a[d.pos + 1] * t1.th, 0.0)
       |      + coalesce(CASE WHEN d.pos >= 1 THEN d.a[d.pos] * t2.th END, 0.0)
       |      + coalesce(CASE WHEN d.pos >= 2 THEN d.a[d.pos - 1] * t3.th END, 0.0)
       |      + coalesce(CASE WHEN d.pos >= 3 THEN d.a[d.pos - 2] * t4.th END, 0.0))
       |  FROM fa$sfx d
       |  LEFT JOIN $inv t1 ON t1.piece = substr(d.word, d.pos + 1, 1)
       |  LEFT JOIN $inv t2 ON t2.piece = substr(d.word, d.pos, 2)
       |  LEFT JOIN $inv t3 ON t3.piece = substr(d.word, d.pos - 1, 3)
       |  LEFT JOIN $inv t4 ON t4.piece = substr(d.word, d.pos - 2, 4)
       |  WHERE d.pos < len(d.word)),
       |fb$sfx AS (
       |  SELECT word, 0 AS k, CAST([1.0] AS DOUBLE[]) AS b FROM uw
       |  UNION ALL
       |  SELECT d.word, d.k + 1,
       |    list_append(d.b,
       |      coalesce(t1.th * d.b[d.k + 1], 0.0)
       |      + coalesce(CASE WHEN d.k >= 1 THEN t2.th * d.b[d.k] END, 0.0)
       |      + coalesce(CASE WHEN d.k >= 2 THEN t3.th * d.b[d.k - 1] END, 0.0)
       |      + coalesce(CASE WHEN d.k >= 3 THEN t4.th * d.b[d.k - 2] END, 0.0))
       |  FROM fb$sfx d
       |  LEFT JOIN $inv t1 ON t1.piece = substr(d.word, len(d.word) - d.k, 1)
       |  LEFT JOIN $inv t2 ON t2.piece = substr(d.word, len(d.word) - d.k, 2)
       |  LEFT JOIN $inv t3 ON t3.piece = substr(d.word, len(d.word) - d.k, 3)
       |  LEFT JOIN $inv t4 ON t4.piece = substr(d.word, len(d.word) - d.k, 4)
       |  WHERE d.k < len(d.word)),
       |wa$sfx AS (SELECT word, a FROM fa$sfx WHERE pos = len(word)),
       |wb$sfx AS (SELECT word, b FROM fb$sfx WHERE k = len(word)),
       |occ$sfx AS (SELECT pp.piece,
       |    CAST(CASE WHEN wa.a[len(u.word) + 1] > 0
       |      THEN floor(wa.a[i.i + 1] * pp.th
       |                 * wb.b[len(u.word) - (i.i + l.l) + 1]
       |                 / wa.a[len(u.word) + 1] * 1000000000.0 + 0.5)
       |      ELSE 0.0 END AS BIGINT) AS cf,
       |    u.n
       |  FROM uw u, wa$sfx wa, wb$sfx wb,
       |    unnest(range(0, len(u.word))) AS i(i),
       |    unnest([1, 2, 3, 4]) AS l(l), $inv pp
       |  WHERE wa.word = u.word AND wb.word = u.word
       |    AND l.l <= len(u.word) - i.i
       |    AND pp.piece = substr(u.word, i.i + 1, l.l))""".stripMargin

  /** The shared preamble: seed θ from the q191 integer weights, plus
    * the distinct-word frame both lattice passes scan. */
  private def softOraclePreamble: String =
    s"""pw AS MATERIALIZED (SELECT piece, 1000000000000 - cost AS w
       |  FROM read_parquet('$OracleAuxDir/q191_pieces/*.parquet')),
       |p0 AS MATERIALIZED (SELECT piece,
       |    CAST(w AS DOUBLE) / (SELECT CAST(SUM(w) AS DOUBLE) FROM pw) AS th
       |  FROM pw),
       |words AS (SELECT toks[i] AS word
       |  FROM (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |        FROM documents WHERE text IS NOT NULL),
       |       unnest(range(1, len(toks) + 1)) AS u(i)),
       |uw AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM words GROUP BY 1)""".stripMargin

  private def softEStepOracleSql: String =
    s"""WITH RECURSIVE
       |$softOraclePreamble,
       |${softLatticeBlock("0", "p0")}
       |SELECT piece, CAST(SUM(cf * n) AS BIGINT) AS e_fixed
       |FROM occ0 GROUP BY piece
       |HAVING SUM(cf * n) > 0
       |ORDER BY piece""".stripMargin

  /** q214's oracle: both lattice passes plus the integer M-step —
    * θ'_p = e_p / Σe over the pass-1 BIGINT expected counts (one
    * double division of integers per piece, the p0 discipline), then
    * pass 2 under θ'. */
  private def softEmIterationOracleSql: String =
    s"""WITH RECURSIVE
       |$softOraclePreamble,
       |${softLatticeBlock("0", "p0")},
       |e1 AS MATERIALIZED (SELECT piece, CAST(SUM(cf * n) AS BIGINT) AS e
       |  FROM occ0 GROUP BY piece HAVING SUM(cf * n) > 0),
       |p1 AS MATERIALIZED (SELECT piece,
       |    CAST(e AS DOUBLE) / (SELECT CAST(SUM(e) AS DOUBLE) FROM e1) AS th
       |  FROM e1),
       |${softLatticeBlock("1", "p1")}
       |SELECT piece, CAST(SUM(cf * n) AS BIGINT) AS e_fixed
       |FROM occ1 GROUP BY piece
       |HAVING SUM(cf * n) > 0
       |ORDER BY piece""".stripMargin

  /** q220's oracle: the q214 two-pass replay with the Kudo prune
    * between the iterations — singles always kept, multis ranked by
    * (e DESC, piece ASC) and cut at ⌈0.75·|multis|⌉ (both engines
    * compute ceil over the same IEEE product of an integer count), θ'
    * renormalized over the survivors' BIGINT counts. The MATERIALIZED
    * chain follows the softLatticeBlock scaladoc's DuckDB-1.0.0
    * discipline: every frame a recursion consumes is materialized. */
  private def softEmPrunedIterationOracleSql: String =
    s"""WITH RECURSIVE
       |$softOraclePreamble,
       |${softLatticeBlock("0", "p0")},
       |e1 AS MATERIALIZED (SELECT piece, CAST(SUM(cf * n) AS BIGINT) AS e
       |  FROM occ0 GROUP BY piece HAVING SUM(cf * n) > 0),
       |km AS MATERIALIZED (SELECT piece, e,
       |    ROW_NUMBER() OVER (ORDER BY e DESC, piece) AS rn
       |  FROM e1 WHERE len(piece) > 1),
       |inv1 AS MATERIALIZED (
       |  SELECT piece, e FROM e1 WHERE len(piece) = 1
       |  UNION ALL
       |  SELECT piece, e FROM km
       |  WHERE rn <= CAST(ceil(0.75 * (SELECT COUNT(*) FROM km)) AS BIGINT)),
       |p1 AS MATERIALIZED (SELECT piece,
       |    CAST(e AS DOUBLE) / (SELECT CAST(SUM(e) AS DOUBLE) FROM inv1) AS th
       |  FROM inv1),
       |${softLatticeBlock("1", "p1")}
       |SELECT piece, CAST(SUM(cf * n) AS BIGINT) AS e_fixed
       |FROM occ1 GROUP BY piece
       |HAVING SUM(cf * n) > 0
       |ORDER BY piece""".stripMargin

  /** q216/q217's pruning threshold (per-token nats at the 4-GRAM
    * order — below [[Q207Eps]] because 4-gram types are rarer still
    * and per-type losses sit lower). `final`: the [[Q205Eps]]
    * initialization-order constraint applies verbatim. */
  private final val Q216Eps = 3e-5

  /** q216/q217's oracle: the full three-level interpolated-KN replay
    * (the 4-gram KN oracle) EXTENDED with the Stolcke prune — DuckDB
    * re-derives the loss table over explicit 4-gram entries, the kept
    * set at eps, every (w1,w2,w3) history's renormalized γ4 from the
    * same integer aggregates (k, Σc1234, Σĉ3, Σĉ2, Σnb), and scores.
    * Self-scored ⇒ the OOV arm is unreachable (n_oov pinned 0). */
  private def quadgramKnPrunedOracleSql: String = {
    val d4 = """(CASE WHEN t4.qn1 = 0 THEN 0.5
               |      ELSE CAST(t4.qn1 AS DOUBLE) / (t4.qn1 + 2 * t4.qn2) END)""".stripMargin
    val d3 = """(CASE WHEN tr.rn1 = 0 THEN 0.5
               |      ELSE CAST(tr.rn1 AS DOUBLE) / (tr.rn1 + 2 * tr.rn2) END)""".stripMargin
    val d2 = """(CASE WHEN ts.sn1 = 0 THEN 0.5
               |      ELSE CAST(ts.sn1 AS DOUBLE) / (ts.sn1 + 2 * ts.sn2) END)""".stripMargin
    val pL2Seen =
      s"""((c2.c2 - $d2) / h3.c2dot
         |    + ($d2 * h3.nf3 / h3.c2dot) * (CAST(cont.nb AS DOUBLE) / ts.b))""".stripMargin
    val pL3Seen =
      s"""((c3.c3 - $d3) / h23.c3dot
         |    + ($d3 * h23.nf23 / h23.c3dot) * $pL2Seen)""".stripMargin
    val pL2 =
      s"""(CASE WHEN cont.nb IS NOT NULL AND h3.c2dot IS NOT NULL THEN
         |       GREATEST(COALESCE(c2.c2, 0) - $d2, 0.0) / h3.c2dot
         |       + ($d2 * h3.nf3 / h3.c2dot) * (CAST(cont.nb AS DOUBLE) / ts.b)
         |     WHEN cont.nb IS NOT NULL THEN CAST(cont.nb AS DOUBLE) / ts.b
         |     ELSE NULL END)""".stripMargin
    val pL3 =
      s"""(CASE WHEN h23.c3dot IS NOT NULL AND $pL2 IS NOT NULL THEN
         |       GREATEST(COALESCE(c3.c3, 0) - $d3, 0.0) / h23.c3dot
         |       + ($d3 * h23.nf23 / h23.c3dot) * $pL2
         |     ELSE $pL2 END)""".stripMargin
    val sumPL2 =
      s"""((CAST(gam.s2 AS DOUBLE) - gam.k * $d2) / h3.c2dot
         |    + ($d2 * h3.nf3 / h3.c2dot) * (CAST(gam.snb AS DOUBLE) / ts.b))""".stripMargin
    val sumPL3 =
      s"""((CAST(gam.s3 AS DOUBLE) - gam.k * $d3) / h23.c3dot
         |    + ($d3 * h23.nf23 / h23.c3dot) * $sumPL2)""".stripMargin
    val sumPHi =
      s"""((CAST(gam.s1234 AS DOUBLE) - gam.k * $d4) / h123.c123dot
         |    + ($d4 * h123.nf123 / h123.c123dot) * $sumPL3)""".stripMargin
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |g0 AS (SELECT doc_id, toks, unnest(range(1, len(toks) - 2)) AS i
       |       FROM t WHERE len(toks) >= 4),
       |g AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2,
       |        toks[i + 2] AS w3, toks[i + 3] AS w4 FROM g0),
       |dg AS (SELECT doc_id, w1, w2, w3, w4, COUNT(*) AS n
       |       FROM g GROUP BY 1, 2, 3, 4, 5),
       |c1234 AS (SELECT w1, w2, w3, w4, CAST(SUM(n) AS BIGINT) AS c1234
       |          FROM dg GROUP BY 1, 2, 3, 4),
       |h123 AS (SELECT w1, w2, w3, CAST(SUM(c1234) AS BIGINT) AS c123dot,
       |           CAST(COUNT(*) AS BIGINT) AS nf123 FROM c1234 GROUP BY 1, 2, 3),
       |c3 AS (SELECT w2, w3, w4, CAST(COUNT(*) AS BIGINT) AS c3
       |       FROM c1234 GROUP BY 1, 2, 3),
       |h23 AS (SELECT w2, w3, CAST(SUM(c3) AS BIGINT) AS c3dot,
       |          CAST(COUNT(*) AS BIGINT) AS nf23 FROM c3 GROUP BY 1, 2),
       |c2 AS (SELECT w3, w4, CAST(COUNT(*) AS BIGINT) AS c2
       |       FROM c3 GROUP BY 1, 2),
       |h3 AS (SELECT w3, CAST(SUM(c2) AS BIGINT) AS c2dot,
       |         CAST(COUNT(*) AS BIGINT) AS nf3 FROM c2 GROUP BY 1),
       |cont AS (SELECT w4, CAST(COUNT(*) AS BIGINT) AS nb FROM c2 GROUP BY 1),
       |t4 AS (SELECT CAST(SUM(CASE WHEN c1234 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS qn1,
       |         CAST(SUM(CASE WHEN c1234 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS qn2,
       |         CAST(SUM(c1234) AS BIGINT) AS n4
       |       FROM c1234),
       |tr AS (SELECT CAST(SUM(CASE WHEN c3 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS rn1,
       |         CAST(SUM(CASE WHEN c3 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS rn2
       |       FROM c3),
       |ts AS (SELECT CAST(COUNT(*) AS BIGINT) AS b,
       |         CAST(SUM(CASE WHEN c2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS sn1,
       |         CAST(SUM(CASE WHEN c2 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS sn2
       |       FROM c2),
       |kept AS (SELECT c1234.w1, c1234.w2, c1234.w3, c1234.w4,
       |           c1234.c1234, c3.c3, c2.c2, cont.nb
       |         FROM c1234 JOIN h123 USING (w1, w2, w3)
       |           JOIN c3 USING (w2, w3, w4) JOIN h23 USING (w2, w3)
       |           JOIN c2 USING (w3, w4) JOIN h3 USING (w3)
       |           JOIN cont USING (w4)
       |           CROSS JOIN t4 CROSS JOIN tr CROSS JOIN ts
       |         WHERE round((CAST(c1234.c1234 AS DOUBLE) / t4.n4) * (
       |             ln((c1234.c1234 - $d4) / h123.c123dot
       |                + ($d4 * h123.nf123 / h123.c123dot) * $pL3Seen)
       |             - ln(($d4 * h123.nf123 / h123.c123dot) * $pL3Seen)), 9)
       |           >= $Q216Eps),
       |gam AS (SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS k,
       |          CAST(SUM(c1234) AS BIGINT) AS s1234,
       |          CAST(SUM(c3) AS BIGINT) AS s3,
       |          CAST(SUM(c2) AS BIGINT) AS s2,
       |          CAST(SUM(nb) AS BIGINT) AS snb
       |        FROM kept GROUP BY 1, 2, 3),
       |kf AS (SELECT w1, w2, w3, w4, TRUE AS iskept FROM kept),
       |lp AS (SELECT dg.doc_id, dg.n,
       |         dg.n * ln(CASE
       |           WHEN kf.iskept THEN
       |             (c1234.c1234 - $d4) / h123.c123dot
       |             + ($d4 * h123.nf123 / h123.c123dot) * $pL3
       |           WHEN h123.c123dot IS NOT NULL AND $pL3 IS NOT NULL THEN
       |             (CASE WHEN gam.k IS NULL THEN 1.0
       |                   WHEN 1.0 - $sumPL3 <= 0.0 THEN 1.0
       |                   ELSE (1.0 - $sumPHi) / (1.0 - $sumPL3) END)
       |             * $pL3
       |           ELSE $pL3 END) AS lp
       |       FROM dg LEFT JOIN c1234 USING (w1, w2, w3, w4)
       |         LEFT JOIN kf USING (w1, w2, w3, w4)
       |         LEFT JOIN h123 USING (w1, w2, w3)
       |         LEFT JOIN c3 USING (w2, w3, w4)
       |         LEFT JOIN h23 USING (w2, w3)
       |         LEFT JOIN c2 USING (w3, w4)
       |         LEFT JOIN h3 USING (w3) LEFT JOIN cont USING (w4)
       |         LEFT JOIN gam USING (w1, w2, w3)
       |         CROSS JOIN t4 CROSS JOIN tr CROSS JOIN ts)
       |SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_quadgrams,
       |  CAST(0 AS BIGINT) AS n_oov,
       |  round(SUM(lp) / SUM(n), 4) AS avg_lp
       |FROM lp GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  }

  /** Shared by q201 (one-shot KN) and q202 (maintained bigram store):
    * DuckDB re-derives the ENTIRE interpolated-KN model from raw text —
    * bigram counts, history totals, both continuation tables, the
    * count-of-counts discount — and replays the per-doc scoring. */
  private def knOracleSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |g0 AS (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
      |       FROM t WHERE len(toks) >= 2),
      |g AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2 FROM g0),
      |dg AS (SELECT doc_id, w1, w2, COUNT(*) AS n FROM g GROUP BY 1, 2, 3),
      |c12 AS (SELECT w1, w2, CAST(SUM(n) AS BIGINT) AS c12 FROM dg GROUP BY 1, 2),
      |hist AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
      |           CAST(COUNT(*) AS BIGINT) AS nf FROM c12 GROUP BY 1),
      |cont AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS nb FROM c12 GROUP BY 1),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS b,
      |          CAST(SUM(CASE WHEN c12 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |          CAST(SUM(CASE WHEN c12 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
      |        FROM c12),
      |lp AS (SELECT dg.doc_id, dg.n,
      |         dg.n * ln(
      |           GREATEST(COALESCE(c12.c12, 0) -
      |             (CASE WHEN tot.n1 = 0 THEN 0.5
      |                   ELSE CAST(tot.n1 AS DOUBLE) / (tot.n1 + 2 * tot.n2) END),
      |             0.0) / hist.c1
      |           + ((CASE WHEN tot.n1 = 0 THEN 0.5
      |                    ELSE CAST(tot.n1 AS DOUBLE) / (tot.n1 + 2 * tot.n2) END)
      |              * hist.nf / hist.c1)
      |             * (CAST(cont.nb AS DOUBLE) / tot.b)) AS lp
      |       FROM dg LEFT JOIN c12 USING (w1, w2)
      |         LEFT JOIN hist USING (w1) LEFT JOIN cont USING (w2)
      |         CROSS JOIN tot)
      |SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
      |  CAST(0 AS BIGINT) AS n_oov,
      |  round(SUM(lp) / SUM(n), 4) AS avg_lp
      |FROM lp GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** q205's pruning threshold: PER-TOKEN log-likelihood nats an
    * explicit entry must be worth to survive ([[graft.ext.NgramLM
    * .knPruneEntries]] — normalized by training tokens, the SRILM
    * `-prune` convention, so the threshold is corpus-size-free).
    * 1e-3 prunes a real tail of the documents corpus at both gate
    * SFs (16 of 916 types at sf0.01, 31 of 931 at sf0.1), so the
    * renormalized back-off arm is genuinely under the hash.
    * MUST stay `final` (a compile-time constant): the queries Seq —
    * and therefore `Some(knPrunedOracleSql)` — is built during object
    * init, which can run BEFORE a plain val here initializes; a
    * non-constant read at that point yields 0.0 and the oracle
    * silently stops pruning while the engine (whose lambda reads the
    * val lazily) still does. */
  private final val Q205Eps = 1e-3

  /** q205's oracle: DuckDB re-derives the full KN model from raw
    * text, replays the Stolcke loss table and the kept set,
    * recomputes every history's renormalized back-off weight γ from
    * the same integer aggregates (k, Σc12, Σnb), and scores.
    * Self-scored ⇒ the OOV arm is unreachable (n_oov pinned 0). */
  private def knPrunedOracleSql: String = {
    val dc = """(CASE WHEN tot.n1 = 0 THEN 0.5
               |      ELSE CAST(tot.n1 AS DOUBLE) / (tot.n1 + 2 * tot.n2) END)""".stripMargin
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |g0 AS (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
       |       FROM t WHERE len(toks) >= 2),
       |g AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2 FROM g0),
       |dg AS (SELECT doc_id, w1, w2, COUNT(*) AS n FROM g GROUP BY 1, 2, 3),
       |c12 AS (SELECT w1, w2, CAST(SUM(n) AS BIGINT) AS c12 FROM dg GROUP BY 1, 2),
       |hist AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
       |           CAST(COUNT(*) AS BIGINT) AS nf FROM c12 GROUP BY 1),
       |cont AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS nb FROM c12 GROUP BY 1),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS b,
       |          CAST(SUM(CASE WHEN c12 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |          CAST(SUM(CASE WHEN c12 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
       |          CAST(SUM(c12) AS BIGINT) AS ntok
       |        FROM c12),
       |kept AS (SELECT c12.w1, c12.w2, c12.c12, cont.nb
       |         FROM c12 JOIN hist USING (w1) JOIN cont USING (w2) CROSS JOIN tot
       |         WHERE round((CAST(c12.c12 AS DOUBLE) / tot.ntok) * (
       |             ln((c12.c12 - $dc) / hist.c1
       |                + ($dc * hist.nf / hist.c1)
       |                  * (CAST(cont.nb AS DOUBLE) / tot.b))
       |             - ln(($dc * hist.nf / hist.c1)
       |                  * (CAST(cont.nb AS DOUBLE) / tot.b))), 9) >= $Q205Eps),
       |gam AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS k,
       |          CAST(SUM(c12) AS BIGINT) AS s12,
       |          CAST(SUM(nb) AS BIGINT) AS snb
       |        FROM kept GROUP BY 1),
       |kf AS (SELECT w1, w2, TRUE AS iskept FROM kept),
       |lp AS (SELECT dg.doc_id, dg.n,
       |         dg.n * ln(CASE
       |           WHEN kf.iskept THEN
       |             (c12.c12 - $dc) / hist.c1
       |             + ($dc * hist.nf / hist.c1)
       |               * (CAST(cont.nb AS DOUBLE) / tot.b)
       |           WHEN hist.c1 IS NOT NULL AND cont.nb IS NOT NULL THEN
       |             (CASE WHEN gam.k IS NULL THEN 1.0
       |                   WHEN 1.0 - CAST(gam.snb AS DOUBLE) / tot.b <= 0.0 THEN 1.0
       |                   ELSE (1.0 - (CAST(gam.s12 AS DOUBLE) - gam.k * $dc) / hist.c1
       |                         - ($dc * hist.nf / hist.c1)
       |                           * (CAST(gam.snb AS DOUBLE) / tot.b))
       |                        / (1.0 - CAST(gam.snb AS DOUBLE) / tot.b) END)
       |             * (CAST(cont.nb AS DOUBLE) / tot.b)
       |           WHEN hist.c1 IS NULL AND cont.nb IS NOT NULL THEN
       |             CAST(cont.nb AS DOUBLE) / tot.b
       |           ELSE NULL END) AS lp
       |       FROM dg LEFT JOIN c12 USING (w1, w2)
       |         LEFT JOIN kf USING (w1, w2)
       |         LEFT JOIN hist USING (w1) LEFT JOIN cont USING (w2)
       |         LEFT JOIN gam USING (w1)
       |         CROSS JOIN tot)
       |SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
       |  CAST(0 AS BIGINT) AS n_oov,
       |  round(SUM(lp) / SUM(n), 4) AS avg_lp
       |FROM lp GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  }

  /** q207/q208's pruning threshold (per-token nats at the TRIGRAM
    * order — smaller than [[Q205Eps]] because trigram types are far
    * more numerous and individually rarer, so per-type losses sit
    * ~an order of magnitude lower). `final`: the [[Q205Eps]]
    * initialization-order constraint applies verbatim. */
  private final val Q207Eps = 1e-4

  /** q207/q208's oracle: the full two-level interpolated-KN replay
    * (the trigram KN oracle) EXTENDED with the Stolcke prune — DuckDB
    * re-derives the loss table over explicit trigram entries, the
    * kept set at eps, every (w1, w2) history's renormalized γ3 from
    * the same integer aggregates (k, Σc123, Σĉ, Σnb), and scores.
    * Self-scored ⇒ the OOV arm is unreachable (n_oov pinned 0). */
  private def trigramKnPrunedOracleSql: String = {
    val d3 = """(CASE WHEN t3.tn1 = 0 THEN 0.5
               |      ELSE CAST(t3.tn1 AS DOUBLE) / (t3.tn1 + 2 * t3.tn2) END)""".stripMargin
    val d2 = """(CASE WHEN th.hn1 = 0 THEN 0.5
               |      ELSE CAST(th.hn1 AS DOUBLE) / (th.hn1 + 2 * th.hn2) END)""".stripMargin
    val pLowSeen =
      s"""((chat.chat - $d2) / hh.chatdot
         |    + ($d2 * hh.nfhat / hh.chatdot) * (CAST(cont.nb AS DOUBLE) / th.b))""".stripMargin
    val pLow =
      s"""(CASE WHEN cont.nb IS NOT NULL AND hh.chatdot IS NOT NULL THEN
         |       GREATEST(COALESCE(chat.chat, 0) - $d2, 0.0) / hh.chatdot
         |       + ($d2 * hh.nfhat / hh.chatdot) * (CAST(cont.nb AS DOUBLE) / th.b)
         |     WHEN cont.nb IS NOT NULL THEN CAST(cont.nb AS DOUBLE) / th.b
         |     ELSE NULL END)""".stripMargin
    val sumPLow =
      s"""((CAST(gam.schat AS DOUBLE) - gam.k * $d2) / hh.chatdot
         |    + ($d2 * hh.nfhat / hh.chatdot) * (CAST(gam.snb AS DOUBLE) / th.b))""".stripMargin
    val sumPHi =
      s"""((CAST(gam.s123 AS DOUBLE) - gam.k * $d3) / h12.c12dot
         |    + ($d3 * h12.nf12 / h12.c12dot) * $sumPLow)""".stripMargin
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |g0 AS (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
       |       FROM t WHERE len(toks) >= 3),
       |g AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3
       |      FROM g0),
       |dg AS (SELECT doc_id, w1, w2, w3, COUNT(*) AS n FROM g GROUP BY 1, 2, 3, 4),
       |c123 AS (SELECT w1, w2, w3, CAST(SUM(n) AS BIGINT) AS c123
       |         FROM dg GROUP BY 1, 2, 3),
       |h12 AS (SELECT w1, w2, CAST(SUM(c123) AS BIGINT) AS c12dot,
       |          CAST(COUNT(*) AS BIGINT) AS nf12 FROM c123 GROUP BY 1, 2),
       |chat AS (SELECT w2, w3, CAST(COUNT(*) AS BIGINT) AS chat
       |         FROM c123 GROUP BY 1, 2),
       |hh AS (SELECT w2, CAST(SUM(chat) AS BIGINT) AS chatdot,
       |         CAST(COUNT(*) AS BIGINT) AS nfhat FROM chat GROUP BY 1),
       |cont AS (SELECT w3, CAST(COUNT(*) AS BIGINT) AS nb FROM chat GROUP BY 1),
       |t3 AS (SELECT CAST(SUM(CASE WHEN c123 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tn1,
       |         CAST(SUM(CASE WHEN c123 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS tn2,
       |         CAST(SUM(c123) AS BIGINT) AS n3
       |       FROM c123),
       |th AS (SELECT CAST(COUNT(*) AS BIGINT) AS b,
       |         CAST(SUM(CASE WHEN chat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hn1,
       |         CAST(SUM(CASE WHEN chat = 2 THEN 1 ELSE 0 END) AS BIGINT) AS hn2
       |       FROM chat),
       |kept AS (SELECT c123.w1, c123.w2, c123.w3, c123.c123, chat.chat, cont.nb
       |         FROM c123 JOIN h12 USING (w1, w2) JOIN chat USING (w2, w3)
       |           JOIN hh USING (w2) JOIN cont USING (w3)
       |           CROSS JOIN t3 CROSS JOIN th
       |         WHERE round((CAST(c123.c123 AS DOUBLE) / t3.n3) * (
       |             ln((c123.c123 - $d3) / h12.c12dot
       |                + ($d3 * h12.nf12 / h12.c12dot) * $pLowSeen)
       |             - ln(($d3 * h12.nf12 / h12.c12dot) * $pLowSeen)), 9)
       |           >= $Q207Eps),
       |gam AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS k,
       |          CAST(SUM(c123) AS BIGINT) AS s123,
       |          CAST(SUM(chat) AS BIGINT) AS schat,
       |          CAST(SUM(nb) AS BIGINT) AS snb
       |        FROM kept GROUP BY 1, 2),
       |kf AS (SELECT w1, w2, w3, TRUE AS iskept FROM kept),
       |lp AS (SELECT dg.doc_id, dg.n,
       |         dg.n * ln(CASE
       |           WHEN kf.iskept THEN
       |             (c123.c123 - $d3) / h12.c12dot
       |             + ($d3 * h12.nf12 / h12.c12dot) * $pLow
       |           WHEN h12.c12dot IS NOT NULL AND $pLow IS NOT NULL THEN
       |             (CASE WHEN gam.k IS NULL THEN 1.0
       |                   WHEN 1.0 - $sumPLow <= 0.0 THEN 1.0
       |                   ELSE (1.0 - $sumPHi) / (1.0 - $sumPLow) END)
       |             * $pLow
       |           ELSE $pLow END) AS lp
       |       FROM dg LEFT JOIN c123 USING (w1, w2, w3)
       |         LEFT JOIN kf USING (w1, w2, w3)
       |         LEFT JOIN h12 USING (w1, w2)
       |         LEFT JOIN chat USING (w2, w3)
       |         LEFT JOIN hh USING (w2) LEFT JOIN cont USING (w3)
       |         LEFT JOIN gam USING (w1, w2)
       |         CROSS JOIN t3 CROSS JOIN th)
       |SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_trigrams,
       |  CAST(0 AS BIGINT) AS n_oov,
       |  round(SUM(lp) / SUM(n), 4) AS avg_lp
       |FROM lp GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  }

  /** The pruned KN model of `order` at `eps`, exported once per sf dir
    * (q209/q210/q218/q219) — the queries score from the LOADED
    * artifact. */
  private def knModelBuild(s: SparkSession, d: String, order: Int,
                           eps: Double): String =
    graft.core.WorkDirs.ensureStore(s"knmodel${order}_${Integer.toHexString(d.hashCode)}") { st =>
      graft.ext.KnModel.export(Tables.documents(s, d), order, eps, st)
    }

  /** q213's model artifact: the MAINTAINED trigram store (q204's
    * folds) feeds the pruned export — store counts → prune → serving
    * tables, once per sf dir. */
  private def q213ModelBuild(s: SparkSession, d: String): String = {
    val store = ngramStoreBuild(s, d, 3)
    graft.core.WorkDirs.ensureStore(s"kn3modelm_${Integer.toHexString(d.hashCode)}") { st =>
      graft.ext.KnModel.exportFromCounts(
        graft.streaming.NgramCountStream.counts(s, store, 3), Q207Eps, st)
    }
  }

  /** The maintained n-gram store of `order` behind q202/q204/q215 (and
    * their pruned twins), the q194 build shape over
    * [[graft.streaming.NgramCountStream]]: residue folds with a
    * replayed batch, a mid-stream compaction, and a replay at the
    * watermark. */
  private def ngramStoreBuild(s: SparkSession, d: String, order: Int): String =
    graft.core.WorkDirs.ensureStore(s"ngram${order}_${Integer.toHexString(d.hashCode)}") { st =>
      val docs = Tables.documents(s, d)
      val cfg = graft.streaming.NgramCountStreamConfig(
        s"$st/_in_unused", st, s"$st/_ck_unused", docs.schema, order)
      def fold(residue: Int, id: Long): Unit = graft.streaming.NgramCountStream
        .processBatch(docs.filter(col("doc_id") % 3 === residue), id, cfg)
      fold(0, 0L)
      fold(1, 1L)
      fold(1, 1L)
      graft.streaming.NgramCountStream.compact(s, st, order, upToBatch = 1L)
      fold(0, 0L)
      fold(2, 2L)
    }

  /** Shared by q188 (one-shot encode) and q194 (maintained vocabulary
    * store): the greedy longest-match replay over the q188_vocab dump —
    * the maintained derivation must produce the IDENTICAL vocabulary,
    * so the maintained encode answers this verbatim. */
  private def wordPieceEncodeOracleSql: String =
    s"""WITH RECURSIVE
             |v AS MATERIALIZED (SELECT piece, cont
             |  FROM read_parquet('$OracleAuxDir/q188_vocab/*.parquet')),
             |words AS (SELECT doc_id, i AS widx, toks[i] AS word
             |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
             |        FROM documents WHERE text IS NOT NULL),
             |       unnest(range(1, len(toks) + 1)) AS u(i)
             |  WHERE toks[i] <> ''),
             |step AS (
             |  SELECT doc_id, widx, word, 1 AS pos, 0 AS n, '' AS acc
             |  FROM words
             |  UNION ALL
             |  SELECT s.doc_id, s.widx, s.word, s.pos + m.l, s.n + 1,
             |    s.acc || CASE WHEN s.n = 0 THEN '' ELSE ' ' END ||
             |      CASE WHEN s.pos > 1 THEN '##' ELSE '' END ||
             |      substr(s.word, s.pos, m.l)
             |  FROM step s,
             |    LATERAL (SELECT coalesce(MAX(len(v.piece)), 1) AS l
             |             FROM v WHERE v.cont = (s.pos > 1)
             |               AND v.piece = substr(s.word, s.pos, len(v.piece))) m
             |  WHERE s.pos <= len(s.word)),
             |enc AS (SELECT doc_id, widx, n AS n_pieces, acc
             |        FROM step WHERE pos > len(word)),
             |perdoc AS (SELECT doc_id, COUNT(*) AS n_words,
             |    SUM(n_pieces) AS n_pieces,
             |    string_agg(acc, ' ' ORDER BY widx) AS encoded
             |  FROM enc GROUP BY doc_id)
             |SELECT d.doc_id, CAST(coalesce(p.n_words, 0) AS BIGINT) AS n_words,
             |  CAST(coalesce(p.n_pieces, 0) AS BIGINT) AS n_pieces,
             |  coalesce(p.encoded, '') AS encoded
             |FROM documents d LEFT JOIN perdoc p USING (doc_id)
             |WHERE d.text IS NOT NULL
             |ORDER BY d.doc_id""".stripMargin

  /** Shared by q191 (one-shot Viterbi) and q195 (maintained vocabulary
    * store): the forward-DP replay over the q191_pieces dump. */
  private def unigramViterbiOracleSql: String =
    s"""WITH RECURSIVE
             |p AS MATERIALIZED (SELECT piece, cost
             |  FROM read_parquet('$OracleAuxDir/q191_pieces/*.parquet')),
             |words AS (SELECT doc_id, toks[i] AS word
             |  FROM (SELECT doc_id,
             |          list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |        FROM documents WHERE text IS NOT NULL),
             |       unnest(range(1, len(toks) + 1)) AS u(i)),
             |uw AS (SELECT DISTINCT word FROM words),
             |dp AS (
             |  SELECT word, 0 AS pos, CAST([0] AS BIGINT[]) AS best FROM uw
             |  UNION ALL
             |  SELECT d.word, d.pos + 1,
             |    list_append(d.best, coalesce(
             |      (SELECT MIN(d.best[d.pos + 2 - l.l] + p.cost)
             |       FROM unnest([1, 2, 3, 4]) AS l(l)
             |       JOIN p ON p.piece = substr(d.word, d.pos + 2 - l.l, l.l)
             |       WHERE l.l <= d.pos + 1),
             |      d.best[d.pos + 1] + 1000000000000))
             |  FROM dp d WHERE d.pos < len(d.word)),
             |wcost AS (SELECT word, best[len(word) + 1] AS cost
             |          FROM dp WHERE pos = len(word)),
             |perdoc AS (SELECT w.doc_id, COUNT(*) AS n_words,
             |    SUM(c.cost) AS viterbi_cost,
             |    SUM((c.cost + 1000000000000 - 1) // 1000000000000) AS n_pieces
             |  FROM words w JOIN wcost c USING (word) GROUP BY 1)
             |SELECT d.doc_id,
             |  CAST(coalesce(pd.n_words, 0) AS BIGINT) AS n_words,
             |  CAST(coalesce(pd.viterbi_cost, 0) AS BIGINT) AS viterbi_cost,
             |  CAST(coalesce(pd.n_pieces, 0) AS BIGINT) AS n_pieces
             |FROM documents d LEFT JOIN perdoc pd USING (doc_id)
             |WHERE d.text IS NOT NULL
             |ORDER BY d.doc_id""".stripMargin

  /** q196's EM-replay oracle: from the dumped SEED inventory alone,
    * DuckDB re-runs BOTH hard-EM iterations — per-iteration forward DP
    * over the distinct words, the longest-piece-achieving-optimum
    * backtrace, frequency-weighted usage accounting, and the
    * chars + top-`target`-used prune — then segments every document
    * with the inventory IT derived and emits the q191-shaped per-doc
    * stats. The engine computes the same answer through the
    * UnigramSegment/UnigramViterbiStats kernels and the driver-side
    * M-step, so any drift in a DP transition, the backtrace tie-break,
    * the single-char fallback, usage weighting, or the prune order
    * hash-fails. */
  private def q196ReplaySql: String = {
    val iters = 2; val target = 24; val K = "1000000000000"
    // one forward-DP block over the distinct words against inventory
    // `inv`: best[j] (1-based) = optimal cost of the first j-1 chars.
    //
    // LEFT-JOIN form (r16): the original correlated-scalar-subquery
    // form (`SELECT MIN(...) FROM unnest JOIN inv`) re-executed the
    // subquery chain PER RECURSION ROW in DuckDB — this one oracle
    // cost 491 s of the 727 s sf0.01 comparator total
    // (oracle_timings.json), the prime timeout suspect for the
    // drivers' three dark correctness rounds, which began exactly
    // when q196 entered the contract. One LEFT JOIN per piece length
    // + LEAST is the softLatticeBlock discipline (also the
    // DuckDB-1.0.0-safe form); all arithmetic stays BIGINT, so the
    // replayed DP is bit-identical.
    def dpBlock(name: String, inv: String): String =
      s"""$name AS (
         |  SELECT word, 0 AS pos, CAST([0] AS BIGINT[]) AS best FROM uw
         |  UNION ALL
         |  SELECT d.word, d.pos + 1,
         |    list_append(d.best, coalesce(LEAST(
         |        d.best[d.pos + 1] + t1.cost,
         |        CASE WHEN d.pos >= 1 THEN d.best[d.pos] + t2.cost END,
         |        CASE WHEN d.pos >= 2 THEN d.best[d.pos - 1] + t3.cost END,
         |        CASE WHEN d.pos >= 3 THEN d.best[d.pos - 2] + t4.cost END),
         |      d.best[d.pos + 1] + $K))
         |  FROM $name d
         |  LEFT JOIN $inv t1 ON t1.piece = substr(d.word, d.pos + 1, 1)
         |  LEFT JOIN $inv t2 ON t2.piece = substr(d.word, d.pos, 2)
         |  LEFT JOIN $inv t3 ON t3.piece = substr(d.word, d.pos - 1, 3)
         |  LEFT JOIN $inv t4 ON t4.piece = substr(d.word, d.pos - 2, 4)
         |  WHERE d.pos < len(d.word))""".stripMargin
    // one EM iteration: DP + backtrace (longest piece achieving the
    // optimum; no match → the single-char cost-K fallback, emitted as
    // that char) + usage + the M-step prune. Backtrace picks MAX l
    // with best[p−l+1] + cost = best[p+1]: the CASE probes l=4 first
    // (a NULL cost or failed guard falls through), ELSE the
    // single-char fallback — the LATERAL MAX subquery's semantics in
    // the join+CASE form.
    def emBlock(i: Int): String = {
      val prev = s"p${i - 1}"
      s"""${dpBlock(s"dp$i", prev)},
         |wb$i AS MATERIALIZED (SELECT word, best FROM dp$i WHERE pos = len(word)),
         |bt$i AS (
         |  SELECT word, len(word) AS p, CAST(NULL AS VARCHAR) AS piece,
         |    0 AS ch FROM uw
         |  UNION ALL
         |  SELECT word, p - ch, substr(word, p - ch + 1, ch), ch FROM (
         |    SELECT b.word, b.p, CASE
         |        WHEN b.p >= 4 AND w.best[b.p - 3] + q4.cost = w.best[b.p + 1] THEN 4
         |        WHEN b.p >= 3 AND w.best[b.p - 2] + q3.cost = w.best[b.p + 1] THEN 3
         |        WHEN b.p >= 2 AND w.best[b.p - 1] + q2.cost = w.best[b.p + 1] THEN 2
         |        WHEN b.p >= 1 AND w.best[b.p] + q1.cost = w.best[b.p + 1] THEN 1
         |        ELSE 1 END AS ch
         |    FROM bt$i b JOIN wb$i w USING (word)
         |    LEFT JOIN $prev q1 ON q1.piece = substr(b.word, b.p, 1)
         |    LEFT JOIN $prev q2 ON q2.piece = substr(b.word, b.p - 1, 2)
         |    LEFT JOIN $prev q3 ON q3.piece = substr(b.word, b.p - 2, 3)
         |    LEFT JOIN $prev q4 ON q4.piece = substr(b.word, b.p - 3, 4)
         |    WHERE b.p > 0)),
         |us$i AS MATERIALIZED (SELECT piece, SUM(wc.n) AS u
         |  FROM bt$i JOIN wc USING (word) WHERE piece IS NOT NULL
         |  GROUP BY piece),
         |p$i AS MATERIALIZED (
         |  SELECT pp.piece, $K - coalesce(u.u, 0) AS cost
         |  FROM $prev pp LEFT JOIN us$i u USING (piece)
         |  WHERE len(pp.piece) = 1
         |  UNION ALL
         |  SELECT piece, $K - u AS cost FROM (
         |    SELECT u.piece, u.u FROM us$i u JOIN $prev pp USING (piece)
         |    WHERE len(u.piece) >= 2 AND u.u > 0
         |    ORDER BY u.u DESC, u.piece LIMIT $target))""".stripMargin
    }
    s"""WITH RECURSIVE
       |p0 AS MATERIALIZED (SELECT piece, cost
       |  FROM read_parquet('$OracleAuxDir/q196_seed/*.parquet')),
       |words AS (SELECT doc_id, toks[i] AS word
       |  FROM (SELECT doc_id,
       |          list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |        FROM documents WHERE text IS NOT NULL),
       |       unnest(range(1, len(toks) + 1)) AS u(i)),
       |wc AS MATERIALIZED (SELECT word, COUNT(*) AS n FROM words GROUP BY word),
       |uw AS MATERIALIZED (SELECT word FROM wc),
       |${(1 to iters).map(emBlock).mkString(",\n")},
       |${dpBlock("dpf", s"p$iters")},
       |wcost AS (SELECT word, best[len(word) + 1] AS cost
       |          FROM dpf WHERE pos = len(word)),
       |perdoc AS (SELECT w.doc_id, COUNT(*) AS n_words,
       |    SUM(c.cost) AS viterbi_cost,
       |    SUM((c.cost + $K - 1) // $K) AS n_pieces
       |  FROM words w JOIN wcost c USING (word) GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(coalesce(pd.n_words, 0) AS BIGINT) AS n_words,
       |  CAST(coalesce(pd.viterbi_cost, 0) AS BIGINT) AS viterbi_cost,
       |  CAST(coalesce(pd.n_pieces, 0) AS BIGINT) AS n_pieces
       |FROM documents d LEFT JOIN perdoc pd USING (doc_id)
       |WHERE d.text IS NOT NULL
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Shared by q172 (one-shot pass) and q185 (maintained registry):
    * the full-recompute decontamination oracle over the %97 benchmark
    * convention — the maintained store must answer it VERBATIM. */
  private def substrDecontamOracleSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
      |           FROM documents WHERE text IS NOT NULL),
      |b AS (SELECT list_slice(toks, 1, 15) AS toks FROM t
      |      WHERE doc_id % 97 = 0),
      |bg AS (SELECT DISTINCT array_to_string(toks[i:i+7], ' ') AS gram
      |       FROM b, unnest(range(1, len(toks) - 6)) AS u(i)
      |       WHERE len(toks) >= 8),
      |g AS (SELECT doc_id, i - 1 AS pos,
      |        array_to_string(toks[i:i+7], ' ') AS gram
      |      FROM t, unnest(range(1, len(toks) - 6)) AS u(i)
      |      WHERE len(toks) >= 8),
      |marks AS (SELECT DISTINCT g.doc_id, g.pos + o.range AS tpos
      |          FROM g JOIN bg USING (gram), range(0, 8) o),
      |tok AS (SELECT doc_id, i - 1 AS tpos, toks[i] AS tok
      |        FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
      |kept AS (SELECT tok.doc_id, COUNT(*) AS n_kept,
      |           string_agg(tok.tok, ' ' ORDER BY tok.tpos) AS text_clean
      |         FROM tok LEFT JOIN marks
      |           ON marks.doc_id = tok.doc_id AND marks.tpos = tok.tpos
      |         WHERE marks.doc_id IS NULL
      |         GROUP BY tok.doc_id)
      |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
      |  CAST(coalesce(kept.n_kept, 0) AS BIGINT) AS n_kept,
      |  coalesce(kept.text_clean, '') AS text_clean
      |FROM t LEFT JOIN kept ON kept.doc_id = t.doc_id
      |ORDER BY t.doc_id""".stripMargin

  /** Shared by q174 (one-shot pass) and q186 (maintained positional
    * index): the full positional-algebra recompute over the %163 phrase
    * convention — the maintained store must answer it VERBATIM. */
  private def phraseSearchOracleSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
      |           FROM documents WHERE text IS NOT NULL),
      |p AS (SELECT doc_id AS phrase_id, list_slice(toks, 3, 6) AS ptoks
      |      FROM t WHERE doc_id % 163 = 0 AND len(toks) >= 6),
      |pt AS (SELECT phrase_id, i - 1 AS off, ptoks[i] AS term,
      |         len(ptoks) AS plen
      |       FROM p, unnest(range(1, len(ptoks) + 1)) AS u(i)),
      |pos AS (SELECT doc_id, i - 1 AS tpos, toks[i] AS term
      |        FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
      |h AS (SELECT pos.doc_id, pt.phrase_id, pt.plen,
      |        pos.tpos - pt.off AS start
      |      FROM pos JOIN pt USING (term)
      |      WHERE pos.tpos - pt.off >= 0),
      |m AS (SELECT doc_id, phrase_id, plen, start, COUNT(*) AS matched
      |      FROM h GROUP BY 1, 2, 3, 4),
      |f AS (SELECT * FROM m WHERE matched = plen)
      |SELECT phrase_id, doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
      |  CAST(MIN(start) AS BIGINT) AS first_pos
      |FROM f GROUP BY 1, 2
      |ORDER BY phrase_id, doc_id""".stripMargin

  /** q186's index build: the corpus as three residue folds with a
    * replayed fold and a mid-stream compaction. Memoized per sf dir. */
  private def q186StoreBuild(s: SparkSession, d: String): String =
    graft.core.WorkDirs.ensureStore(s"pix_${Integer.toHexString(d.hashCode)}") { st =>
      val docs = Tables.documents(s, d)
      val cfg = graft.streaming.PosIndexStreamConfig(
        s"$st/_in_unused", st, s"$st/_ck_unused", docs.schema)
      graft.streaming.PosIndexStream.processBatch(
        docs.filter(col("doc_id") % 3 === 0), 0L, cfg)
      graft.streaming.PosIndexStream.processBatch(
        docs.filter(col("doc_id") % 3 === 1), 1L, cfg)
      graft.streaming.PosIndexStream.processBatch( // at-least-once replay
        docs.filter(col("doc_id") % 3 === 1), 1L, cfg)
      graft.streaming.PosIndexStream.compact(s, st, upToBatch = 1L)
      graft.streaming.PosIndexStream.processBatch(
        docs.filter(col("doc_id") % 3 === 2), 2L, cfg)
    }

  /** q185's registry build: q172's benchmark set as three residue-class
    * suites with a replayed fold and a mid-stream compaction — the
    * arrival shape the one-shot pass never sees. Memoized per sf dir. */
  private def q185StoreBuild(s: SparkSession, d: String): String =
    graft.core.WorkDirs.ensureStore(s"dc_${Integer.toHexString(d.hashCode)}") { st =>
      val bench = Tables.documents(s, d).filter(col("doc_id") % 97 === 0)
        .select(col("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 15), " ").as("text"))
      val cfg = graft.streaming.DecontamStreamConfig(
        s"$st/_in_unused", st, s"$st/_ck_unused", bench.schema, minLen = 8)
      graft.streaming.DecontamStream.processBatch(
        bench.filter(col("doc_id") % 3 === 0), 0L, cfg)
      graft.streaming.DecontamStream.processBatch(
        bench.filter(col("doc_id") % 3 === 1), 1L, cfg)
      graft.streaming.DecontamStream.processBatch( // at-least-once replay
        bench.filter(col("doc_id") % 3 === 1), 1L, cfg)
      graft.streaming.DecontamStream.compact(s, st, upToBatch = 1L)
      graft.streaming.DecontamStream.processBatch(
        bench.filter(col("doc_id") % 3 === 2), 2L, cfg)
    }

  private def deleteDir(path: String): Unit =
    graft.core.WorkDirs.deleteDir(path)

  /** ScaleBench's q168 variant rebuilds a fresh store per run too. */
  private[graft] def deleteDirForBench(path: String): Unit = deleteDir(path)

  /** q167–q180 store builds, split from their reads so Bench can time
    * fold machinery separately from query latency (the r9 verdict's
    * store-build/query conflation). Memoized per (store, JVM) via
    * [[graft.core.WorkDirs.ensureStore]]; builds are deterministic per
    * sf dir, so reuse never changes a query's answer. */
  private def q168StoreBuild(s: SparkSession, d: String): String =
    graft.core.WorkDirs.ensureStore(s"idx_${Integer.toHexString(d.hashCode)}") { st =>
      val docs = Tables.documents(s, d)
      val cfg = graft.streaming.IndexStreamConfig(
        s"$st/_in_unused", st, s"$st/_ck_unused", docs.schema)
      graft.streaming.IndexStream.processBatch(
        docs.filter(col("doc_id") % 3 === 0), 0L, cfg)
      graft.streaming.IndexStream.processBatch(
        docs.filter(col("doc_id") % 3 === 1), 1L, cfg)
      graft.streaming.IndexStream.compact(s, st)
      graft.streaming.IndexStream.processBatch(
        docs.filter(col("doc_id") % 3 === 2), 2L, cfg)
    }

  private def q175StoreBuild(s: SparkSession, d: String): String =
    graft.core.WorkDirs.ensureStore(s"dd_${Integer.toHexString(d.hashCode)}") { st =>
      val docs = Tables.documents(s, d)
      val cfg = graft.streaming.DedupStreamConfig(
        s"$st/_in_unused", st, s"$st/_ck_unused", docs.schema, buckets = 16)
      Seq(0, 1, 2).foreach { r =>
        graft.streaming.DedupStream.processBatch(
          docs.filter(col("doc_id") % 3 === r), r.toLong, cfg)
      }
    }

  private def q176StoreBuild(s: SparkSession, d: String): String =
    graft.core.WorkDirs.ensureStore(s"sm_${Integer.toHexString(d.hashCode)}") { st =>
      val docs = Tables.documents(s, d)
      val cfg = graft.streaming.SampleStreamConfig(
        s"$st/_in_unused", st, s"$st/_ck_unused", docs.schema,
        strataCol = "lang", weightCol = "n_chars", idCol = "doc_id",
        k = 25, seed = 42L)
      Seq(0, 1, 2).foreach { r =>
        graft.streaming.SampleStream.processBatch(
          docs.filter(col("doc_id") % 3 === r), r.toLong, cfg)
      }
    }

  private def q177StoreBuild(s: SparkSession, d: String): String =
    graft.core.WorkDirs.ensureStore(s"dr_${Integer.toHexString(d.hashCode)}") { st =>
      val docs = Tables.documents(s, d)
      val cfg = graft.streaming.DriftStreamConfig(
        s"$st/_in_unused", st, s"$st/_ck_unused", docs.schema, buckets = 10)
      Seq(0, 1, 2).foreach { r =>
        graft.streaming.DriftStream.processBatch(
          docs.filter(col("doc_id") % 3 === r), r.toLong, cfg)
      }
    }

  private def q178StoreBuild(s: SparkSession, d: String): String =
    graft.core.WorkDirs.ensureStore(s"sp_${Integer.toHexString(d.hashCode)}") { st =>
      val docs = Tables.documents(s, d)
      val cfg = graft.streaming.SpanStreamConfig(
        s"$st/_in_unused", st, s"$st/_ck_unused", docs.schema, width = 8)
      val m = docs.agg(max(col("doc_id"))).head().getLong(0)
      Seq((0L, m / 3), (m / 3 + 1, 2 * m / 3), (2 * m / 3 + 1, m))
        .zipWithIndex.foreach { case ((lo, hi), i) =>
          graft.streaming.SpanStream.processBatch(
            docs.filter(col("doc_id") >= lo && col("doc_id") <= hi),
            i.toLong, cfg)
        }
    }

  private def q180StoreBuild(s: SparkSession, d: String): String =
    graft.core.WorkDirs.ensureStore(s"doc_${Integer.toHexString(d.hashCode)}") { st =>
      val docs = Tables.documents(s, d)
      val (bb, rr) = graft.ext.Dedup.bandsForRecall(64, 0.5, minRecall = 0.999)
      val cfg = graft.streaming.DocStreamConfig(
        s"$st/_in_unused", s"$st/corpus", s"$st/_ck_unused", docs.schema,
        shingleSize = 3, bands = bb, rowsPerBand = rr, threshold = 0.5)
      val b0 = docs.filter(col("doc_id") % 3 === 0)
      val b1 = docs.filter(col("doc_id") % 3 === 1)
        .unionByName(docs.filter(col("doc_id") % 3 === 0 &&
            col("doc_id") % 11 === 0)
          .withColumn("doc_id", col("doc_id") + lit(3000000L)))
      val b2 = docs.filter(col("doc_id") % 3 === 2)
      graft.streaming.DocStream.processBatch(b0, 0L, cfg)
      graft.streaming.DocStream.processBatch(b1, 1L, cfg)
      graft.streaming.DocStream.compact(s, cfg.corpusDir, upToBatch = 1L)
      graft.streaming.DocStream.processBatch(b2, 2L, cfg)
    }

  /** Extended's half of [[graft.SparkEntry.storeBuilders]]: declared
    * query name → ensure-built store (no read). q179 routes through its
    * pre-existing memoized build. */
  private[graft] val storeBuilders: Map[String, (SparkSession, String) => Unit] = Map(
    "q168_bm25_maintained" -> ((s, d) => q168StoreBuild(s, d): Unit),
    "q175_dedup_maintained" -> ((s, d) => q175StoreBuild(s, d): Unit),
    "q176_sample_maintained" -> ((s, d) => q176StoreBuild(s, d): Unit),
    "q177_drift_maintained" -> ((s, d) => q177StoreBuild(s, d): Unit),
    "q178_span_maintained" -> ((s, d) => q178StoreBuild(s, d): Unit),
    "q179_ann_maintained" -> ((s, d) => q179Store(s, d): Unit),
    "q180_doc_maintained" -> ((s, d) => q180StoreBuild(s, d): Unit),
    "q185_decontam_maintained" -> ((s, d) => q185StoreBuild(s, d): Unit),
    "q186_phrase_maintained" -> ((s, d) => q186StoreBuild(s, d): Unit),
    "q194_wordpiece_maintained" -> ((s, d) => q194StoreBuild(s, d): Unit),
    "q195_unigram_maintained" -> ((s, d) => q194StoreBuild(s, d): Unit),
    "q197_bpe_maintained" -> ((s, d) => q194StoreBuild(s, d): Unit),
    "q198_bpe_encode_maintained" -> ((s, d) => q194StoreBuild(s, d): Unit),
    "q200_gopher_drift_maintained" -> ((s, d) => q200StoreBuild(s, d): Unit),
    "q202_kn_maintained" -> ((s, d) => ngramStoreBuild(s, d, 2): Unit),
    "q204_kn3_maintained" -> ((s, d) => ngramStoreBuild(s, d, 3): Unit),
    "q206_kn_pruned_maintained" -> ((s, d) => ngramStoreBuild(s, d, 2): Unit),
    "q208_kn3_pruned_maintained" -> ((s, d) => ngramStoreBuild(s, d, 3): Unit),
    "q209_kn_model_export" -> ((s, d) => knModelBuild(s, d, 2, Q205Eps): Unit),
    "q210_kn3_model_export" -> ((s, d) => knModelBuild(s, d, 3, Q207Eps): Unit),
    "q213_kn3_model_export_maintained" -> ((s, d) => q213ModelBuild(s, d): Unit),
    "q215_kn4_maintained" -> ((s, d) => ngramStoreBuild(s, d, 4): Unit),
    "q217_kn4_pruned_maintained" -> ((s, d) => ngramStoreBuild(s, d, 4): Unit),
    "q218_kn4_model_export" -> ((s, d) => knModelBuild(s, d, 4, Q216Eps): Unit),
    "q219_kn_model_score_sql" -> ((s, d) => knModelBuild(s, d, 3, Q207Eps): Unit))

  /** Memoized maintained-ANN store build for q179: the query ranks over
    * the store and the aux dump emits its candidate set — one build per
    * sf dir serves both (same discipline as [[q166Train]]). Fit,
    * encode, and compaction are all deterministic, so independent
    * rebuilds (e.g. a re-run Verify JVM) reproduce the store exactly. */
  private val q179Cache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def q179Store(s: SparkSession, d: String): String =
    q179Cache.computeIfAbsent(d, dir => {
      val emb = Tables.embeddings(s, dir)
      val st = graft.core.WorkDirs.streamGate(s"ann_${Integer.toHexString(dir.hashCode)}")
      deleteDir(st)
      val cfg = graft.streaming.AnnStreamConfig(
        s"$st/_in_unused", st, s"$st/_ck_unused", dim = 64,
        compactEveryNBatches = 1)
      val cb = graft.streaming.AnnStream.initialize(
        s, emb.filter(col("vec_id") % 3 === 0), cfg)
      graft.streaming.AnnStream.processBatch(
        emb.filter(col("vec_id") % 3 === 1), 0L, cb, cfg)
      graft.streaming.AnnStream.processBatch(
        emb.filter(col("vec_id") % 3 === 2), 1L, cb, cfg)
      st
    })

  /** Memoized batched-BPE training for q166: the query emits the merge
    * table and the aux dump emits the window spectra — one training run
    * per sf dir serves both (same discipline as [[q119Fit]]). */
  /** Memoized WordPiece vocabulary for q188 — the query encodes with it
    * and the aux dump re-emits the frame it was collected from; both are
    * deterministic (ties broken on the piece string), so independent
    * recomputations agree (the q30 discipline). */
  private val q188Cache =
    new java.util.concurrent.ConcurrentHashMap[String, WordPiece.Vocab]()
  private def q188Vocab(s: SparkSession, d: String): WordPiece.Vocab =
    q188Cache.computeIfAbsent(d, dir =>
      WordPiece.trainVocab(Tables.documents(s, dir)))

  /** Memoized unigram piece inventory for q191 (the q188/q30
    * discipline: derivation is deterministic, ties broken on the piece
    * string, so the query's collected seq and the aux dump's recomputed
    * frame agree). */
  private val q191Cache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, Long)]]()
  private def q191Pieces(s: SparkSession, d: String): Seq[(String, Long)] =
    q191Cache.computeIfAbsent(d, dir =>
      Unigram.trainPieces(Tables.documents(s, dir)))

  /** Memoized unigram EM training for q196 — the query segments with the
    * final inventory and the aux dump emits the SEED the oracle replays
    * the whole loop from (deterministic throughout: seed ties break on
    * the piece, the E-step kernel's backtrace tie-break is pinned by
    * UnigramEmSpec, M-step pruning orders by (usage desc, piece)). */
  private val q196Cache =
    new java.util.concurrent.ConcurrentHashMap[String, Unigram.EmResult]()
  private def q196Train(s: SparkSession, d: String): Unigram.EmResult =
    q196Cache.computeIfAbsent(d, dir =>
      Unigram.emTrain(Tables.documents(s, dir),
        topSeed = 48, target = 24, maxLen = 4, iters = 2))

  /** q194/q195's maintained vocabulary store: three residue folds with
    * a replayed batch (idempotent overwrite), a mid-stream compaction,
    * and a post-compaction replay at the watermark (skipped by the
    * guard). Memoized per sf dir; both queries read the one store. */
  private def q194StoreBuild(s: SparkSession, d: String): String =
    graft.core.WorkDirs.ensureStore(s"vocab_${Integer.toHexString(d.hashCode)}") { st =>
      val docs = Tables.documents(s, d)
      val cfg = graft.streaming.VocabStreamConfig(
        s"$st/_in_unused", st, s"$st/_ck_unused", docs.schema)
      graft.streaming.VocabStream.processBatch(
        docs.filter(col("doc_id") % 3 === 0), 0L, cfg)
      graft.streaming.VocabStream.processBatch(
        docs.filter(col("doc_id") % 3 === 1), 1L, cfg)
      // replay before compaction: the batch=1 partition rewrites with
      // identical content — counts cannot double
      graft.streaming.VocabStream.processBatch(
        docs.filter(col("doc_id") % 3 === 1), 1L, cfg)
      graft.streaming.VocabStream.compact(s, st, upToBatch = 1L)
      // replay AT the watermark: the guard must skip it outright
      graft.streaming.VocabStream.processBatch(
        docs.filter(col("doc_id") % 3 === 0), 0L, cfg)
      graft.streaming.VocabStream.processBatch(
        docs.filter(col("doc_id") % 3 === 2), 2L, cfg)
    }

  /** q200's maintained rule-card store: the q194 build shape (three
    * residue folds, a replayed batch, a mid-stream compaction, a replay
    * at the watermark) over [[graft.streaming.GopherStream]]. */
  private def q200StoreBuild(s: SparkSession, d: String): String =
    graft.core.WorkDirs.ensureStore(s"gopher_${Integer.toHexString(d.hashCode)}") { st =>
      val docs = Tables.documents(s, d)
      val cfg = graft.streaming.GopherStreamConfig(
        s"$st/_in_unused", st, s"$st/_ck_unused", docs.schema)
      graft.streaming.GopherStream.processBatch(
        docs.filter(col("doc_id") % 3 === 0), 0L, cfg)
      graft.streaming.GopherStream.processBatch(
        docs.filter(col("doc_id") % 3 === 1), 1L, cfg)
      graft.streaming.GopherStream.processBatch(
        docs.filter(col("doc_id") % 3 === 1), 1L, cfg)
      graft.streaming.GopherStream.compact(s, st, upToBatch = 1L)
      graft.streaming.GopherStream.processBatch(
        docs.filter(col("doc_id") % 3 === 0), 0L, cfg)
      graft.streaming.GopherStream.processBatch(
        docs.filter(col("doc_id") % 3 === 2), 2L, cfg)
    }

  /** q200's oracle: DuckDB recomputes the WHOLE rule card from raw
    * text — the q189 signal derivation (unnest + GROUP BY, the sorted-
    * run dominance re-derived as a plain word-count max) with `source`
    * carried through, unpivoted to (source, rule) and aggregated. The
    * engine's answer comes through the maintained store's folds, so the
    * additive-fold machinery AND every rule threshold sit under one
    * hash. */
  private def q200OracleSql: String =
    """WITH t AS (SELECT doc_id, source,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
      |  FROM documents WHERE text IS NOT NULL),
      |w AS (SELECT doc_id, toks[i] AS w
      |      FROM t, unnest(range(1, len(toks) + 1)) u(i)),
      |base AS (SELECT doc_id,
      |    COUNT(*) AS n_words, SUM(len(w)) AS sum_word_chars,
      |    SUM(CASE WHEN regexp_full_match(w, '[A-Za-z]+')
      |        THEN 1 ELSE 0 END) AS n_alpha_words,
      |    SUM(CASE WHEN w IN ('the','and','of','to','is','in','that','with')
      |        THEN 1 ELSE 0 END) AS n_stopwords
      |  FROM w GROUP BY doc_id),
      |dom AS (SELECT doc_id, MAX(c) AS max_word_count
      |  FROM (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY 1, 2)
      |  GROUP BY doc_id),
      |bg AS (SELECT doc_id, COUNT(*) AS n_bigrams,
      |    COUNT(DISTINCT g) AS n_distinct_bigrams
      |  FROM (SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS g
      |        FROM t, unnest(range(1, len(toks))) u(i))
      |  GROUP BY doc_id),
      |j AS (SELECT t.doc_id, t.source,
      |    CAST(coalesce(base.n_words, 0) AS BIGINT) AS n_words,
      |    CAST(coalesce(base.sum_word_chars, 0) AS BIGINT) AS sum_word_chars,
      |    CAST(coalesce(base.n_alpha_words, 0) AS BIGINT) AS n_alpha_words,
      |    CAST(coalesce(base.n_stopwords, 0) AS BIGINT) AS n_stopwords,
      |    CAST(coalesce(dom.max_word_count, 0) AS BIGINT) AS max_word_count,
      |    CAST(coalesce(bg.n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |    CAST(coalesce(bg.n_distinct_bigrams, 0) AS BIGINT) AS n_distinct_bigrams
      |  FROM t LEFT JOIN base USING (doc_id)
      |    LEFT JOIN dom USING (doc_id) LEFT JOIN bg USING (doc_id)),
      |r AS (SELECT source,
      |    (n_words >= 30 AND n_words <= 50000) AS r_word_count,
      |    (3 * n_words <= sum_word_chars
      |     AND sum_word_chars <= 10 * n_words) AS r_mean_word_len,
      |    (5 * n_alpha_words >= 4 * n_words) AS r_alpha_ratio,
      |    (n_stopwords >= 2) AS r_stopwords,
      |    (5 * max_word_count <= n_words) AS r_dominance,
      |    (2 * (n_bigrams - n_distinct_bigrams) <= n_bigrams) AS r_repetition
      |  FROM j),
      |u AS (
      |  SELECT source, 'keep' AS rule,
      |    (r_word_count AND r_mean_word_len AND r_alpha_ratio
      |     AND r_stopwords AND r_dominance AND r_repetition) AS pass FROM r
      |  UNION ALL SELECT source, 'r_alpha_ratio', r_alpha_ratio FROM r
      |  UNION ALL SELECT source, 'r_dominance', r_dominance FROM r
      |  UNION ALL SELECT source, 'r_mean_word_len', r_mean_word_len FROM r
      |  UNION ALL SELECT source, 'r_repetition', r_repetition FROM r
      |  UNION ALL SELECT source, 'r_stopwords', r_stopwords FROM r
      |  UNION ALL SELECT source, 'r_word_count', r_word_count FROM r)
      |SELECT source, rule, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CASE WHEN NOT pass THEN 1 ELSE 0 END) AS BIGINT) AS n_fail
      |FROM u GROUP BY source, rule
      |ORDER BY source, rule""".stripMargin

  private val q166Cache =
    new java.util.concurrent.ConcurrentHashMap[String, TextAnalysis.BpeBatchResult]()
  private def q166Train(s: SparkSession, d: String): TextAnalysis.BpeBatchResult =
    q166Cache.computeIfAbsent(d, dir => {
      val (res, toks) = TextAnalysis.bpeTrainBatched(
        Tables.documents(s, dir), "doc_id", "text", rounds = 160, batchCap = 32)
      toks.unpersist(false)
      res
    })

  /** Memoized ONE-SHOT counts-grain BPE training for q197/q198's aux
    * dumps: trains from the one-shot word-count aggregation over the
    * raw corpus — the INDEPENDENT side of the maintained-vs-one-shot
    * verbatim gate (the queries train from the store instead). */
  private val q197OneShotCache =
    new java.util.concurrent.ConcurrentHashMap[String, TextAnalysis.BpeBatchResult]()
  private def q197Train(s: SparkSession, d: String): TextAnalysis.BpeBatchResult =
    q197OneShotCache.computeIfAbsent(d, dir => {
      val (res, frame) = TextAnalysis.bpeTrainFromCounts(
        WordPiece.wordCounts(Tables.documents(s, dir)),
        rounds = 48, batchCap = 16)
      frame.unpersist(false)
      res
    })

  /** Memoized STORE-derived merge table for q197/q198 — trained from
    * the maintained [[graft.streaming.VocabStream]] counts over the
    * q194 store (folds + replays + compaction); ≤48 rows, driver-held.
    * Deterministic throughout, so an independent rebuild (a re-run
    * Verify JVM) reproduces it exactly. */
  private val q197StoreCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Int, String, String, Long)]]()
  private def q197StoreMerges(s: SparkSession, d: String): Seq[(Int, String, String, Long)] =
    q197StoreCache.computeIfAbsent(d, dir => {
      import s.implicits._
      val st = q194StoreBuild(s, dir)
      graft.streaming.VocabStream.bpeMerges(s, st)
        .as[(Int, String, String, Long)].collect().toSeq
    })

  /** q198's encode-replay oracle: from the dumped one-shot merge table
    * alone, DuckDB re-applies every merge round SEQUENTIALLY per
    * DISTINCT word — the q181 list_reduce fold at the character grain
    * (chars chr(31)-joined; a fired merge joins with a SPACE, and a
    * spaced lhs from a later round still matches via the
    * ends_with(chr(31)||lhs) arm) — then aggregates per document. The
    * engine encodes with the STORE-derived table through the indexed
    * kernel, so kernel routing, the fold rule, AND store-table equality
    * are all under one hash. */
  private def q198ReplaySql: String =
    s"""WITH RECURSIVE
       |m AS MATERIALIZED (SELECT round, lhs, rhs
       |  FROM read_parquet('$OracleAuxDir/q197_merges/*.parquet')),
       |uw AS (SELECT DISTINCT word FROM (
       |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
       |  FROM documents WHERE text IS NOT NULL)),
       |enc AS (
       |  SELECT word, 0 AS r,
       |    array_to_string(list_transform(range(1, len(word) + 1),
       |      i -> substr(word, CAST(i AS INT), 1)), chr(31)) AS state
       |  FROM uw
       |  UNION ALL
       |  SELECT e.word, e.r + 1,
       |    list_reduce(string_split(e.state, chr(31)),
       |      (acc, x) -> CASE WHEN (acc = m.lhs
       |                             OR ends_with(acc, chr(31) || m.lhs))
       |                        AND x = m.rhs
       |                  THEN acc || ' ' || x
       |                  ELSE acc || chr(31) || x END)
       |  FROM enc e JOIN m ON m.round = e.r + 1),
       |f AS (SELECT word, len(string_split(state, chr(31))) AS np
       |      FROM enc WHERE r = (SELECT MAX(round) FROM m)),
       |words AS (SELECT doc_id,
       |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
       |  FROM documents WHERE text IS NOT NULL),
       |perdoc AS (SELECT w.doc_id, COUNT(*) AS n_words,
       |    SUM(len(w.word)) AS n_chars, SUM(f.np) AS n_pieces
       |  FROM words w JOIN f USING (word) GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(coalesce(p.n_words, 0) AS BIGINT) AS n_words,
       |  CAST(coalesce(p.n_chars, 0) AS BIGINT) AS n_chars,
       |  CAST(coalesce(p.n_pieces, 0) AS BIGINT) AS n_pieces
       |FROM documents d LEFT JOIN perdoc p USING (doc_id)
       |WHERE d.text IS NOT NULL
       |ORDER BY d.doc_id""".stripMargin

  private def q166ReplaySql: String =
    bpeAdoptionReplaySql("q166_windows", rounds = 160, cap = 32)

  /** q199's placement-replay oracle: DuckDB re-runs the whole BFD fold
    * from raw text — per id-range bucket, docs in (tokens desc, id)
    * order step a recursive CTE whose state is the bucket's bin-load
    * list; each step picks the fullest fitting bin via
    * list_max(list_filter(...)) (list_position takes the FIRST maximal
    * bin = the lowest-index tie-break), or appends a new bin when
    * nothing fits (which is also the oversized-doc rule). Any drift in
    * the order, the fit rule, the tie-break, or the capacity
    * hash-fails. Buckets advance independently inside the ONE
    * recursion (a bucket with fewer docs simply stops matching). */
  private def q199ReplaySql: String = {
    val cap = 256L; val bucket = 128L
    s"""WITH RECURSIVE
       |toks AS (SELECT doc_id,
       |    CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS t,
       |    doc_id // $bucket AS bucket
       |  FROM documents),
       |d AS (SELECT doc_id, t, bucket,
       |    row_number() OVER (PARTITION BY bucket ORDER BY t DESC, doc_id) AS rk
       |  FROM toks),
       |r AS (
       |  SELECT bucket, CAST(0 AS BIGINT) AS s, CAST([] AS BIGINT[]) AS loads,
       |         CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS t,
       |         CAST(0 AS BIGINT) AS bin
       |  FROM (SELECT DISTINCT bucket FROM d)
       |  UNION ALL
       |  SELECT r.bucket, r.s + 1,
       |    CASE WHEN best.l IS NULL THEN list_append(r.loads, d.t)
       |         ELSE r.loads[1:best.p - 1] || [best.l + d.t]
       |              || r.loads[best.p + 1:len(r.loads)] END,
       |    d.doc_id, d.t,
       |    CAST(CASE WHEN best.l IS NULL THEN len(r.loads) + 1
       |              ELSE best.p END AS BIGINT)
       |  FROM r
       |  JOIN d ON d.bucket = r.bucket AND d.rk = r.s + 1,
       |  LATERAL (SELECT
       |      list_max(list_filter(r.loads, x -> x + d.t <= $cap)) AS l,
       |      list_position(r.loads,
       |        list_max(list_filter(r.loads, x -> x + d.t <= $cap))) AS p) best)
       |SELECT doc_id, t AS n_tokens, bucket, bin
       |FROM r WHERE doc_id IS NOT NULL
       |ORDER BY doc_id""".stripMargin
  }

  /** The batched-BPE adoption replay shared by q166 (corpus grain) and
    * q197 (counts grain): DuckDB walks the dumped per-window spectrum
    * slices and re-runs the driver-local greedy from scratch as a
    * recursive CTE — candidates in (count desc, lhs, rhs) order, skip
    * if either token is dirty this window, stop at the batch cap /
    * total rounds. Any drift in the greedy hash-fails. */
  private def bpeAdoptionReplaySql(aux: String, rounds: Int, cap: Int): String = {
    // state carried per step: d0 = dirty set at this candidate (reset on
    // window change), n0 = adoptions so far this window
    val d0 = "(CASE WHEN c.w <> r.w THEN CAST([] AS VARCHAR[]) ELSE r.dirty END)"
    val n0 = "(CASE WHEN c.w <> r.w THEN 0 ELSE r.nw END)"
    val ok = s"(NOT list_contains($d0, c.t1) AND NOT list_contains($d0, c.t2)" +
      s" AND $n0 < $cap AND r.tot < $rounds)"
    s"""WITH RECURSIVE c AS (
       |  SELECT w, t1, t2, c AS cnt, row_number() OVER (ORDER BY w, rn) AS s
       |  FROM read_parquet('$OracleAuxDir/$aux/*.parquet')),
       |r AS (
       |  SELECT CAST(0 AS BIGINT) AS s, CAST(-1 AS BIGINT) AS w,
       |         CAST([] AS VARCHAR[]) AS dirty, 0 AS nw, 0 AS tot,
       |         CAST(NULL AS VARCHAR) AS lhs, CAST(NULL AS VARCHAR) AS rhs,
       |         CAST(NULL AS BIGINT) AS pc, 0 AS rnd
       |  UNION ALL
       |  SELECT c.s, CAST(c.w AS BIGINT),
       |         CASE WHEN $ok THEN list_append(list_append($d0, c.t1), c.t2)
       |              ELSE $d0 END,
       |         $n0 + CASE WHEN $ok THEN 1 ELSE 0 END,
       |         r.tot + CASE WHEN $ok THEN 1 ELSE 0 END,
       |         CASE WHEN $ok THEN c.t1 END,
       |         CASE WHEN $ok THEN c.t2 END,
       |         CASE WHEN $ok THEN c.cnt END,
       |         CASE WHEN $ok THEN r.tot + 1 ELSE 0 END
       |  FROM r JOIN c ON c.s = r.s + 1)
       |SELECT rnd AS round, lhs, rhs, pc AS pair_count
       |FROM r WHERE lhs IS NOT NULL ORDER BY round""".stripMargin
  }
}
