package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan

import graft.SparkTestBase

/** Regression guards for the physical-plan shapes that make these
  * queries survive scale — a correctness-preserving change that
  * reintroduces a full sort, drops a pushdown, or degrades a broadcast
  * fails HERE rather than at 100 TB.
  */
class PlanShapeSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.01"

  private def plan(q: String): String = {
    val df: DataFrame = graft.SparkEntry.queries(q)(spark, dir)
    df.queryExecution.executedPlan.toString()
  }

  test("q01: filters and pruning reach the parquet scan") {
    val p = plan("q01_scan_filter")
    assert(p.contains("PushedFilters:") && p.contains("GreaterThanOrEqual(l_shipdate"))
    assert(!p.contains("l_tax"), "ReadSchema should exclude unused columns")
  }

  test("q04: dimension joins broadcast, no cartesian") {
    val p = plan("q04_multijoin")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q11: global top-k is TakeOrderedAndProject, not a full sort+limit") {
    val p = plan("q11_topk")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q17: snapshot window gets rank-limit pushdown (WindowGroupLimit)") {
    val p = plan("q17_cdc_snapshot")
    assert(p.contains("WindowGroupLimit"))
  }

  test("q29: top-k ranks via partial ObjectHashAggregate, not a window") {
    val p = plan("q29_cosine_topk")
    assert(p.contains("ObjectHashAggregate"))
    assert(!p.contains("Window "), "top-k must not fall back to a window sort")
  }

  test("q02: partial aggregation happens map-side") {
    val p = plan("q02_hash_agg")
    // partial_ prefix marks map-side combine in HashAggregate
    assert(p.contains("partial_sum") || p.contains("partial_count"))
  }

  test("whole-stage codegen covers the custom expressions") {
    val df = graft.core.Tables.embeddings(spark, dir)
    val p = df.select(graft.functions.VectorFunctions
        .cosine_similarity(org.apache.spark.sql.functions.col("embedding"),
          org.apache.spark.sql.functions.col("embedding")).as("s"))
      .queryExecution.executedPlan.toString()
    // WholeStageCodegenExec renders as "*(n) Project ..." in the tree string
    assert(p.contains("*("), "cosine_similarity must stay inside a codegen span")
  }
  test("q48: broadcast as-of join never shuffles the fact side") {
    val p = plan("q48_asof_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), "version chains must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "fact side must not shuffle for the join")
    assert(!p.contains("Window"), "no window pass in the broadcast variant")
  }

  test("q49: cube goes through Expand with map-side partial aggregation") {
    val p = plan("q49_cube")
    assert(p.contains("Expand"))
    assert(p.contains("partial_count") || p.contains("partial_sum"))
  }

  test("q51: curation never degrades to a cartesian or nested-loop join") {
    val p = plan("q51_curate_corpus")
    assert(!p.contains("CartesianProduct"), "all-pairs joins belong to the oracle only")
    assert(!p.contains("BroadcastNestedLoopJoin"), "candidate generation must stay equi-join LSH")
  }

  /** Every sort in the pre-AQE physical plan must order on TYPED keys:
    * a string-typed sort key means Canon's rendering projection sank
    * below an ORDER BY — decimal strings sort wrong ("9.5" > "10.2"),
    * and the rendered frame would no longer match the oracle's typed
    * ordering. */
  private def assertTypedSorts(q: String): Unit = {
    val df: DataFrame = graft.SparkEntry.queries(q)(spark, dir)
    val sorts = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.SortExec => s
    }
    assert(sorts.nonEmpty, s"$q: expected at least one sort (query has ORDER BY)")
    // both queries order exclusively on numeric/timestamp keys, so ANY
    // string-typed sort key is a rendered column that sank below a sort
    sorts.foreach { s =>
      s.sortOrder.foreach { o =>
        assert(o.child.dataType != org.apache.spark.sql.types.StringType,
          s"$q: Canon rendering sank below a sort: ${o.child}")
      }
    }
  }

  test("q10: Canon rendering stays above the window and the final sort") {
    assertTypedSorts("q10_window_analytic")
    val p = plan("q10_window_analytic")
    // column pruning must survive the canonical projection
    assert(!p.contains("o_totalprice2") && !p.contains("o_comment"),
      "ReadSchema should exclude unused orders columns under Canon")
  }

  test("q55: packing windows are bucket-partitioned — no partitionless global window") {
    // the public packShards eagerly checkpoints (collapsing the plan), so
    // inspect the staged pre-checkpoint frame
    val toks = graft.core.Tables.documents(spark, dir)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        graft.ext.TextAnalysis.tokenCount(
          org.apache.spark.sql.functions.col("text")).as("n_tokens"))
    val Some((staged, ranged)) =
      graft.ext.Sharding.packShardsStaged(toks, "doc_id", "n_tokens", 4096, 8)
    try {
      val windows = staged.queryExecution.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.nonEmpty, "expected the per-bucket cumulative-sum window")
      windows.foreach(w => assert(w.partitionSpec.nonEmpty,
        "a window with no partition spec pulls the whole corpus through one task"))
    } finally ranged.unpersist(false)
  }

  test("q98: stratified sampling ranks via partial ObjectHashAggregate, not a window") {
    val p = plan("q98_stratified_sample")
    assert(p.contains("ObjectHashAggregate"),
      "per-stratum selection must use the bounded top-k aggregator")
    assert(p.contains("partial_topkaggregator"),
      "heaps must combine map-side so the shuffle is O(strata × max target)")
    assert(!p.contains("Window "), "selection must not fall back to a per-stratum window sort")
    assert(p.contains("BroadcastHashJoin"), "the config-sized targets frame must broadcast")
  }

  test("q99: ntile rank windows are bucket-partitioned — no partitionless global window") {
    // the public ntileExact eagerly checkpoints (collapsing the plan), so
    // inspect the staged pre-checkpoint frame
    val fns = org.apache.spark.sql.functions
    val docs = graft.core.Tables.documents(spark, dir)
      .select(fns.col("doc_id"),
        graft.ext.TextAnalysis.tokenCount(fns.col("text")).as("n_tokens"))
    val Some((staged, ranged)) = graft.ext.Sharding.ntileExactStaged(
      docs, fns.col("n_tokens"), fns.col("doc_id"), 16, 8)
    try {
      val windows = staged.queryExecution.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.nonEmpty, "expected the per-bucket rank window")
      windows.foreach(w => assert(w.partitionSpec.nonEmpty,
        "a window with no partition spec pulls the whole corpus through one task"))
      val p = staged.queryExecution.executedPlan.toString()
      assert(p.contains("BroadcastHashJoin"), "the per-bucket offsets frame must broadcast")
    } finally ranged.unpersist(false)
  }

  test("q100: centroid joins broadcast the (groups × dims) frame; aggregates combine map-side") {
    val p = plan("q100_group_centroid")
    assert(p.contains("BroadcastHashJoin"), "the tiny centroid frame must broadcast")
    assert(p.contains("partial_sum"), "distance partials must combine map-side")
    assert(!p.contains("Window "), "argmin is a struct-min aggregate, never a window")
    assert(!p.contains("SortMergeJoin"), "nothing here should sort-merge")
  }

  test("q60: per-group cap ranks via partial ObjectHashAggregate, not a window") {
    val p = plan("q60_source_cap")
    assert(p.contains("ObjectHashAggregate"), "cap selection must use the bounded top-k aggregator")
    assert(!p.contains("WindowExec") && !p.contains("WindowGroupLimit"),
      "hot-domain capping must not sort groups in a window")
  }

  test("q39: Canon keeps pushdown and typed ordering through the as-of join") {
    assertTypedSorts("q39_asof_join")
    val p = plan("q39_asof_join")
    // the update/delete changelog branches filter orderkey % 3 / % 7 —
    // those predicates must still reach the scans with Canon applied
    assert(p.contains("PushedFilters:"))
    assert(!p.contains("l_extendedprice") && !p.contains("l_tax"),
      "ReadSchema must exclude unused lineitem columns under Canon")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "as-of join must stay the union + pk-window shape")
  }

  test("q67: bloom probe filters the fact BELOW the join, inside the scan stage") {
    val p = plan("q67_bloom_join")
    assert(p.contains("might_contain"), "bloom probe missing")
    val probeLine = p.linesIterator.indexWhere(_.contains("might_contain"))
    val joinLine = p.linesIterator.indexWhere(_.contains("HashJoin"))
    assert(joinLine >= 0 && probeLine > joinLine,
      "probe must sit under the join's fact side, not above the join")
    assert(!p.contains("CartesianProduct"))
  }

  test("q120: bloom probe cuts the corpus shingle stream before the join exchange") {
    val p = plan("q120_decontaminate_bloom")
    assert(p.contains("might_contain"), "bloom probe missing")
    assert(p.contains("ShuffledHashJoin"),
      "the large-benchmark path must be a shuffle hash join, not broadcast")
    val probeLine = p.linesIterator.indexWhere(_.contains("might_contain"))
    val joinLine = p.linesIterator.indexWhere(_.contains("HashJoin"))
    assert(joinLine >= 0 && probeLine > joinLine,
      "probe must sit under the join's corpus side, not above the join")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q68: the salted join's condition carries the salt bucket") {
    val p = plan("q68_salted_join")
    assert(p.contains("__salt"), "join must key on (custkey, salt)")
    assert(p.contains("Generate") || p.contains("explode"),
      "small side must replicate via explode")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q69: grouping sets go through one Expand with map-side partial aggregation") {
    val p = plan("q69_grouping_sets")
    assert(p.contains("Expand"))
    assert(p.contains("partial_count") || p.contains("partial_sum"))
  }

  test("q70: the hour axis is generated (no driver loop) and counts pre-aggregate") {
    val p = plan("q70_gap_fill")
    assert(p.contains("Generate"), "sequence+explode must generate the hour axis")
    assert(p.contains("partial_count"), "fact counts must partial-aggregate map-side")
  }

  test("q71: segment stats broadcast back over the fact side") {
    val p = plan("q71_zscore_outliers")
    assert(p.contains("BroadcastHashJoin"), "the 5-row stats frame must broadcast")
    assert(p.contains("partial_sum"), "the (n, S, Q) agg must partial-aggregate")
  }

  test("q72: the per-doc top-3 rank gets WindowGroupLimit pushdown") {
    val p = plan("q72_tfidf")
    assert(p.contains("WindowGroupLimit"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q73: heavy hitters rank via partial ObjectHashAggregate, not a window") {
    val p = plan("q73_heavy_hitters")
    assert(p.contains("ObjectHashAggregate"), "top tokens must use the bounded top-k aggregator")
    assert(!p.contains("WindowExec") && !p.contains("WindowGroupLimit"),
      "per-lang token ranking must not sort in a window")
  }

  test("q74: centroid assignment is scan-side, rollup partial-aggregates") {
    val p = plan("q74_kmeans_assign")
    assert(p.contains("nearest_centroids"), "assignment must be the codegen'd kernel")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "per-cell rollup must combine map-side")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"),
      "assignment must not rank vectors in a window or cross join centroids")
  }

  test("q75: vector melt partial-aggregates map-side (the shuffle moves sums, not vectors)") {
    val p = plan("q75_dim_stats")
    assert(p.contains("Generate"), "posexplode must melt the vectors")
    assert(p.contains("partial_sum"), "dimension sums must combine map-side")
  }

  test("q77: the mixture spec broadcasts; the keep-filter is scan-side") {
    val p = plan("q77_mix_weights")
    assert(p.contains("BroadcastHashJoin"), "the 20-row mixture spec must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the corpus must not shuffle for the mixing join")
  }

  test("q78: histogram bounds broadcast; bucket counts partial-aggregate") {
    val p = plan("q78_histogram")
    assert(p.contains("partial_count"), "bucket counts must combine map-side")
    assert(!p.contains("CartesianProduct"),
      "the 1-row bounds frame must broadcast, not cartesian")
  }

  test("q79: full outer joins key-grain aggregates, never order-grain rows") {
    val p = plan("q79_full_outer")
    assert(p.contains("FullOuter"), "join type must be full outer")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "both sides must pre-aggregate before the join")
    assert(p.contains("PushedFilters:"), "year filters must reach the scans")
  }

  test("q76: the tolerance gate keeps the as-of join's union + pk-window shape") {
    val p = plan("q76_asof_join_within")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the staleness bound must stay a post-filter, never an inequality join")
    assert(p.contains("Window"), "the as-of match is the pk window")
  }

  test("q80: chunking is map-only — no exchange before the output sort") {
    val p = plan("q80_chunking")
    assert(p.contains("Generate"), "the chunk axis must explode")
    // exactly the one exchange the total ORDER BY requires (rangepartitioning)
    assert(!p.contains("hashpartitioning"),
      "chunking itself must not shuffle — only the output sort repartitions")
    assert(!p.contains("Window"))
  }

  test("q81: postings aggregate through the bounded heap, map-side combined") {
    val p = plan("q81_inverted_index")
    assert(p.contains("ObjectHashAggregate"), "top-k heap must aggregate, not sort")
    assert(p.contains("partial_minkidaggregator"),
      "heaps must combine map-side so the shuffle is O(tokens × cap)")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "the 1-row corpus count must broadcast")
    assert(!p.contains("Window"))
  }

  test("q82: vocabulary broadcasts; pairing is an equi-join on the doc key") {
    val p = plan("q82_cooccurrence")
    assert(p.contains("BroadcastHashJoin"), "the top-V vocabulary must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "token pairing must stay a doc-keyed equi-join with a residual, not a cross join")
  }

  test("q83: novelty joins gram counts back as an equi-join, no window") {
    val p = plan("q83_ngram_novelty")
    assert(p.contains("Generate"), "grams must explode map-side")
    assert(!p.contains("Window"), "gram doc-counts come from an aggregate, not a window")
    assert(!p.contains("CartesianProduct"))
  }

  // q26/q27/q84's public entry points localCheckpoint their pair frame,
  // which erases the executed plan into an RDD scan — so these pins go
  // through the package-private *VerifiedLazy builders, the exact same
  // pipeline one step before materialization.

  private def lazyPlan(build: => (DataFrame, DataFrame)): String = {
    val (cache, verified) = build
    try verified.queryExecution.executedPlan.toString()
    finally cache.unpersist(false)
  }

  test("q26 (pre-checkpoint): banded LSH is an equi-join on (band, bucket), no cross join") {
    val docs = graft.core.Tables.documents(spark, dir)
    val p = lazyPlan(graft.ext.Dedup.minhashVerifiedLazy(docs, "doc_id", "text",
      shingleSize = 3, bands = 16, rowsPerBand = 4, threshold = 0.5,
      seed = 42L, maxBucketSize = 10000))
    assert(p.contains("Generate"), "band axis must explode")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidate generation must be the banded equi-join, never all-pairs")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "bucket join must be an equi-join")
    assert(p.contains("InMemoryTableScan"),
      "the signature table must come from the shared cache, not recompute")
  }

  test("q27 (pre-checkpoint): pigeonhole chunks equi-join, fingerprints cached once") {
    val docs = graft.core.Tables.documents(spark, dir)
    val p = lazyPlan(graft.ext.Dedup.simhashVerifiedLazy(docs, "doc_id", "text",
      maxHamming = 3, maxBucketSize = 10000))
    assert(p.contains("Generate"), "the 4-chunk axis must explode")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidates must come from the chunk equi-join, never all-pairs")
    assert(p.contains("InMemoryTableScan"),
      "both join sides must read the one cached fingerprint table")
  }

  test("q84 (pre-checkpoint): shifted-segment blocking is an equi-join on (seg_idx, seg)") {
    val docs = graft.core.Tables.documents(spark, dir)
    val p = lazyPlan(graft.ext.Dedup.editDistanceVerifiedLazy(docs, "doc_id", "text",
      prefixLen = 48, maxDist = 2, maxBucketSize = 10000))
    assert(p.contains("Generate"), "segment/probe axes must explode")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "Pass-Join blocking must stay a positional-segment equi-join")
    assert(p.contains("InMemoryTableScan"),
      "index and probe sides must read the one cached prefix table")
  }

  test("q31/q90 (pre-checkpoint): LSH buckets equi-join, vectors join back per side") {
    // the auto-sizer (q90) only picks (bits, tables); the plan shape is
    // nearDupPairs', pinned here one step before the checkpoint
    val emb = graft.core.Tables.embeddings(spark, dir)
    val (b0, vecs, verified) = graft.ext.Similarity.nearDupVerifiedLazy(
      emb, threshold = 0.4, idCol = "vec_id", vecCol = "embedding",
      seed = 42L, numTables = 8, bitsPerTable = 2, maxBucketSize = 10000)
    val p = try verified.queryExecution.executedPlan.toString()
    finally { b0.unpersist(false); vecs.unpersist(false) }
    assert(p.contains("Generate"), "the (table, bucket) axis must explode")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidates must come from the bucket equi-join, never all-pairs")
    assert(p.contains("InMemoryTableScan"),
      "both self-join sides must read the one cached bucket projection")
  }

  test("q87: the weight spec broadcasts; copy fan-out never shuffles the corpus") {
    val p = plan("q87_upsample_mix")
    assert(p.contains("BroadcastHashJoin"), "the 20-row weight spec must broadcast")
    assert(p.contains("Generate"), "copies fan out as a map-side explode")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the corpus must not shuffle for the mixing join")
  }

  test("q91: PQ scan ranks codes via bounded heaps; corpus never sort-merges") {
    val p = plan("q91_cosine_topk_pq")
    assert(p.contains("ObjectHashAggregate"),
      "ADC candidates and the re-rank must go through the bounded top-k heap")
    assert(!p.contains("Window "), "no window sort anywhere in the PQ pipeline")
    assert(!p.contains("SortMergeJoin"),
      "corpus joins must stay broadcast/hash — queries are the small side")
  }

  test("q93: merge is one anti-join + union — no full-outer, no per-column coalesce") {
    val p = plan("q93_merge_upsert")
    assert(p.contains("LeftAnti"), "superseded target rows drop via a left-anti equi-join")
    assert(p.contains("Union"), "survivors union with the live source rows, shuffle-free")
    assert(!p.contains("FullOuter"), "merge must not build full-outer wide rows")
    assert(!p.contains("CartesianProduct"))
  }

  test("q94: pair counting is explode + map-side partial agg + TakeOrdered cut") {
    val p = plan("q94_bpe_pairs")
    assert(p.contains("Generate"), "the pair axis fans out as a map-side explode")
    assert(p.contains("partial_count"), "pair counts combine map-side before the shuffle")
    assert(p.contains("TakeOrderedAndProject"),
      "the top-k cut must be bounded, never a global sort")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "no self-join anywhere — adjacency comes from the shift-zip projection")
  }

  test("q95: robust stats join tiny per-group frames back via broadcast") {
    val p = plan("q95_mad_outliers")
    assert(p.contains("BroadcastHashJoin"),
      "the per-group median/MAD frames must broadcast, not shuffle the fact")
    assert(!p.contains("SortMergeJoin"),
      "the fact side must never sort-merge against a 3-row statistic frame")
  }

  test("q96: token-budget prefix sum is bucket-partitioned, offsets broadcast") {
    val p = plan("q96_token_budget")
    val lines = p.split("\n")
    assert(lines.exists(l => l.contains("Window") && l.contains("__sb")),
      "the corpus-side running sum must partition by (group, hash bucket) — " +
        "a group-only window would sort each hot source in one task")
    assert(p.contains("BroadcastHashJoin"), "the tiny offsets frame must broadcast")
    assert(p.contains("LeftSemi"), "kept ids rejoin the corpus via a semi join")
    assert(p.contains("partial_sum"), "bucket totals must combine map-side")
  }

  test("q97: expiry is one pk-window over the old slice + shuffle-free union") {
    val p = plan("q97_expire_history")
    assert(p.contains("WindowGroupLimit"),
      "the collapse must get rank-limit pushdown like the snapshot (q17)")
    assert(p.contains("Union"), "post-horizon history unions back untouched")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "expiry is window + union only — no join anywhere")
  }

  test("q88: recall overlap ranks via bounded heaps, never a window sort") {
    val p = plan("q88_ann_recall")
    assert(p.contains("ObjectHashAggregate"), "both top-k sides use the bounded heap")
    assert(!p.contains("Window "), "no window sort anywhere in the recall pipeline")
  }

  test("q86: span accounting is two hash aggregates with map-side partials") {
    val p = plan("q86_repeated_spans")
    assert(p.contains("Generate"), "k-grams must explode map-side")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "per-doc occurrence partials must combine map-side")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"))
  }

  test("q105: BM25 queries broadcast onto postings; top-k via bounded heaps") {
    val p = plan("q105_bm25_topk")
    assert(p.contains("BroadcastHashJoin"),
      "the term-set query frame must broadcast — a shuffled postings join " +
        "would move the whole posting frame per query batch")
    assert(p.contains("ObjectHashAggregate"),
      "per-query top-k must rank through the bounded heap")
    assert(!p.contains("Window "), "no window sort over the scored frame")
    assert(!p.contains("CartesianProduct"))
  }

  test("q115/q116: subqueries decorrelate into joins, never per-row execution") {
    for (q <- Seq("q115_correlated_exists", "q116_lateral_topn")) {
      val p = plan(q)
      assert(p.contains("Join"), s"$q: decorrelation must produce a join")
      assert(!p.contains("CartesianProduct"),
        s"$q: correlated subqueries must not plan as cartesian products")
    }
    // the EXISTS/NOT EXISTS pair specifically becomes semi/anti joins
    val p115 = plan("q115_correlated_exists")
    assert(p115.contains("LeftSemi") && p115.contains("LeftAnti"),
      "EXISTS/NOT EXISTS must decorrelate to semi/anti joins")
  }

  test("q106/q107: LM count frames partial-aggregate map-side, no cartesian") {
    // since round 7 the scored frame eagerly checkpoints inside
    // bigramLogLik/dsirWeights (so threshold + gate reuse never replays
    // the LM) — the count-frame aggregation facts therefore live in the
    // PRE-checkpoint subplan, asserted here on the gram frame directly;
    // the declared queries keep the no-cartesian fact on their final plan
    val grams = graft.ext.NgramLM.docNgrams(
      graft.core.Tables.documents(spark, dir), 2)
    val gp = grams.queryExecution.executedPlan.toString
    assert(gp.contains("partial_count") || gp.contains("partial_sum"),
      "docNgrams: per-doc gram counts must combine map-side before the shuffle")
    for (q <- Seq("q106_perplexity_filter", "q107_dsir_weights")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q: scalar frames must ride broadcast nested-loop, never cartesian")
    }
  }

  // q201–q219 (KN scoring): the scored frame eagerly checkpoints inside
  // NgramLM's per-document aggregation (the q106 discipline), which
  // collapses the executed plan to a LogicalRDD scan — a post-hoc guard
  // here would be vacuous. Their shape facts are covered upstream:
  // docNgrams' map-side partials (asserted above, one bound-column
  // transform at every order), the totals row carries an explicit
  // broadcast() hint (BroadcastNestedLoopJoin by construction), and the
  // pruned γ frame is one more vocabulary-sized hash aggregate over the
  // kept filter of the type table (no new join shape). The serving
  // joins (q209/q210/q213/q218) are 2n − 1 equi-joins of bounded frames,
  // pinned by KnModelSpec's bounded-size assertions.
  //
  // q214's second pass is q212's plan under a different θ (guarded
  // below on the live plan — the kernel path never checkpoints).

  test("q212: the soft E-step is one kernel pass + one bounded aggregate") {
    val p = plan("q212_soft_em_estep_fixed")
    assert(!p.contains("CartesianProduct"),
      "q212: no join belongs in the E-step at all")
    assert(!p.contains("Join"),
      "q212: the inventory rides as a codegen reference map, never a join")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    // wordCounts (word) + the piece aggregate — anything more means the
    // kernel pass stopped being map-only
    assert(exchanges <= 2, s"q212: expected <= 2 hash exchanges, got $exchanges\n$p")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      "q212: expected counts must combine map-side before the piece shuffle")
  }

  test("q134: all gram sizes ride one union — a single (doc,n,gram) exchange pair") {
    val p = plan("q134_repetition")
    // one count shuffle keyed (doc, n, gram) + one (doc, n) reduce + the
    // per-doc rollup + final sort: a per-gram-size plan would multiply
    // the exchanges by 4
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 4, s"q134: expected <= 4 hash exchanges, got $exchanges\n$p")
    assert(p.contains("Union"), "gram sizes must union before the count")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "gram counts must combine map-side")
  }

  test("q135: Morton value is scan-side arithmetic; file cut is range-partitioned rank") {
    val p = plan("q135_zorder_layout")
    assert(p.contains("Exchange rangepartitioning"),
      "the ntile cut must range-repartition on (zvalue, rid)")
    assert(!p.contains("Window ") ||
      "Window ".r.findAllIn(p).isEmpty ||
      p.contains("__rb"),
      "rank windows must be bucket-partitioned, never partitionless")
    assert(!p.contains("CartesianProduct"))
  }

  test("q136: centroid dots are map-only — the only exchange is the k-row rollup") {
    val p = plan("q136_cluster_quality")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 1, s"q136: expected 1 hash exchange (cell rollup), got $exchanges")
    assert(p.contains("double_dot_product") || p.contains("DoubleDotProduct") ||
      p.contains("UDF") == false, "dots must be the codegen'd kernel")
  }

  test("q140: multi-probe expansion stays on the broadcast query side") {
    val p = plan("q140_cosine_topk_mplsh")
    assert(p.contains("BroadcastHashJoin"),
      "the probe-expanded query side must broadcast onto the corpus buckets")
    assert(!p.contains("CartesianProduct"))
    // corpus side explodes once per table only (no probe multiplication)
    assert(p.contains("Generate explode"), "bucket explode must be a Generate")
  }

  test("q142: row rules fuse — one scan per audited table") {
    val p = plan("q142_dq_audit")
    val liScans = "Location: InMemoryFileIndex \\[file:[^\\]]*lineitem".r
      .findAllIn(p).size
    // lineitem appears once for the fused row rules and once for the
    // orphan anti-join probe — never once per rule (4 rules declared)
    assert(liScans <= 2, s"q142: lineitem scanned $liScans times\n$p")
  }

  test("q146: fusion is heap-selected over bounded inputs — no window, no cartesian") {
    val p = plan("q146_rrf_fusion")
    // the fused top-k rides the bounded ObjectHashAggregate heap; a
    // Window here would re-sort the fused frame per query
    assert(p.contains("ObjectHashAggregate"))
    assert(!p.contains("Window "), "fusion must not rank via a window sort")
    assert(!p.contains("CartesianProduct"))
  }

  test("q147: containment rides the inverted-index equi-join, never nested-loop") {
    val p = plan("q147_containment")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"containment must never compare all pairs directly\n$p")
    // shared-shingle counts partial-aggregate map-side
    assert(p.contains("partial_count"))
  }

  test("q148: prune windows partition by cell; centroid melt partial-aggregates") {
    val p = plan("q148_density_prune")
    // every window must carry the cell partition key — a partitionless
    // window would pull the corpus through one task
    val winSpecs = "Window \\[[^\\]]*partitionBy=\\[\\]".r.findAllIn(p).size
    assert(winSpecs == 0, s"q148 has a partitionless window\n$p")
    assert(p.contains("windowspecdefinition(cell"),
      "the proto rank must partition by cell")
    assert(p.contains("partial_sum"), "centroid sums must combine map-side")
  }

  test("q150: weighted Jaccard rides the same inverted index — no nested-loop, no window") {
    val p = plan("q150_weighted_jaccard")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"weighted Jaccard must never compare all pairs directly\n$p")
    assert(p.contains("partial_sum"), "per-pair shared weight must combine map-side")
    assert(!p.contains("Window "), "no per-pair or per-doc window anywhere")
  }

  test("q149: weighted sampling is map-side heaps — no window, no global sort") {
    val p = plan("q149_weighted_sample")
    assert(p.contains("ObjectHashAggregate"))
    assert(!p.contains("Window "), "per-stratum selection must be the bounded heap")
    // the only sort is the final presentation ORDER BY
    val sorts = "Sort \\[".r.findAllIn(p).size
    assert(sorts <= 1, s"q149: unexpected extra sorts\n$p")
  }

  test("q151: split assignment is one equi-join + map-only hash — no window, no cartesian") {
    val p = plan("q151_leakage_split")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"leakage split must join docs to the (small) cluster frame by key\n$p")
    assert(!p.contains("Window "),
      "the modular split hash is map-only — no window anywhere")
  }

  test("q153: neighborhood rank windows are bucket-partitioned; candidates equi-join") {
    val p = plan("q153_sorted_neighborhood")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"sorted-neighborhood candidates must come from the integer equi-join\n$p")
    val partitionless = "Window \\[[^\\]]*partitionBy=\\[\\]".r.findAllIn(p).size
    assert(partitionless == 0,
      s"the global rank must stay bucket-partitioned, never one task\n$p")
  }

  test("q156: spectrum is two map-side hash counts — no window, no join") {
    val p = plan("q156_token_spectrum")
    assert(p.contains("partial_count"), "both counts must combine map-side")
    assert(!p.contains("Window ") && !p.contains("Join"),
      s"the spectrum is pure aggregation\n$p")
  }

  test("q157: path window partitions by user; the cut is a TakeOrdered heap") {
    val p = plan("q157_event_paths")
    assert(p.contains("windowspecdefinition(user_id"),
      "the lead window must partition by user")
    val partitionless = "Window \\[[^\\]]*partitionBy=\\[\\]".r.findAllIn(p).size
    assert(partitionless == 0, s"q157 has a partitionless window\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      "the top-k cut must be per-partition heaps, not a full sort")
  }

  test("q158: churn is one pk lag window + one fused melt — N columns, one scan") {
    val p = plan("q158_column_churn")
    assert(p.contains("windowspecdefinition(pk"),
      "the lag window must partition by pk")
    val windows = "Window \\[".r.findAllIn(p).size
    assert(windows == 1, s"q158 must use exactly one window pass\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q159: ECDF ranks attach via broadcast join; windows stay on the histogram") {
    val p = plan("q159_ecdf_normalize")
    assert(p.contains("BroadcastHashJoin"),
      "the value-grain rank frame must broadcast onto the fact")
    assert(p.contains("partial_count"),
      "the (group, value) histogram must combine map-side")
    val partitionless = "Window \\[[^\\]]*partitionBy=\\[\\]".r.findAllIn(p).size
    assert(partitionless == 0, s"q159 has a partitionless window\n$p")
  }

  test("q160: bench side broadcasts; the corpus never shuffles before the reduce") {
    val p = plan("q160_semantic_decontaminate")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the bounded benchmark must broadcast onto the corpus scan")
    assert(p.contains("partial_count") || p.contains("partial_max"),
      "the per-vector reduce must combine map-side")
    assert(!p.contains("Window "), "no window anywhere")
  }

  test("q172: substring decontamination rides one digest semi-join — no window, no cartesian") {
    val p = plan("q172_substr_decontaminate")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "train grams must reach the bench gram set through an equi-join, never all-pairs")
    assert(!p.contains("Window "),
      "coverage is mark-explode + distinct, never a window over gram occurrences")
    assert(p.contains("LeftSemi"), "the bench-gram probe must be a semi-join")
  }

  test("q174: phrase search is the positional-index join — no cartesian, no window, " +
      "map-side-combining anchor aggregate") {
    val p = plan("q174_phrase_search")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "phrase terms must meet postings on a term equi-join, never doc×phrase")
    assert(!p.contains("Window "), "anchor promotion is a hash aggregate, not a window")
    assert(p.contains("partial_count"),
      "the anchor count must combine map-side before the shuffle")
  }

  test("q169: exact span dedup is hash aggregates + equi-joins — no window, no cartesian") {
    val p = plan("q169_span_dedup_exact")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the suffix-array-grade pass must never degrade to all-pairs")
    assert(!p.contains("Window "),
      "winner selection is a min-struct hash aggregate, never a window over gram occurrences")
    assert(p.contains("partial_min") || p.contains("partial_count"),
      "the gram winner aggregate must combine map-side (boilerplate grams collapse before the shuffle)")
  }

  test("q181: table-driven encode is ONE map pass — no join, no aggregate, no window") {
    val p = plan("q181_bpe_encode_deep")
    assert(p.contains("bpe_apply_merges_indexed"),
      "the depth-independent kernel must be the encode path")
    assert(!p.contains("Join") && !p.contains("Window "),
      "the merge table rides as a codegen reference object — encoding must not join or window")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, // the declared ORDER BY's range partitioning only
      s"encode must be map-only up to the final sort, found $exchanges exchanges\n$p")
  }

  test("q188: wordpiece encode is ONE map pass — no join, no aggregate, no window") {
    val p = plan("q188_wordpiece_encode")
    assert(p.contains("word_piece_encode"),
      "the greedy longest-match kernel must be the encode path")
    assert(!p.contains("Join") && !p.contains("Window "),
      "the vocabulary rides as codegen reference objects — encoding must not join or window")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, // the declared ORDER BY's range partitioning only
      s"encode must be map-only up to the final sort, found $exchanges exchanges\n$p")
  }

  test("q189: the rule card is ONE map pass — no join, no aggregate, no window") {
    val p = plan("q189_gopher_rules")
    assert(!p.contains("Join") && !p.contains("Window ") && !p.contains("HashAggregate"),
      "every signal folds over the staged token array in-row — no shuffle-bearing operator")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, // the declared ORDER BY's range partitioning only
      s"the card must be map-only up to the final sort, found $exchanges exchanges\n$p")
  }

  test("q191: the Viterbi pass is ONE map pass — no join, no aggregate, no window") {
    val p = plan("q191_unigram_viterbi")
    assert(p.contains("unigram_viterbi_stats"),
      "the exact DP kernel must be the segmentation path")
    assert(!p.contains("Join") && !p.contains("Window "),
      "the piece inventory rides as codegen reference objects — no join, no window")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, // the declared ORDER BY's range partitioning only
      s"the DP must be map-only up to the final sort, found $exchanges exchanges\n$p")
  }

  test("q192: the FIM reorder is ONE map pass — no join, no aggregate, no window") {
    val p = plan("q192_fim_transform")
    assert(!p.contains("Join") && !p.contains("Window ") && !p.contains("HashAggregate"),
      "selection and split points are pure hash arithmetic — no shuffle-bearing operator")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, // the declared ORDER BY's range partitioning only
      s"the reorder must be map-only up to the final sort, found $exchanges exchanges\n$p")
  }

  test("q193: all three trained kernels compose in ONE map pass") {
    val p = plan("q193_tokenizer_bakeoff")
    assert(p.contains("bpe_apply_merges_indexed") && p.contains("word_piece_encode") &&
      p.contains("unigram_viterbi_stats"),
      "the bake-off must run every trained family's kernel")
    assert(!p.contains("Join") && !p.contains("Window "),
      "three reference-object tables, zero joins")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 1,
      s"the bake-off must be map-only up to the final sort, found $exchanges exchanges\n$p")
  }

  test("q198: store-table char-grain encode is ONE map pass — no join, no aggregate, no window") {
    val p = plan("q198_bpe_encode_maintained")
    assert(p.contains("bpe_apply_merges_indexed"),
      "the depth-independent kernel must encode every word")
    assert(!p.contains("Join") && !p.contains("Window ") && !p.contains("HashAggregate"),
      "the store-derived table rides as a codegen reference object — per-doc " +
        "sums fold over the word array in-row, no shuffle-bearing operator")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, // the declared ORDER BY's range partitioning only
      s"encode must be map-only up to the final sort, found $exchanges exchanges\n$p")
  }

  test("q199: BFD packs inside one bucket exchange — no window, no join, no cartesian") {
    val p = plan("q199_bfd_pack")
    assert(!p.contains("Window ") && !p.contains("Join") && !p.contains("Cartesian"),
      "per-bucket packing is typed flatMapGroups — placement must never window or join")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, // bucket hash partitioning + the declared ORDER BY
      s"BFD must shuffle once on the bucket key (plus the final sort), " +
        s"found $exchanges exchanges\n$p")
  }

  test("q200 (per-batch fold): the rule-card partial aggregates map-side after one scan") {
    // the store's trigger-side plan: gopherRules (map-only, guarded at
    // q189) → stack unpivot (map-only Expand/Generate) → ONE count
    // aggregation with map-side combine — the whole fold is one
    // exchange on (source, rule)
    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables.documents(spark, dir)
    val card = graft.ext.TextAnalysis.gopherRules(docs, carryCols = Seq("source"))
      .select(col("source"),
        expr("""stack(7, 'keep', keep,
                'r_alpha_ratio', r_alpha_ratio, 'r_dominance', r_dominance,
                'r_mean_word_len', r_mean_word_len,
                'r_repetition', r_repetition, 'r_stopwords', r_stopwords,
                'r_word_count', r_word_count) AS (rule, pass)"""))
      .groupBy("source", "rule")
      .agg(count(lit(1)).as("n"),
        sum(when(!col("pass"), 1L).otherwise(0L)).as("n_fail"))
    val p = card.queryExecution.executedPlan.toString()
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "the fold must combine map-side")
    assert(!p.contains("Join") && !p.contains("Window "))
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 1,
      s"one (source, rule) exchange only, found $exchanges\n$p")
  }

  test("q190 (pre-checkpoint): dHash pairs ride the capped pigeonhole equi-join") {
    // the q161/q27 guard for the GRADIENT hash family: pairs must come
    // from the 4×16-bit chunk equi-join over the one persisted
    // fingerprint frame — never all-pairs, never a window over pairs
    val fps = graft.ext.Multimodal.imageDHash(
      graft.ext.Multimodal.synthesizeBmpCorpus(
        graft.core.Tables.documents(spark, dir).limit(64)))
      .select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("fp"))
      .persist()
    val p = try graft.ext.Dedup.hammingVerifiedLazy(fps, maxHamming = 3,
        maxBucketSize = 10000)
      .queryExecution.executedPlan.toString()
    finally fps.unpersist(false)
    assert(p.contains("Generate"), "the 4-chunk axis must explode")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidates must come from the chunk equi-join, never all-pairs")
    assert(!p.contains("Window "),
      "pair selection must not fall back to a window over all pairs")
    assert(p.contains("InMemoryTableScan"),
      "both join sides must read the one cached fingerprint table")
  }

  test("q185: the registry cut is a digest semi-join — no cartesian, no window") {
    val p = plan("q185_decontam_maintained")
    assert(p.contains("LeftSemi"),
      "corpus grams must reach the registered digests through a semi-join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the cut must never degrade to corpus×registry pairs")
    assert(!p.contains("Window "),
      "coverage marks and the rebuild are hash aggregates, never windows")
  }

  test("q154: winsorize walks the histogram — map-side count, windows never touch the fact") {
    val p = plan("q154_winsorize")
    assert(p.contains("partial_count"),
      "the (group, value) histogram must combine map-side")
    val partitionless = "Window \\[[^\\]]*partitionBy=\\[\\]".r.findAllIn(p).size
    assert(partitionless == 0, s"q154 has a partitionless window\n$p")
    assert(!p.contains("CartesianProduct"))
  }
}
