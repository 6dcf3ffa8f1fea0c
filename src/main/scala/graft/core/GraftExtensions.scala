package graft.core

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._

/** SparkSessionExtensions entry point: makes the engine's native
  * functions available to ANY session created with
  * `--conf spark.sql.extensions=graft.core.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`), no code required — the
  * standard deployment path for Catalyst-level extensions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, name)

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("cosine_similarity"), info("cosine_similarity"),
      (es: Seq[Expression]) => CosineSimilarity(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("dot_product"), info("dot_product"),
      (es: Seq[Expression]) => DotProduct(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("simhash64"), info("simhash64"),
      (es: Seq[Expression]) => SimHash64(es.head)))
    ext.injectFunction((FunctionIdentifier("token_fingerprint64"), info("token_fingerprint64"),
      (es: Seq[Expression]) => TokenFingerprint64(es.head)))
    ext.injectFunction((FunctionIdentifier("iso_micros"), info("iso_micros"),
      (es: Seq[Expression]) => IsoMicros(es.head)))
    // hashed_shingles(text, n) / minhash_signature(shingles, k, seed):
    // int args arrive as foldable literals
    ext.injectFunction((FunctionIdentifier("hashed_shingles"), info("hashed_shingles"),
      (es: Seq[Expression]) => HashedShingles(es(0),
        es(1).eval().asInstanceOf[Number].intValue())))
    ext.injectFunction((FunctionIdentifier("minhash_signature"), info("minhash_signature"),
      (es: Seq[Expression]) => MinHashSignature(es(0),
        es(1).eval().asInstanceOf[Number].intValue(),
        es(2).eval().asInstanceOf[Number].longValue())))
    // Point-in-time table-valued functions over versioned CDC tables
    // registered through graft.cdc.VersionedSql.register — the SQL face
    // of the Versioned operators (snapshot / as_of / changes_between /
    // scd2), expanding at analysis time into the same pk-window plans.
    ext.injectTableFunction((FunctionIdentifier("snapshot"), info("snapshot"),
      (es: Seq[Expression]) => graft.cdc.VersionedSql.snapshotPlan(es)))
    ext.injectTableFunction((FunctionIdentifier("as_of"), info("as_of"),
      (es: Seq[Expression]) => graft.cdc.VersionedSql.asOfPlan(es)))
    ext.injectTableFunction((FunctionIdentifier("changes_between"), info("changes_between"),
      (es: Seq[Expression]) => graft.cdc.VersionedSql.changesBetweenPlan(es)))
    ext.injectTableFunction((FunctionIdentifier("scd2"), info("scd2"),
      (es: Seq[Expression]) => graft.cdc.VersionedSql.scd2Plan(es)))
    ext.injectTableFunction((FunctionIdentifier("expire_history"), info("expire_history"),
      (es: Seq[Expression]) => graft.cdc.VersionedSql.expireHistoryPlan(es)))
    // Document-pipeline TVFs over (doc_id, text) views — the SQL face of
    // the training-data operators (graft.ext.DocSql scaladoc).
    ext.injectTableFunction((FunctionIdentifier("doc_quality"), info("doc_quality"),
      (es: Seq[Expression]) => graft.ext.DocSql.docQualityPlan(es)))
    ext.injectTableFunction((FunctionIdentifier("near_dup_pairs"), info("near_dup_pairs"),
      (es: Seq[Expression]) => graft.ext.DocSql.nearDupPairsPlan(es)))
    ext.injectTableFunction((FunctionIdentifier("dedup_corpus"), info("dedup_corpus"),
      (es: Seq[Expression]) => graft.ext.DocSql.dedupCorpusPlan(es)))
    ext.injectTableFunction((FunctionIdentifier("token_chunks"), info("token_chunks"),
      (es: Seq[Expression]) => graft.ext.DocSql.tokenChunksPlan(es)))
    ext.injectTableFunction((FunctionIdentifier("pair_merge_scores"), info("pair_merge_scores"),
      (es: Seq[Expression]) => graft.ext.DocSql.pairMergeScoresPlan(es)))
    ext.injectTableFunction((FunctionIdentifier("corpus_diff"), info("corpus_diff"),
      (es: Seq[Expression]) => graft.ext.DocSql.corpusDiffPlan(es)))
    ext.injectTableFunction((FunctionIdentifier("length_buckets"), info("length_buckets"),
      (es: Seq[Expression]) => graft.ext.DocSql.lengthBucketsPlan(es)))
    ext.injectTableFunction((FunctionIdentifier("stratified_sample"), info("stratified_sample"),
      (es: Seq[Expression]) => graft.ext.DocSql.stratifiedSamplePlan(es)))
    ext.injectTableFunction((FunctionIdentifier("span_dedup"), info("span_dedup"),
      (es: Seq[Expression]) => graft.ext.DocSql.spanDedupPlan(es)))
    ext.injectTableFunction((FunctionIdentifier("nb_classify"), info("nb_classify"),
      (es: Seq[Expression]) => graft.ext.DocSql.nbClassifyPlan(es)))
    ext.injectTableFunction((FunctionIdentifier("temperature_mix"), info("temperature_mix"),
      (es: Seq[Expression]) => graft.ext.DocSql.temperatureMixPlan(es)))
    ext.injectTableFunction((FunctionIdentifier("dup_pagerank"), info("dup_pagerank"),
      (es: Seq[Expression]) => graft.ext.DocSql.dupPagerankPlan(es)))
    ext.injectTableFunction((FunctionIdentifier("sample_quantiles"), info("sample_quantiles"),
      (es: Seq[Expression]) => graft.ext.DocSql.sampleQuantilesPlan(es)))
    ext.injectTableFunction((FunctionIdentifier("pack_sequences"), info("pack_sequences"),
      (es: Seq[Expression]) => graft.ext.DocSql.packSequencesPlan(es)))
    ext.injectTableFunction((FunctionIdentifier("decontaminate"), info("decontaminate"),
      (es: Seq[Expression]) => graft.ext.DocSql.decontaminatePlan(es)))
    ext.injectTableFunction((FunctionIdentifier("pca_project"), info("pca_project"),
      (es: Seq[Expression]) => graft.ext.DocSql.pcaProjectPlan(es)))
    ext.injectTableFunction((FunctionIdentifier("contamination_profile"), info("contamination_profile"),
      (es: Seq[Expression]) => graft.ext.DocSql.contaminationProfilePlan(es)))
    ext.injectTableFunction((FunctionIdentifier("epoch_shuffle"), info("epoch_shuffle"),
      (es: Seq[Expression]) => graft.ext.DocSql.epochShufflePlan(es)))
    ext.injectTableFunction((FunctionIdentifier("kmv_overlap"), info("kmv_overlap"),
      (es: Seq[Expression]) => graft.ext.DocSql.kmvOverlapPlan(es)))
    ext.injectTableFunction((FunctionIdentifier("repetition_profile"), info("repetition_profile"),
      (es: Seq[Expression]) => graft.ext.DocSql.repetitionProfilePlan(es)))
    ext.injectTableFunction((FunctionIdentifier("zipf_fit"), info("zipf_fit"),
      (es: Seq[Expression]) => graft.ext.DocSql.zipfFitPlan(es)))
    ext.injectTableFunction((FunctionIdentifier("quality_drift"), info("quality_drift"),
      (es: Seq[Expression]) => graft.ext.DocSql.qualityDriftPlan(es)))
    ext.injectTableFunction((FunctionIdentifier("ring_negatives"), info("ring_negatives"),
      (es: Seq[Expression]) => graft.ext.DocSql.ringNegativesPlan(es)))
    ext.injectTableFunction((FunctionIdentifier("pmi_collocations"), info("pmi_collocations"),
      (es: Seq[Expression]) => graft.ext.DocSql.pmiCollocationsPlan(es)))
    ext.injectTableFunction((FunctionIdentifier("rrf_fuse"), info("rrf_fuse"),
      (es: Seq[Expression]) => graft.ext.DocSql.rrfFusePlan(es)))
    ext.injectTableFunction((FunctionIdentifier("containment_pairs"), info("containment_pairs"),
      (es: Seq[Expression]) => graft.ext.DocSql.containmentPairsPlan(es)))
    ext.injectTableFunction((FunctionIdentifier("density_prune"), info("density_prune"),
      (es: Seq[Expression]) => graft.ext.DocSql.densityPrunePlan(es)))
    ext.injectTableFunction((FunctionIdentifier("weighted_sample"), info("weighted_sample"),
      (es: Seq[Expression]) => graft.ext.DocSql.weightedSamplePlan(es)))
    ext.injectTableFunction((FunctionIdentifier("weighted_jaccard"), info("weighted_jaccard"),
      (es: Seq[Expression]) => graft.ext.DocSql.weightedJaccardPlan(es)))
    ext.injectTableFunction((FunctionIdentifier("leakage_split"), info("leakage_split"),
      (es: Seq[Expression]) => graft.ext.DocSql.leakageSplitPlan(es)))
    ext.injectTableFunction((FunctionIdentifier("sorted_neighborhood"), info("sorted_neighborhood"),
      (es: Seq[Expression]) => graft.ext.DocSql.sortedNeighborhoodPlan(es)))
    ext.injectTableFunction((FunctionIdentifier("winsorize"), info("winsorize"),
      (es: Seq[Expression]) => graft.ext.DocSql.winsorizePlan(es)))
    ext.injectTableFunction((FunctionIdentifier("bpe_merges"), info("bpe_merges"),
      (es: Seq[Expression]) => graft.ext.DocSql.bpeMergesPlan(es)))
    ext.injectTableFunction((FunctionIdentifier("ecdf_normalize"), info("ecdf_normalize"),
      (es: Seq[Expression]) => graft.ext.DocSql.ecdfNormalizePlan(es)))
    ext.injectTableFunction((FunctionIdentifier("token_spectrum"), info("token_spectrum"),
      (es: Seq[Expression]) => graft.ext.DocSql.tokenSpectrumPlan(es)))
    ext.injectTableFunction((FunctionIdentifier("event_paths"), info("event_paths"),
      (es: Seq[Expression]) => graft.ext.DocSql.eventPathsPlan(es)))
    ext.injectTableFunction((FunctionIdentifier("semantic_decontaminate"), info("semantic_decontaminate"),
      (es: Seq[Expression]) => graft.ext.DocSql.semanticDecontaminatePlan(es)))
    ext.injectTableFunction((FunctionIdentifier("leakage_folds"), info("leakage_folds"),
      (es: Seq[Expression]) => graft.ext.DocSql.leakageFoldsPlan(es)))
    ext.injectTableFunction((FunctionIdentifier("image_dedup_pairs"), info("image_dedup_pairs"),
      (es: Seq[Expression]) => graft.ext.DocSql.imageDedupPairsPlan(es)))
    ext.injectTableFunction((FunctionIdentifier("bpe_encode"), info("bpe_encode"),
      (es: Seq[Expression]) => graft.ext.DocSql.bpeEncodePlan(es)))
    ext.injectTableFunction((FunctionIdentifier("span_dedup_exact"), info("span_dedup_exact"),
      (es: Seq[Expression]) => graft.ext.DocSql.spanDedupExactPlan(es)))
    ext.injectTableFunction((FunctionIdentifier("substr_decontaminate"), info("substr_decontaminate"),
      (es: Seq[Expression]) => graft.ext.DocSql.substrDecontaminatePlan(es)))
    ext.injectTableFunction((FunctionIdentifier("phrase_search"), info("phrase_search"),
      (es: Seq[Expression]) => graft.ext.DocSql.phraseSearchPlan(es)))
    ext.injectTableFunction((FunctionIdentifier("bpe_merges_batched"), info("bpe_merges_batched"),
      (es: Seq[Expression]) => graft.ext.DocSql.bpeMergesBatchedPlan(es)))
    ext.injectTableFunction((FunctionIdentifier("bpe_encode_with"), info("bpe_encode_with"),
      (es: Seq[Expression]) => graft.ext.DocSql.bpeEncodeWithPlan(es)))
    ext.injectTableFunction((FunctionIdentifier("tokenizer_bakeoff"), info("tokenizer_bakeoff"),
      (es: Seq[Expression]) => graft.ext.DocSql.tokenizerBakeoffPlan(es)))
    ext.injectTableFunction((FunctionIdentifier("fim_transform"), info("fim_transform"),
      (es: Seq[Expression]) => graft.ext.DocSql.fimTransformPlan(es)))
    ext.injectTableFunction((FunctionIdentifier("unigram_pieces"), info("unigram_pieces"),
      (es: Seq[Expression]) => graft.ext.DocSql.unigramPiecesPlan(es)))
    ext.injectTableFunction((FunctionIdentifier("unigram_viterbi"), info("unigram_viterbi"),
      (es: Seq[Expression]) => graft.ext.DocSql.unigramViterbiPlan(es)))
    ext.injectTableFunction((FunctionIdentifier("gopher_rules"), info("gopher_rules"),
      (es: Seq[Expression]) => graft.ext.DocSql.gopherRulesPlan(es)))
    ext.injectTableFunction((FunctionIdentifier("wordpiece_vocab"), info("wordpiece_vocab"),
      (es: Seq[Expression]) => graft.ext.DocSql.wordPieceVocabPlan(es)))
    ext.injectTableFunction((FunctionIdentifier("wordpiece_encode"), info("wordpiece_encode"),
      (es: Seq[Expression]) => graft.ext.DocSql.wordPieceEncodePlan(es)))
    // store-backed TVFs: the SQL faces of the maintained streaming
    // stores — a SQL-only user queries what the streams keep current
    ext.injectTableFunction((FunctionIdentifier("phrase_search_store"), info("phrase_search_store"),
      (es: Seq[Expression]) => graft.ext.DocSql.phraseSearchStorePlan(es)))
    ext.injectTableFunction((FunctionIdentifier("decontaminate_store"), info("decontaminate_store"),
      (es: Seq[Expression]) => graft.ext.DocSql.decontaminateStorePlan(es)))
    ext.injectTableFunction((FunctionIdentifier("bm25_topk_store"), info("bm25_topk_store"),
      (es: Seq[Expression]) => graft.ext.DocSql.bm25TopKStorePlan(es)))
    ext.injectTableFunction((FunctionIdentifier("wordpiece_vocab_store"), info("wordpiece_vocab_store"),
      (es: Seq[Expression]) => graft.ext.DocSql.wordPieceVocabStorePlan(es)))
    ext.injectTableFunction((FunctionIdentifier("unigram_pieces_store"), info("unigram_pieces_store"),
      (es: Seq[Expression]) => graft.ext.DocSql.unigramPiecesStorePlan(es)))
    ext.injectTableFunction((FunctionIdentifier("bpe_merges_store"), info("bpe_merges_store"),
      (es: Seq[Expression]) => graft.ext.DocSql.bpeMergesStorePlan(es)))
    ext.injectTableFunction((FunctionIdentifier("bpe_encode_words"), info("bpe_encode_words"),
      (es: Seq[Expression]) => graft.ext.DocSql.bpeEncodeWordsPlan(es)))
    ext.injectTableFunction((FunctionIdentifier("bfd_pack"), info("bfd_pack"),
      (es: Seq[Expression]) => graft.ext.DocSql.bfdPackPlan(es)))
    ext.injectTableFunction((FunctionIdentifier("kn_score"), info("kn_score"),
      (es: Seq[Expression]) => graft.ext.DocSql.knScorePlan(es, 2)))
    ext.injectTableFunction((FunctionIdentifier("kn3_score"), info("kn3_score"),
      (es: Seq[Expression]) => graft.ext.DocSql.knScorePlan(es, 3)))
    ext.injectTableFunction((FunctionIdentifier("kn_pruned_score"), info("kn_pruned_score"),
      (es: Seq[Expression]) => graft.ext.DocSql.knPrunedScorePlan(es)))
    ext.injectTableFunction((FunctionIdentifier("kn_model_score"), info("kn_model_score"),
      (es: Seq[Expression]) => graft.ext.DocSql.knModelScorePlan(es)))
    // Optimizer rule: point-in-interval theta joins → granule-bucketized
    // equi-joins (graft.plans.RangeJoinRule) — plain SQL range joins get
    // the linear plan instead of BroadcastNestedLoopJoin.
    ext.injectOptimizerRule(session => new graft.plans.RangeJoinRule(session))
  }
}
