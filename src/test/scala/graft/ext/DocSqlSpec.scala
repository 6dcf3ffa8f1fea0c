package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftExtensions

/** The SQL face of the document-pipeline operators: every TVF must
  * produce exactly the frame its Scala-API counterpart builds, on a
  * session that only loaded GraftExtensions. */
class DocSqlSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    SparkSession.builder()
      .master("local[4]")
      .appName("graft-doc-sql-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(graft.core.GraftSession.CodegenCacheConf, graft.core.GraftSession.CodegenCacheMaxEntries)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
  }

  private lazy val docs: DataFrame = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val d = Seq(
      (1L, base),
      (2L, base.replace("today", "tonight")), // near dup of 1
      (3L, "completely different second document about spark and scala"),
      (4L, base)) // exact dup of 1
      .toDF("doc_id", "text")
    d.createOrReplaceTempView("docs")
    d
  }

  private def sorted(df: DataFrame) =
    df.orderBy(df.columns.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
      .collect().toSeq

  test("doc_quality TVF equals TextAnalysis.withQuality") {
    docs
    val viaSql = spark.sql("SELECT * FROM doc_quality('docs')")
    assert(sorted(viaSql) == sorted(TextAnalysis.withQuality(docs)))
    assert(viaSql.count() == 4L)
  }

  test("near_dup_pairs TVF equals the auto-sized minhash path") {
    docs
    val viaSql = spark.sql("SELECT * FROM near_dup_pairs('docs', 0.5)")
    val viaApi = Dedup.minhashNearDupPairsAuto(docs, "doc_id", "text", threshold = 0.5)
    assert(sorted(viaSql) == sorted(viaApi))
    assert(viaSql.count() >= 1L) // 1-2 and the exact pair 1-4 at least
  }

  test("dedup_corpus TVF yields the Scala survivor set, composable in SQL") {
    docs
    val viaSql = spark.sql(
      "SELECT doc_id FROM dedup_corpus('docs', 0.5) ORDER BY doc_id")
    val viaApi = Dedup.dedupCorpus(docs, "doc_id", "text", threshold = 0.5)
      .select("doc_id").orderBy("doc_id")
    assert(viaSql.collect().toSeq == viaApi.collect().toSeq)
    // the survivor set: 1 survives its cluster {1,2,4}, 3 is unique
    assert(viaSql.collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
  }

  test("token_chunks and pair_merge_scores TVFs equal their Scala forms") {
    docs
    val chunksSql = spark.sql("SELECT * FROM token_chunks('docs', 8, 6)")
    assert(sorted(chunksSql) ==
      sorted(TextAnalysis.chunkByTokens(docs, chunkSize = 8, stride = 6)))
    val pairsSql = spark.sql("SELECT * FROM pair_merge_scores('docs', 5)")
    assert(pairsSql.collect().toSeq ==
      TextAnalysis.adjacentPairCounts(docs, topK = 5).collect().toSeq)
    // outer SQL composes over the expansion
    val filtered = spark.sql(
      "SELECT COUNT(*) FROM token_chunks('docs', 8, 6) WHERE chunk_id = 0")
    assert(filtered.head().getLong(0) == 4L)
  }

  test("corpus_diff, length_buckets, stratified_sample TVFs equal their Scala forms") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    docs
    val newSnap = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "edited near dup text"),
      (5L, "a brand new document")).toDF("doc_id", "text")
    newSnap.createOrReplaceTempView("docs_new")
    val diffSql = spark.sql("SELECT * FROM corpus_diff('docs', 'docs_new')")
    assert(sorted(diffSql) == sorted(CorpusDiff.diff(docs, newSnap)))

    val bucketsSql = spark.sql("SELECT * FROM length_buckets('docs', 2)")
    assert(sorted(bucketsSql) == sorted(Sharding.ntileExact(docs,
      TextAnalysis.tokenCount(col("text")), col("doc_id"), k = 2)))

    val srcDocs = (1L to 40L).map(i => (i, s"s${i % 2}", s"body $i"))
      .toDF("doc_id", "source", "text")
    srcDocs.createOrReplaceTempView("docs_src")
    Seq(("s0", 3L), ("s1", 5L)).toDF("source", "n").createOrReplaceTempView("tgt")
    val sampleSql = spark.sql("SELECT * FROM stratified_sample('docs_src', 'tgt')")
    assert(sorted(sampleSql) ==
      sorted(Sharding.sampleStratified(srcDocs, "source", "doc_id",
        Seq(("s0", 3L), ("s1", 5L)).toDF("source", "n"))))
    // outer SQL composes over the expansion
    val counts = spark.sql(
      "SELECT source, COUNT(*) AS c FROM stratified_sample('docs_src', 'tgt') GROUP BY source")
      .as[(String, Long)].collect().toMap
    assert(counts == Map("s0" -> 3L, "s1" -> 5L))
  }

  test("round-7 TVFs equal their Scala counterparts") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    docs
    assert(sorted(spark.sql("SELECT * FROM span_dedup('docs', 4)")) ==
      sorted(Dedup.dedupTiles(docs, "doc_id", "text", width = 4)))

    val labeled = (1L to 30L)
      .map(i => (i, if (i % 2 == 0) "alpha beta beta" else "gamma delta",
        if (i % 2 == 0) "even" else "odd"))
      .toDF("doc_id", "text", "lang")
    labeled.createOrReplaceTempView("docs_lbl")
    assert(sorted(spark.sql(
        "SELECT * FROM nb_classify('docs_lbl', 'docs_lbl', 'lang')")) ==
      sorted(NaiveBayes.trainScore(labeled, labeled, "lang")))

    val srcDocs2 = (1L to 60L).map(i => (i, s"s${i % 3}", s"body $i"))
      .toDF("doc_id", "source", "text")
    srcDocs2.createOrReplaceTempView("docs_mix")
    assert(sorted(spark.sql(
        "SELECT * FROM temperature_mix('docs_mix', 'source', 30)")) ==
      sorted(Sharding.temperatureMix(srcDocs2, "source", "doc_id", 30L)))

    assert(sorted(spark.sql("SELECT * FROM dup_pagerank('docs', 4, 3)")) ==
      sorted(PageRank.ranks(
        Dedup.tileDupEdges(docs, "doc_id", "text", width = 4), iterations = 3)))

    val vals = (1L to 500L).map(i => (i, i.toDouble)).toDF("id", "v")
    vals.createOrReplaceTempView("vals")
    assert(sorted(spark.sql(
        "SELECT * FROM sample_quantiles('vals', 'id', 'v', '0.25,0.5,0.75', 100)")) ==
      sorted(RobustStats.sampleQuantiles(vals, col("id"), col("v"),
        Seq(0.25, 0.5, 0.75), k = 100)))

    // outer SQL composes: only the fully-duplicated docs
    val gone = spark.sql(
      "SELECT doc_id FROM span_dedup('docs', 4) WHERE n_kept = 0")
      .as[Long].collect().toSet
    assert(gone == Set(4L), "exact dup of doc 1 loses every tile")
  }

  test("round-8 TVFs equal their Scala counterparts") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    docs
    val toks = docs.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    assert(sorted(spark.sql("SELECT * FROM pack_sequences('docs', 8)")) ==
      sorted(Sharding.packSequences(toks, "doc_id", "n_tokens", seqLen = 8L)))
    assert(sorted(spark.sql("SELECT * FROM bfd_pack('docs', 16, 100)")) ==
      sorted(Sharding.bfdPack(toks, "doc_id", "n_tokens",
        capacity = 16L, bucketSize = 100L)))

    val bench = docs.select(col("doc_id"),
      org.apache.spark.sql.functions.expr(
        "array_join(slice(split(text, ' '), 1, 6), ' ')").as("text"))
    bench.createOrReplaceTempView("bench6")
    assert(sorted(spark.sql(
        "SELECT * FROM decontaminate('docs', 'bench6', 3, 0.8)")) ==
      sorted(Dedup.decontaminate(docs, bench, "doc_id", "text",
        n = 3, containment = 0.8)))

    val rnd = new scala.util.Random(5)
    val emb = (1L to 80L)
      .map(i => (i, Seq.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    emb.createOrReplaceTempView("emb8")
    val model = PCA.fit(emb, "embedding", dim = 8, nComponents = 2)
    assert(sorted(spark.sql("SELECT * FROM pca_project('emb8', 8, 2)")) ==
      sorted(PCA.project(emb, "vec_id", "embedding", model)))
  }

  test("round-9 TVFs equal their Scala counterparts") {
    import org.apache.spark.sql.functions.col
    docs
    val bench = docs.select(col("doc_id"),
      org.apache.spark.sql.functions.expr(
        "array_join(slice(split(text, ' '), 1, 6), ' ')").as("text"))
    bench.createOrReplaceTempView("bench6b")
    assert(sorted(spark.sql(
        "SELECT * FROM contamination_profile('docs', 'bench6b', 3)")) ==
      sorted(Dedup.contaminationProfile(docs, bench, "doc_id", "text", n = 3)))

    assert(sorted(spark.sql("SELECT * FROM epoch_shuffle('docs', 7, 2)")) ==
      sorted(Sharding.epochShuffle(docs, "doc_id", seed = 7L, shardSize = 2L)))

    import spark.implicits._
    val ev = (0L until 400L).map(i => (s"g${i % 3}", i % 37))
      .toDF("grp", "user_id")
    ev.createOrReplaceTempView("ev3")
    assert(sorted(spark.sql("SELECT * FROM kmv_overlap('ev3', 'grp', 'user_id', 16)")) ==
      sorted(Sketches.overlapMatrix(
        Sketches.kmvRegisters(ev, "grp", col("user_id"), 16), "grp", 16)))
  }

  test("round-8-tail TVFs equal their Scala counterparts") {
    import org.apache.spark.sql.functions.{col, expr}
    docs
    assert(sorted(spark.sql("SELECT * FROM repetition_profile('docs')")) ==
      sorted(TextAnalysis.repetitionProfile(docs)))

    assert(sorted(spark.sql("SELECT * FROM zipf_fit('docs', 10)")) ==
      sorted(TextAnalysis.zipfFit(docs, topV = 10)))

    val odd = docs.filter(col("doc_id") % 2 === 1)
    val even = docs.filter(col("doc_id") % 2 === 0)
    odd.createOrReplaceTempView("docs_odd")
    even.createOrReplaceTempView("docs_even")
    assert(sorted(spark.sql(
        "SELECT * FROM quality_drift('docs_odd', 'docs_even', 10)")) ==
      sorted(TextAnalysis.qualityDrift(odd, even, buckets = 10)))

    assert(sorted(spark.sql("SELECT * FROM ring_negatives('docs', 8, 2, 7)")) ==
      sorted(Sharding.ringNegatives(docs, "doc_id",
        expr("CAST(size(split(text, ' ')) div 8 AS BIGINT)"), k = 2, seed = 7L)))

    assert(sorted(spark.sql("SELECT * FROM pmi_collocations('docs', 2, 20)")) ==
      sorted(TextAnalysis.pmiCollocations(docs, minCount = 2L, topK = 20)))

    // composable inside a larger query: the TVF expansion optimizes with
    // the outer filter
    val flagged = spark.sql(
      "SELECT doc_id FROM repetition_profile('docs') WHERE repetitive")
      .collect().map(_.getLong(0)).toSet
    val scalaFlagged = TextAnalysis.repetitionProfile(docs)
      .filter(col("repetitive")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(flagged == scalaFlagged)
  }

  test("fusion/containment/pruning/sampling TVFs equal their Scala counterparts") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    docs

    val lex = Seq((1L, 10L, 1L), (1L, 11L, 2L)).toDF("query_id", "doc_id", "rank")
    val den = Seq((1L, 11L, 1L), (1L, 12L, 2L)).toDF("query_id", "doc_id", "rank")
    lex.createOrReplaceTempView("lex_list")
    den.createOrReplaceTempView("den_list")
    assert(sorted(spark.sql("SELECT * FROM rrf_fuse('lex_list', 'den_list', 5)")) ==
      sorted(Retrieval.rrfFuse(Seq(lex, den), k = 5)))

    assert(sorted(spark.sql("SELECT * FROM containment_pairs('docs', 0.9)")) ==
      sorted(Dedup.containmentPairs(docs, "doc_id", "text", threshold = 0.9)))

    assert(sorted(spark.sql("SELECT * FROM weighted_jaccard('docs', 0.3)")) ==
      sorted(Dedup.weightedJaccardPairs(docs, "doc_id", "text", threshold = 0.3)))

    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    val cells = Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L)).toDF("id", "cell")
    emb.createOrReplaceTempView("emb_v")
    cells.createOrReplaceTempView("cells_v")
    assert(sorted(spark.sql("SELECT * FROM density_prune('emb_v', 'cells_v', 50)")) ==
      sorted(Similarity.densityPrune(emb, cells, dropPct = 50)))

    val weighted = docs.withColumn("n_chars",
      org.apache.spark.sql.functions.length(col("text")).cast("long"))
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
    weighted.createOrReplaceTempView("docs_w")
    assert(sorted(spark.sql(
        "SELECT * FROM weighted_sample('docs_w', 'lang', 'n_chars', 2, 42)")) ==
      sorted(Sharding.weightedSample(weighted, "lang", "n_chars", k = 2,
        idCol = "doc_id", seed = 42L)))
  }

  test("split/blocking/winsorize TVFs equal their Scala counterparts") {
    import org.apache.spark.sql.functions.{col, length, lit}
    docs

    assert(sorted(spark.sql("SELECT * FROM leakage_split('docs', 0.5)")) ==
      sorted(Sharding.leakageSafeSplit(docs,
        Dedup.minhashNearDupPairsAuto(docs, "doc_id", "text", threshold = 0.5),
        "doc_id")))

    val blocked = docs.withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("lang", lit("en"))
    blocked.createOrReplaceTempView("docs_b")
    assert(sorted(spark.sql("SELECT * FROM sorted_neighborhood('docs_b', 3, 0.5)")) ==
      sorted(Dedup.sortedNeighborhoodPairs(blocked, "doc_id", "text",
        Seq(col("lang"), col("n_chars")), window = 3, threshold = 0.5)))

    assert(sorted(spark.sql("SELECT * FROM winsorize('docs_b', 'lang', 'n_chars', 5, 95)")) ==
      sorted(RobustStats.winsorize(blocked, "lang", col("n_chars"), "doc_id")))

    assert(sorted(spark.sql("SELECT * FROM bpe_merges('docs', 2)")) ==
      sorted(TextAnalysis.bpeMerges(docs, rounds = 2)))
  }

  test("spectrum/ecdf/paths/semantic-decon TVFs equal their Scala counterparts") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, length, lit}
    docs

    assert(sorted(spark.sql("SELECT * FROM token_spectrum('docs')")) ==
      sorted(TextAnalysis.tokenSpectrum(docs)))

    val scored = docs.withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("lang", lit("en"))
    scored.createOrReplaceTempView("docs_s")
    assert(sorted(spark.sql("SELECT * FROM ecdf_normalize('docs_s', 'lang', 'n_chars')")) ==
      sorted(RobustStats.ecdfNormalize(scored, "lang", col("n_chars"), "doc_id")))

    val events = Seq(
      (1L, "2026-01-01T10:00:00", 7L, "view"),
      (2L, "2026-01-01T10:01:00", 7L, "cart"),
      (3L, "2026-01-01T10:02:00", 7L, "buy"),
      (4L, "2026-01-01T10:00:00", 8L, "view"),
      (5L, "2026-01-01T10:01:00", 8L, "cart"),
      (6L, "2026-01-01T10:02:00", 8L, "buy"))
      .toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("ts", col("ts").cast("timestamp"))
    events.createOrReplaceTempView("events_v")
    assert(sorted(spark.sql("SELECT * FROM event_paths('events_v', 5)")) ==
      sorted(TextAnalysis.eventPaths(events, k = 5)))

    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.95f, 0.05f)),
      (3L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    emb.filter(col("vec_id") =!= 1L).createOrReplaceTempView("corpus_v")
    emb.filter(col("vec_id") === 1L).createOrReplaceTempView("bench_v")
    assert(sorted(spark.sql(
        "SELECT * FROM semantic_decontaminate('corpus_v', 'bench_v', 0.9)")) ==
      sorted(Similarity.semanticDecontaminate(
        emb.filter(col("vec_id") =!= 1L), emb.filter(col("vec_id") === 1L),
        threshold = 0.9)))
  }

  test("folds/image-pairs/bpe-encode TVFs equal their Scala counterparts") {
    docs

    assert(sorted(spark.sql("SELECT * FROM leakage_folds('docs', 0.5, 3)")) ==
      sorted(Sharding.leakageSafeFolds(docs,
        Dedup.minhashNearDupPairsAuto(docs, "doc_id", "text", threshold = 0.5),
        "doc_id", k = 3)))

    assert(sorted(spark.sql("SELECT * FROM image_dedup_pairs('docs', 3)")) ==
      sorted(Dedup.hammingNearDupPairs(
        Multimodal.imageAHash(Multimodal.synthesizeBmpCorpus(docs)),
        maxHamming = 3)))

    assert(sorted(spark.sql("SELECT * FROM bpe_encode('docs', 2)")) ==
      sorted(TextAnalysis.bpeEncode(docs, rounds = 2)))
  }

  test("round-10 TVFs (exact-substring/phrase/batched-BPE) equal their Scala counterparts") {
    docs

    // span_dedup_exact: TVF ≡ Scala, and the doc-4 exact dup is wiped
    val sdeSql = spark.sql("SELECT * FROM span_dedup_exact('docs', 4)")
    assert(sorted(sdeSql) ==
      sorted(Dedup.exactSpanDedup(docs, "doc_id", "text", minLen = 4)))
    // SQL composability: outer predicate over the expansion
    val wiped = spark.sql(
      "SELECT doc_id FROM span_dedup_exact('docs', 4) WHERE n_kept = 0 ORDER BY doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(wiped.contains(4L), s"exact dup of doc 1 must be fully covered, got $wiped")

    // substr_decontaminate: docs as corpus, doc 3 alone as the bench —
    // doc 3 self-contaminates fully, 1/2/4 share no 4-gram with it
    spark.sql("SELECT * FROM docs WHERE doc_id = 3").createOrReplaceTempView("bench_v")
    val decSql = spark.sql("SELECT * FROM substr_decontaminate('docs', 'bench_v', 4)")
    assert(sorted(decSql) ==
      sorted(Dedup.exactSubstrDecontaminate(docs, spark.table("bench_v"),
        "doc_id", "text", minLen = 4)))
    val kept3 = spark.sql(
      "SELECT n_kept FROM substr_decontaminate('docs', 'bench_v', 4) WHERE doc_id = 3")
      .head().getLong(0)
    assert(kept3 == 0L, s"the bench doc itself must be fully removed, kept $kept3")

    // phrase_search over a (phrase_id, phrase) view
    locally {
      import spark.implicits._
      Seq((10L, "quick brown fox"), (11L, "spark and scala"), (12L, "no such phrase"))
        .toDF("phrase_id", "phrase").createOrReplaceTempView("phrases_v")
    }
    val psSql = spark.sql("SELECT * FROM phrase_search('docs', 'phrases_v')")
    assert(sorted(psSql) ==
      sorted(Retrieval.phraseSearch(docs, spark.table("phrases_v"))))
    val hits = spark.sql(
      "SELECT phrase_id, COUNT(*) AS n FROM phrase_search('docs', 'phrases_v') " +
        "GROUP BY phrase_id ORDER BY phrase_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits == Map(10L -> 3L, 11L -> 1L), s"got $hits") // 12 absent: no doc matches

    // bpe_merges_batched: TVF ≡ Scala at cap 2, and cap 1 ≡ bpe_merges
    assert(sorted(spark.sql("SELECT * FROM bpe_merges_batched('docs', 4, 2)")) ==
      sorted(TextAnalysis.bpeMergesBatched(docs, rounds = 4, batchCap = 2)))
    assert(sorted(spark.sql("SELECT * FROM bpe_merges_batched('docs', 3, 1)")) ==
      sorted(spark.sql("SELECT * FROM bpe_merges('docs', 3)")))

    // bpe_encode_with: the trainer TVF's output composes straight into
    // the depth-independent encoder, all in SQL
    spark.sql("SELECT round, lhs, rhs FROM bpe_merges_batched('docs', 4, 2)")
      .createOrReplaceTempView("merges_v")
    val encSql = spark.sql(
      "SELECT doc_id, n_raw, n_encoded FROM bpe_encode_with('docs', 'merges_v')")
    val table = spark.table("merges_v").select("round", "lhs", "rhs").collect()
      .sortBy(_.getAs[Number](0).longValue())
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(sorted(encSql) == sorted(TextAnalysis.bpeEncodeWithTable(docs, table)
      .select("doc_id", "n_raw", "n_encoded")))
    // a merged pair exists ⇒ at least one doc must compress
    assert(encSql.filter("n_encoded < n_raw").count() > 0)

    // wordpiece_vocab / wordpiece_encode: TVF ≡ Scala API, and the two
    // compose train-to-encode entirely in SQL
    assert(sorted(spark.sql("SELECT * FROM wordpiece_vocab('docs', 4, 3)")) ==
      sorted(WordPiece.vocabFrame(docs, topWords = 4, topAffixes = 3)))
    spark.sql("SELECT piece, cont FROM wordpiece_vocab('docs', 4, 3)")
      .createOrReplaceTempView("wp_vocab_v")
    val wpSql = spark.sql(
      "SELECT doc_id, n_words, n_pieces, encoded FROM wordpiece_encode('docs', 'wp_vocab_v')")
    val wpRows = spark.table("wp_vocab_v").collect()
    val (wpC, wpI) = wpRows.partition(_.getBoolean(1))
    val wpVocab = WordPiece.Vocab(
      wpI.map(_.getString(0)).sorted.toIndexedSeq,
      wpC.map(_.getString(0)).sorted.toIndexedSeq)
    assert(sorted(wpSql) == sorted(WordPiece.encode(docs, wpVocab)))
    // only 4 whole words in the vocab ⇒ some doc must genuinely split
    assert(wpSql.filter("n_pieces > n_words").count() > 0)

    // gopher_rules: TVF ≡ Scala API
    assert(sorted(spark.sql("SELECT * FROM gopher_rules('docs')")) ==
      sorted(TextAnalysis.gopherRules(docs)))

    // unigram_pieces / unigram_viterbi: TVF ≡ Scala API, composing in SQL
    assert(sorted(spark.sql("SELECT * FROM unigram_pieces('docs', 6)")) ==
      sorted(Unigram.pieceFrame(docs, topSub = 6)))
    spark.sql("SELECT piece, cost FROM unigram_pieces('docs', 6)")
      .createOrReplaceTempView("ug_pieces_v")
    val ugSql = spark.sql(
      "SELECT doc_id, n_words, viterbi_cost, n_pieces FROM unigram_viterbi('docs', 'ug_pieces_v')")
    val ugInv = spark.table("ug_pieces_v").collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toIndexedSeq
    assert(sorted(ugSql) == sorted(Unigram.viterbiStats(docs, ugInv)))
    // some word must genuinely segment into >1 piece under topSub=6
    assert(ugSql.filter("n_pieces > n_words").count() > 0)

    // fim_transform: TVF ≡ Scala API
    assert(sorted(spark.sql("SELECT * FROM fim_transform('docs', 500, 17)")) ==
      sorted(Sharding.fimTransform(docs, ratePermille = 500, seed = 17L)))

    // tokenizer_bakeoff: the full four-family frame composes from the
    // three trainer TVFs, entirely in SQL
    val bakeSql = spark.sql("SELECT doc_id, n_ws, n_bpe, n_wp, n_ug " +
      "FROM tokenizer_bakeoff('docs', 'merges_v', 'wp_vocab_v', 'ug_pieces_v')")
    assert(sorted(bakeSql) == sorted(Tokenizers.profile(docs, table, wpVocab, ugInv)))
  }

  test("KN scoring TVFs answer exactly as the Scala operators (round 14)") {
    docs
    // kn_score / kn3_score: the self-trained q201/q203 operators
    assert(sorted(spark.sql("SELECT * FROM kn_score('docs')")) ==
      sorted(NgramLM.knLogLik(docs, docs, 2)))
    assert(sorted(spark.sql("SELECT * FROM kn3_score('docs')")) ==
      sorted(NgramLM.knLogLik(docs, docs, 3)))
    // kn_pruned_score at eps 0: the pruned model with nothing pruned
    // must equal the unpruned scores (the γ = bow reduction), and a
    // prune-everything eps must move at least one score
    val p0 = spark.sql("SELECT * FROM kn_pruned_score('docs', 0.0)")
    assert(sorted(p0) == sorted(NgramLM.knLogLik(docs, docs, 2)))
    val pBig = spark.sql("SELECT * FROM kn_pruned_score('docs', 1000000.0)")
    assert(sorted(pBig) == sorted(NgramLM.knPrunedLogLik(docs, docs, 2, 1e6)))
    assert(sorted(pBig) != sorted(p0),
      "the prune-everything model must score differently")
  }

  test("kn_model_score scores a serving-artifact dir from pure SQL (round 16)") {
    docs
    // export at each order, then the TVF must equal KnModel.scoreAny —
    // order auto-detection included — so the CuratePipeline deployment
    // path (pretrained artifact dir → scores) is fully SQL-reachable
    for ((order, eps) <- Seq((2, 1e-3), (3, 1e-4), (4, 3e-5))) {
      val dir = java.nio.file.Files
        .createTempDirectory(s"docsql-knm$order").toString
      KnModel.export(docs, order, eps, dir)
      val viaSql = spark.sql(s"SELECT * FROM kn_model_score('docs', '$dir')")
      assert(viaSql.columns.toSeq ==
        Seq("doc_id", "n_grams", "n_oov", "avg_lp"))
      assert(sorted(viaSql) == sorted(KnModel.scoreAny(spark, dir, docs)),
        s"TVF != scoreAny at order $order")
    }
    // a bad model path fails with the typed order() error, not a
    // confusing parquet read error
    val bad = java.nio.file.Files.createTempDirectory("docsql-knm-bad").toString
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM kn_model_score('docs', '$bad')").collect()
    }
    assert(e.getMessage.contains("no KN model artifact"))
  }

  test("store-backed TVFs answer exactly as the maintained read paths") {
    docs
    val work = java.nio.file.Files.createTempDirectory("docsql-store").toString

    // positional-index store: two folds + a compaction, then the TVF
    // must equal PosIndexStream.phraseSearch over the same store
    val pixSt = s"$work/pix"
    val pixCfg = graft.streaming.PosIndexStreamConfig(
      s"$pixSt/_in_unused", pixSt, s"$pixSt/_ck_unused", docs.schema)
    graft.streaming.PosIndexStream.processBatch(
      docs.filter("doc_id <= 2"), 0L, pixCfg)
    graft.streaming.PosIndexStream.processBatch(
      docs.filter("doc_id > 2"), 1L, pixCfg)
    graft.streaming.PosIndexStream.compact(spark, pixSt)
    locally {
      import spark.implicits._
      Seq((10L, "quick brown fox"), (11L, "spark and scala"))
        .toDF("phrase_id", "phrase").createOrReplaceTempView("sphrases_v")
    }
    val psStore = spark.sql(
      s"SELECT * FROM phrase_search_store('$pixSt', 'sphrases_v')")
    assert(sorted(psStore) == sorted(graft.streaming.PosIndexStream
      .phraseSearch(spark, pixSt, spark.table("sphrases_v"))))
    // and ≡ the one-shot pass over the whole corpus (the store contract)
    assert(sorted(psStore) ==
      sorted(Retrieval.phraseSearch(docs, spark.table("sphrases_v"))))

    // decontamination registry store: doc 3 registered as the only
    // suite, then the TVF must equal DecontamStream.decontaminate ≡ the
    // one-shot batch pass against the same suite
    val dcSt = s"$work/dc"
    val dcCfg = graft.streaming.DecontamStreamConfig(
      s"$dcSt/_in_unused", dcSt, s"$dcSt/_ck_unused", docs.schema, minLen = 4)
    graft.streaming.DecontamStream.processBatch(
      docs.filter("doc_id = 3"), 0L, dcCfg)
    val dcStore = spark.sql(
      s"SELECT * FROM decontaminate_store('$dcSt', 'docs', 4)")
    assert(sorted(dcStore) == sorted(graft.streaming.DecontamStream
      .decontaminate(spark, dcSt, docs, minLen = 4)))
    assert(sorted(dcStore) == sorted(Dedup.exactSubstrDecontaminate(
      docs, docs.filter("doc_id = 3"), "doc_id", "text", minLen = 4)))

    // BM25 index store: the TVF must equal IndexStream.topK
    val idxSt = s"$work/idx"
    val idxCfg = graft.streaming.IndexStreamConfig(
      s"$idxSt/_in_unused", idxSt, s"$idxSt/_ck_unused", docs.schema)
    graft.streaming.IndexStream.processBatch(docs.filter("doc_id <= 2"), 0L, idxCfg)
    graft.streaming.IndexStream.processBatch(docs.filter("doc_id > 2"), 1L, idxCfg)
    locally {
      import spark.implicits._
      Seq((900L, "fox"), (900L, "spark"), (901L, "scala"))
        .toDF("query_id", "term").createOrReplaceTempView("squeries_v")
    }
    val bmStore = spark.sql(
      s"SELECT * FROM bm25_topk_store('$idxSt', 'squeries_v', 3)")
    assert(sorted(bmStore) == sorted(graft.streaming.IndexStream
      .topK(spark, idxSt, spark.table("squeries_v"), k = 3)))
    assert(bmStore.count() > 0)

    // vocabulary store: two folds + a compaction, then the store-TVFs
    // must equal the one-shot trainer TVFs over the same corpus — and
    // compose straight into the encode/Viterbi TVFs
    val vcSt = s"$work/vc"
    val vcCfg = graft.streaming.VocabStreamConfig(
      s"$vcSt/_in_unused", vcSt, s"$vcSt/_ck_unused", docs.schema)
    graft.streaming.VocabStream.processBatch(docs.filter("doc_id <= 2"), 0L, vcCfg)
    graft.streaming.VocabStream.processBatch(docs.filter("doc_id > 2"), 1L, vcCfg)
    graft.streaming.VocabStream.compact(spark, vcSt)
    assert(sorted(spark.sql(s"SELECT * FROM wordpiece_vocab_store('$vcSt', 4, 3)")) ==
      sorted(spark.sql("SELECT * FROM wordpiece_vocab('docs', 4, 3)")))
    assert(sorted(spark.sql(s"SELECT * FROM unigram_pieces_store('$vcSt', 6)")) ==
      sorted(spark.sql("SELECT * FROM unigram_pieces('docs', 6)")))
    spark.sql(s"SELECT piece, cont FROM wordpiece_vocab_store('$vcSt', 4, 3)")
      .createOrReplaceTempView("wpv_store_v")
    spark.sql("SELECT piece, cont FROM wordpiece_vocab('docs', 4, 3)")
      .createOrReplaceTempView("wpv_oneshot_v")
    assert(sorted(spark.sql(
        "SELECT * FROM wordpiece_encode('docs', 'wpv_store_v')")) ==
      sorted(spark.sql("SELECT * FROM wordpiece_encode('docs', 'wpv_oneshot_v')")))

    // counts-grain BPE store TVF: must equal the Scala derivation over
    // the same store, and compose straight into bpe_encode_words
    val bmTable = spark.sql(s"SELECT * FROM bpe_merges_store('$vcSt', 8, 4)")
    assert(sorted(bmTable) == sorted(
      graft.streaming.VocabStream.bpeMerges(spark, vcSt, rounds = 8, batchCap = 4)))
    assert(bmTable.count() > 0)
    spark.sql(s"SELECT round, lhs, rhs FROM bpe_merges_store('$vcSt', 8, 4)")
      .createOrReplaceTempView("bpem_store_v")
    val encWords = spark.sql(
      "SELECT * FROM bpe_encode_words('docs', 'bpem_store_v')")
    val table = graft.streaming.VocabStream
      .bpeMerges(spark, vcSt, rounds = 8, batchCap = 4)
      .collect().sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toSeq
    assert(sorted(encWords) ==
      sorted(TextAnalysis.bpeEncodeWords(docs, table)))
  }
}
