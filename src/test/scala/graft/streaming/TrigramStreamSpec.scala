package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkTestBase
import graft.ext.NgramLM

/** The trigram [[NgramCountStream]]: maintained (w1, w2, w3)
  * counts — and the trigram interpolated-KN scores derived from them —
  * must be BIT-IDENTICAL to the one-shot aggregation over everything
  * ingested, under any fold split, replays (before AND at the
  * compaction watermark), a mid-stream compaction, and a rebuild. */
class TrigramStreamSpec extends SparkTestBase {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private lazy val corpus = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select("doc_id", "text").limit(120).cache()

  private def cfgFor(st: String) = NgramCountStreamConfig(
    s"$st/_in_unused", st, s"$st/_ck_unused", schema, 3)

  private def countsOf(st: String): Map[(String, String, String), Long] =
    NgramCountStream.counts(spark, st, 3).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3))
      .toMap

  private def knOf(st: String): Seq[(Long, Long, Long, Double)] =
    NgramLM.knLogLikFromCounts(corpus,
      NgramCountStream.counts(spark, st, 3)).orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq

  test("folds + replays + compaction ≡ one-shot counts; maintained KN3 scores identical") {
    // the one-shot truth, derived BOTH ways: the per-doc frame summed
    // and the doc-axis-free partial must agree (pins corpusNgrams at order 3)
    val wantCounts = NgramLM.docNgrams(corpus, 3)
      .groupBy("w1", "w2", "w3").agg(sum("n").as("n")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3))
      .toMap
    assert(NgramLM.corpusNgrams(corpus, 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        r.getLong(3)).toMap == wantCounts)
    val wantKn = NgramLM.knLogLik(corpus, corpus, 3).orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq

    val st = tmpDir("tgs-a")
    val cfg = cfgFor(st)
    def third(k: Int) = corpus.filter(col("doc_id") % 3 === k)
    NgramCountStream.processBatch(third(0), 0L, cfg)
    NgramCountStream.processBatch(third(1), 1L, cfg)
    NgramCountStream.processBatch(third(1), 1L, cfg) // replay: must not double
    NgramCountStream.compact(spark, st, 3, upToBatch = 1L)
    NgramCountStream.processBatch(third(0), 0L, cfg) // at watermark: skipped
    NgramCountStream.processBatch(third(2), 2L, cfg)
    assert(countsOf(st) == wantCounts,
      "maintained trigram counts must equal the one-shot aggregation")
    assert(knOf(st) == wantKn,
      "the maintained trigram-KN model must score bit-identically to one-shot")

    // rebuild with a different split and order — arrival-order-free
    val st2 = tmpDir("tgs-b")
    val cfg2 = cfgFor(st2)
    NgramCountStream.processBatch(corpus.filter(col("doc_id") % 2 === 1), 0L, cfg2)
    NgramCountStream.processBatch(corpus.filter(col("doc_id") % 2 === 0), 1L, cfg2)
    assert(knOf(st2) == wantKn, "rebuilt store must derive identical scores")
  }

  test("incremental model shift: new shards move the model, counts stay exact") {
    // after MORE corpus arrives, the derived two-level model is the
    // one-shot model of the GROWN corpus — no historical rescan, no
    // stale continuation-bigram table
    val st = tmpDir("tgs-grow")
    val cfg = cfgFor(st)
    val half = corpus.filter(col("doc_id") % 2 === 0)
    NgramCountStream.processBatch(half, 0L, cfg)
    val scoresHalf = knOf(st)
    assert(scoresHalf == NgramLM.knLogLikFromCounts(corpus,
        NgramLM.corpusNgrams(half, 3))
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq)
    NgramCountStream.processBatch(corpus.filter(col("doc_id") % 2 === 1), 1L, cfg)
    val scoresFull = knOf(st)
    assert(scoresFull == NgramLM.knLogLik(corpus, corpus, 3).orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq,
      "after the second shard the maintained model is the full-corpus model")
    assert(scoresHalf != scoresFull,
      "the fixture must actually move the model between folds")
  }

  test("maintained PRUNED trigram model scores bit-identically to one-shot pruning") {
    // q208's composition: store-derived counts feed the trigram Stolcke
    // prune + γ3 renormalization; additive counts ⇒ identical kept set
    // and γ3 ⇒ identical scores
    val st = tmpDir("tgs-prune")
    val cfg = cfgFor(st)
    NgramCountStream.processBatch(corpus.filter(col("doc_id") % 2 === 0), 0L, cfg)
    NgramCountStream.processBatch(corpus.filter(col("doc_id") % 2 === 1), 1L, cfg)
    val eps = 1e-4
    val got = NgramLM.knPrunedLogLikFromCounts(corpus,
      NgramCountStream.counts(spark, st, 3), eps)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    val want = NgramLM.knPrunedLogLik(corpus, corpus, 3, eps)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == want)
    assert(want != NgramLM.knLogLik(corpus, corpus, 3).orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq,
      "the fixture prune must actually bite")
  }
}
