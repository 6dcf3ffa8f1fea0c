package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkTestBase
import graft.ext.NgramLM

/** The 4-gram [[NgramCountStream]] (the trigram store's
  * discipline one order up): maintained (w1..w4) counts — and the
  * three-level interpolated-KN scores derived from them — must be
  * BIT-IDENTICAL to the one-shot aggregation over everything ingested,
  * under fold splits, replays, a mid-stream compaction, and a
  * rebuild. */
class QuadgramStreamSpec extends SparkTestBase {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private lazy val corpus = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select("doc_id", "text").limit(120).cache()

  private def cfgFor(st: String) = NgramCountStreamConfig(
    s"$st/_in_unused", st, s"$st/_ck_unused", schema, 4)

  private def knOf(st: String): Seq[(Long, Long, Long, Double)] =
    NgramLM.knLogLikFromCounts(corpus,
      NgramCountStream.counts(spark, st, 4)).orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq

  test("folds + replays + compaction ≡ one-shot counts; maintained KN4 scores identical") {
    val wantCounts = NgramLM.docNgrams(corpus, 4)
      .groupBy("w1", "w2", "w3", "w4").agg(sum("n").as("n")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3)) -> r.getLong(4)).toMap
    val wantKn = NgramLM.knLogLik(corpus, corpus, 4).orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq

    val st = tmpDir("qgs-a")
    val cfg = cfgFor(st)
    def third(k: Int) = corpus.filter(col("doc_id") % 3 === k)
    NgramCountStream.processBatch(third(0), 0L, cfg)
    NgramCountStream.processBatch(third(1), 1L, cfg)
    NgramCountStream.processBatch(third(1), 1L, cfg) // replay: must not double
    NgramCountStream.compact(spark, st, 4, upToBatch = 1L)
    NgramCountStream.processBatch(third(0), 0L, cfg) // at watermark: skipped
    NgramCountStream.processBatch(third(2), 2L, cfg)
    val got = NgramCountStream.counts(spark, st, 4).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3)) -> r.getLong(4)).toMap
    assert(got == wantCounts,
      "maintained 4-gram counts must equal the one-shot aggregation")
    assert(knOf(st) == wantKn,
      "the maintained 4-gram-KN model must score bit-identically to one-shot")
  }

  test("maintained PRUNED 4-gram model scores bit-identically to one-shot pruning") {
    val st = tmpDir("qgs-prune")
    val cfg = cfgFor(st)
    NgramCountStream.processBatch(corpus.filter(col("doc_id") % 2 === 0), 0L, cfg)
    NgramCountStream.processBatch(corpus.filter(col("doc_id") % 2 === 1), 1L, cfg)
    val eps = 3e-5
    val got = NgramLM.knPrunedLogLikFromCounts(corpus,
      NgramCountStream.counts(spark, st, 4), eps)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    val want = NgramLM.knPrunedLogLik(corpus, corpus, 4, eps)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == want)
    assert(want != NgramLM.knLogLik(corpus, corpus, 4).orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq,
      "the fixture prune must actually bite")
  }
}
