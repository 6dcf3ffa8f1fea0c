package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ext.NgramLM.words

/** Config for the streaming n-gram-count store of `order` 2–4.
  * `order` and `textCol` must stay constant for the life of a store
  * directory. */
final case class NgramCountStreamConfig(
    inputDir: String, storeDir: String, checkpointDir: String,
    schema: StructType, order: Int, textCol: String = "text",
    maxFilesPerTrigger: Int = 100)

/** Streaming n-gram-count store: exact adjacent n-gram counts
  * maintained incrementally as corpus shards arrive — the sufficient
  * statistic of the interpolated-KN model of that order, so LM-based
  * curation re-derives its CURRENT model as the corpus grows without
  * rescanning history. The text-side twin of [[VocabStream]].
  *
  * Every frame of the KN model — the type table, every continuation
  * table, every history total, every count-of-counts discount — is a
  * pure function of the n-gram count MULTISET
  * ([[graft.ext.NgramLM.knLogLikFromCounts]] is the shared derivation
  * seam), and that multiset is ADDITIVE, so the maintained model equals
  * the one-shot model bit-for-bit (q202/q204/q215 answer the one-shot
  * oracles verbatim). The type-level quantities themselves (ĉ, every
  * N1+, n1/n2) are NOT additive — a re-observed n-gram must not
  * re-count its type — which is exactly why the store keeps the count
  * frame and derives the type tables at read time, where they are
  * n-gram-vocabulary-sized.
  *
  * Fold/replay/compaction discipline: [[VocabStream]]'s verbatim —
  * addition is associative and commutative, replay is the `batch=<id>`
  * idempotent overwrite plus the [[GenerationStore]] watermark guard,
  * readers sum partials, compaction pre-sums per n-gram through the
  * reader-safe generational swap.
  *
  * Scale shape: a trigger writes O(distinct n-grams in batch) partial
  * rows via ONE shuffle ([[graft.ext.NgramLM.corpusNgrams]] — no
  * per-document axis, no dependence on any id column) and reads
  * NOTHING; the read-side sum shuffles on the n-gram vocabulary. */
object NgramCountStream {

  /** The count table's dir name per order — the on-disk format. */
  private val TableName =
    Map(2 -> "_bigram_counts", 3 -> "_trigram_counts", 4 -> "_quadgram_counts")

  def countsDir(storeDir: String, order: Int): String =
    s"$storeDir/${TableName(order)}"

  private def frame(storeDir: String, order: Int): GenFrame =
    GenFrame(countsDir(storeDir, order), words(order) :+ "n",
      _.groupBy(words(order).map(col): _*).agg(sum("n").as("n")))

  /** Exact n-gram counts (w1..wn, n) over everything ever ingested:
    * partials summed under ONE watermark snapshot and materialized
    * inside it. An empty store reads as an empty frame. */
  def counts(spark: SparkSession, storeDir: String, order: Int): DataFrame =
    GenerationStore.withSnapshot(spark, storeDir) { wm =>
      GenerationStore.frameAtOrEmpty(spark, frame(storeDir, order), wm,
          StructType(words(order).map(StructField(_, StringType)) :+
            StructField("n", LongType)))
        .groupBy(words(order).map(col): _*).agg(sum("n").as("n"))
        .localCheckpoint(eager = true)
    }

  def start(spark: SparkSession, cfg: NgramCountStreamConfig): StreamingQuery =
    spark.readStream
      .schema(cfg.schema)
      .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger)
      .parquet(cfg.inputDir)
      .writeStream
      .queryName(s"graft-${cfg.order}gram-${CdcStream.streamId()}")
      .option("checkpointLocation", cfg.checkpointDir)
      .foreachBatch((batch: DataFrame, id: Long) => processBatch(batch, id, cfg))
      .start()

  /** One micro-batch of corpus documents. Public so tests, batch
    * backfills, and the declared-query gate can drive exact batch
    * boundaries. The partial is counts only, no per-document grouping,
    * so the store ingests a corpus regardless of how (or whether) its
    * documents are keyed (ADVICE r13). */
  def processBatch(batch: DataFrame, batchId: Long,
                   cfg: NgramCountStreamConfig): Unit = {
    val spark = batch.sparkSession
    if (batchId <= GenerationStore.readWatermark(spark, cfg.storeDir)) return
    val partial = graft.ext.NgramLM.corpusNgrams(batch, cfg.order, cfg.textCol)
      .persist()
    try {
      if (!partial.isEmpty)
        partial.write.mode("overwrite")
          .parquet(s"${countsDir(cfg.storeDir, cfg.order)}/batch=$batchId")
    } finally partial.unpersist(false)
  }

  /** Fold committed partials into a pre-summed generation via the
    * reader-safe [[GenerationStore.compact]] swap. */
  def compact(spark: SparkSession, storeDir: String, order: Int,
              upToBatch: Long = Long.MaxValue): Unit =
    GenerationStore.compact(spark, storeDir, Seq(frame(storeDir, order)), upToBatch)
}
