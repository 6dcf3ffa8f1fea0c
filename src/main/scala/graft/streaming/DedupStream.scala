package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Config for the streaming exact-dedup index. `buckets` and the column
  * names must stay constant for the life of a store directory (the
  * stored index is laid out by them). */
final case class DedupStreamConfig(
    inputDir: String, storeDir: String, checkpointDir: String,
    schema: StructType, idCol: String = "doc_id", textCol: String = "text",
    buckets: Int = 64, maxFilesPerTrigger: Int = 100)

/** Streaming exact-dedup index: the (text-hash → minimum doc id)
  * representative map maintained incrementally as document files arrive
  * — the "have we ever crawled this exact page, and which copy is
  * canonical" store a 100 TB ingest consults on every batch without
  * rescanning history.
  *
  * Why this folds exactly: the representative is `min(id)` per
  * `xxhash64(text)` group — the same min-combinable pick as the batch
  * exact-dedup operator — and min is ASSOCIATIVE and IDEMPOTENT:
  * fold(history ∪ batch) = fold(fold(history) ∪ batch), and re-folding
  * rows the index already reflects reproduces identical contents. So
  * the maintained index is BIT-IDENTICAL to running the batch operator
  * over everything seen (DedupStreamSpec pins streamed ≡ one-shot), a
  * replayed micro-batch needs no batch-id guard, and a LATER batch
  * carrying a smaller id for a known text correctly takes over as
  * representative.
  *
  * Scale shape — the [[graft.cdc.SnapshotMaintainer]] discipline applied
  * to dedup state: the index is partitioned by `__bucket =
  * pmod(text_hash, buckets)`; a micro-batch folds ONLY the buckets its
  * hashes land in, so the per-trigger cost is O(|touched buckets| +
  * |batch|), never O(|index|). Full text never enters the store — only
  * the 64-bit hash (collision odds ~n²·2⁻⁶⁵, immaterial below trillions
  * of docs). All directory manipulation goes through the Hadoop
  * FileSystem API so the same code runs on file:/, HDFS, and object
  * stores. */
object DedupStream {

  private val BucketCol = graft.cdc.BucketStore.BucketCol

  def indexDir(storeDir: String): String = s"$storeDir/_dedup_index"

  /** The maintained representative map: (text_hash, rep_id). */
  def readIndex(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.parquet(indexDir(storeDir))
      .select(col("text_hash"), col("rep_id"))

  def start(spark: SparkSession, cfg: DedupStreamConfig): StreamingQuery =
    spark.readStream
      .schema(cfg.schema)
      .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger)
      .parquet(cfg.inputDir)
      .writeStream
      .queryName(s"graft-dedup-${CdcStream.streamId()}")
      .option("checkpointLocation", cfg.checkpointDir)
      .foreachBatch((batch: DataFrame, id: Long) => processBatch(batch, id, cfg))
      .start()

  /** One micro-batch. Public so tests, batch backfills, and the
    * declared-query gate can drive exact batch boundaries. */
  def processBatch(batch: DataFrame, batchId: Long,
                   cfg: DedupStreamConfig): Unit = {
    val spark = batch.sparkSession
    require(cfg.buckets > 0)
    // the batch's (hash, id) pairs with their bucket; persisted because
    // the touched-bucket job and the fold both read it
    val keyed = batch
      .select(xxhash64(col(cfg.textCol)).as("text_hash"),
        col(cfg.idCol).cast("long").as("rep_id"))
      // int, matching what partition-directory inference reads back
      .withColumn(BucketCol, pmod(col("text_hash"), lit(cfg.buckets)).cast("int"))
      .persist()
    try {
      val touched = graft.cdc.BucketStore.touchedBuckets(keyed)
      if (touched.isEmpty) return

      val dir = indexDir(cfg.storeDir)
      val currentTouched = graft.cdc.BucketStore.readTouched(spark, dir, touched)
      val unioned = currentTouched
        .map(_.select("text_hash", "rep_id", BucketCol).unionByName(keyed))
        .getOrElse(keyed)
      // bucket-local: one clustering shuffle, then the min per
      // (bucket, hash) — the bucket is a function of the hash, so this
      // is the min per hash — and a staged write that keeps the
      // clustering
      val folded = graft.cdc.BucketStore.clustered(unioned)
        .groupBy(BucketCol, "text_hash")
        .agg(min("rep_id").as("rep_id"))
      graft.cdc.BucketStore.stageAndSwap(spark, dir, folded, touched)
    } finally keyed.unpersist(false)
  }
}
