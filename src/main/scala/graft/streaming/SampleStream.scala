package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ext.Sharding

/** Config for the streaming weighted reservoir. `k`, `seed`, and the
  * column names must stay constant for the life of a store directory
  * (the stored reservoir was built with them). */
final case class SampleStreamConfig(
    inputDir: String, storeDir: String, checkpointDir: String,
    schema: StructType, strataCol: String, weightCol: String,
    idCol: String = "doc_id", k: Int = 100, seed: Long = 42L,
    maxFilesPerTrigger: Int = 100)

/** Streaming weighted reservoir: the per-stratum Efraimidis–Spirakis
  * sample ([[Sharding.weightedSample]]) maintained incrementally as
  * document files arrive — the "keep a quality-weighted sample of
  * everything we have ever crawled" store that a 100 TB pipeline can
  * consult at any moment without rescanning history.
  *
  * Why this folds exactly: the A-ES key is a pure per-row function of
  * (id, weight, seed), so per-stratum smallest-k is ASSOCIATIVE —
  * min-k(history ∪ batch) = min-k(min-k(history) ∪ batch). Each trigger
  * therefore touches O(strata × k + batch) rows: the stored reservoir
  * unions the batch's keyed rows and re-selects through the bounded
  * heap. History is never rescanned, and the maintained reservoir is
  * BIT-IDENTICAL to running the batch operator over everything seen
  * (SampleStreamSpec pins streamed ≡ one-shot).
  *
  * Replay discipline: the store carries the last folded batch id; a
  * replayed micro-batch (id ≤ stored) does not re-fold. Re-delivery is
  * also harmless by construction — a duplicate id brings the same key,
  * and the merge dedups (stratum, id) before selecting — but the guard
  * keeps the store swap idempotent under foreachBatch restarts. */
object SampleStream {

  private def resDir(storeDir: String) = s"$storeDir/_reservoir"

  /** The maintained sample: (stratum, id, e_units, rank) — rank is
    * derived on read (the frame is O(strata × k) rows). */
  def readSample(spark: SparkSession, storeDir: String): DataFrame = {
    val res = new Path(resDir(storeDir))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("stratum").orderBy(col("e_units"), col("id"))
    spark.read.parquet(graft.cdc.BucketStore.readable(
        res.getFileSystem(spark.sessionState.newHadoopConf()), res).toString)
      .select(col("stratum"), col("id"), col("e_units"))
      .withColumn("rank", row_number().over(w).cast("long"))
  }

  def start(spark: SparkSession, cfg: SampleStreamConfig): StreamingQuery =
    spark.readStream
      .schema(cfg.schema)
      .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger)
      .parquet(cfg.inputDir)
      .writeStream
      .queryName(s"graft-sample-${CdcStream.streamId()}")
      .option("checkpointLocation", cfg.checkpointDir)
      .foreachBatch((batch: DataFrame, id: Long) => processBatch(batch, id, cfg))
      .start()

  /** One micro-batch. Public so tests, batch backfills, and the
    * declared-query gate can drive exact batch boundaries. */
  def processBatch(batch: DataFrame, batchId: Long,
                   cfg: SampleStreamConfig): Unit = {
    val spark = batch.sparkSession
    val keyed = Sharding.aesKeyed(batch, cfg.strataCol, cfg.weightCol,
        cfg.idCol, cfg.seed)
      .localCheckpoint(true) // O(batch) rows; read twice below
    if (keyed.isEmpty) return

    val res = new Path(resDir(cfg.storeDir))
    val fs = res.getFileSystem(spark.sessionState.newHadoopConf())
    graft.cdc.BucketStore.recover(fs, res, graft.cdc.BucketStore.dirAside(res))
    val current: Option[(DataFrame, Long)] =
      if (!fs.exists(res)) None
      else {
        val r = spark.read.parquet(res.toString).localCheckpoint(true)
        Some((r.select("stratum", "id", "e_units"),
          r.select(max(col("__last_batch"))).head().getLong(0)))
      }
    if (current.exists(_._2 >= batchId)) return // replayed batch: no re-fold

    val merged = current match {
      case None => keyed
      case Some((c, _)) => c.unionByName(keyed)
    }
    val folded = Sharding.aesSelect(
        // a re-delivered id carries the same deterministic key: collapse
        // (stratum, id) so the reservoir can never hold a doc twice
        merged.groupBy("stratum", "id").agg(min(col("e_units")).as("e_units")),
        cfg.k)
      .select("stratum", "id", "e_units")

    val tmp = new Path(s"${cfg.storeDir}/.__res_tmp")
    folded.withColumn("__last_batch", lit(batchId))
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    // rename-aside swap: a crash can never reset the reservoir to one
    // batch's sample
    graft.cdc.BucketStore.swap(fs, res, Some(tmp), graft.cdc.BucketStore.dirAside(res))
  }
}
