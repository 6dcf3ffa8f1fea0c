package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ext.TextAnalysis

/** Config for the streaming quality-drift monitor. `buckets` must stay
  * constant for the life of a monitor directory (the stored reference
  * histogram is built with it). */
final case class DriftStreamConfig(
    inputDir: String, monitorDir: String, checkpointDir: String,
    schema: StructType, textCol: String = "text", buckets: Int = 10,
    maxFilesPerTrigger: Int = 100)

/** Streaming PSI drift monitor: new-document files land in `inputDir`;
  * every micro-batch's quality-score histogram is compared (PSI,
  * [[TextAnalysis.psiBins]]) against the ACCUMULATED reference histogram
  * of everything seen before it, and one `(batch, n_docs, psi_micro8)`
  * row appends to a drift log — the continuous version of the
  * yesterday-vs-today q139 check, the first alarm when a crawler change
  * or upstream regression shifts the corpus.
  *
  * Scale shape per trigger: the batch collapses to a `buckets`-row count
  * frame (one map-side aggregate — the quality score is scan-side
  * expression work); the reference is a `buckets`-row parquet read and a
  * `buckets`-row overwrite. History is NEVER rescanned — the reference
  * accumulates incrementally, which is the whole point of maintaining it.
  *
  * Replay discipline: the reference store carries the last folded batch
  * id; a replayed micro-batch (id ≤ stored) recomputes and overwrites
  * its own log row (same counts ⇒ same PSI) but does NOT re-fold into
  * the reference — re-delivery cannot double-count. The log appends
  * under `batch=<id>` with idempotent per-batch overwrite, the CDC
  * sink's restart discipline. */
object DriftStream {

  private def refDir(monitorDir: String) = s"$monitorDir/_ref"
  private def logDir(monitorDir: String) = s"$monitorDir/log"

  /** The drift log: (batch, n_docs, psi_micro8). */
  def readLog(spark: SparkSession, monitorDir: String): DataFrame =
    spark.read.option("basePath", logDir(monitorDir))
      .parquet(logDir(monitorDir))

  /** The accumulated reference histogram: (bucket, n). */
  def readReference(spark: SparkSession, monitorDir: String): DataFrame = {
    val ref = new Path(refDir(monitorDir))
    spark.read.parquet(graft.cdc.BucketStore.readable(
        ref.getFileSystem(spark.sessionState.newHadoopConf()), ref).toString)
      .select("bucket", "n")
  }

  def start(spark: SparkSession, cfg: DriftStreamConfig): StreamingQuery =
    spark.readStream
      .schema(cfg.schema)
      .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger)
      .parquet(cfg.inputDir)
      .writeStream
      .queryName(s"graft-drift-${CdcStream.streamId()}")
      .option("checkpointLocation", cfg.checkpointDir)
      .foreachBatch((batch: DataFrame, id: Long) => processBatch(batch, id, cfg))
      .start()

  /** One micro-batch. Public so tests, batch backfills, and the
    * declared-query gate can drive exact batch boundaries. */
  def processBatch(batch: DataFrame, batchId: Long,
                   cfg: DriftStreamConfig): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val counts = TextAnalysis
      .qualityBucketCounts(batch, cfg.textCol, cfg.buckets)
      .localCheckpoint(true) // tiny (≤ buckets rows); read several times
    val nDocs = counts.agg(sum(col("n"))).head().get(0) match {
      case null      => 0L
      case n: Number => n.longValue()
    }
    if (nDocs == 0L) return // nothing arrived: no log row, no fold
    val ref = new Path(refDir(cfg.monitorDir))
    val fs = ref.getFileSystem(spark.sessionState.newHadoopConf())
    graft.cdc.BucketStore.recover(fs, ref, graft.cdc.BucketStore.dirAside(ref))
    val current: Option[(DataFrame, Long)] =
      if (!fs.exists(ref)) None
      else {
        val r = spark.read.parquet(ref.toString).localCheckpoint(true)
        Some((r.select("bucket", "n"),
          r.select(max(col("__last_batch"))).head().getLong(0)))
      }

    // a batch the reference has already folded is a REPLAY whose log
    // row is already committed: recomputing PSI now would score the
    // batch against a reference that includes itself (biased toward 0)
    // and overwrite the real alarm — skip entirely
    if (current.exists(_._2 >= batchId)) return

    // PSI of this batch against the reference BEFORE it (first batch:
    // reference = itself ⇒ PSI 0, the monitor's calibration row)
    val against = current.map(_._1).getOrElse(counts)
    val psi = TextAnalysis.psiBins(against, counts, cfg.buckets)
      .agg(sum(col("psi_micro8"))).head() match {
        case r if r.isNullAt(0) => 0L
        case r                  => r.getLong(0)
      }
    // `batch` is the partition dir, not a data column (a duplicate
    // would break partition-discovery reads)
    Seq((nDocs, psi)).toDF("n_docs", "psi_micro8")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"${logDir(cfg.monitorDir)}/batch=$batchId")

    // fold into the reference exactly once per batch id
    if (current.forall(_._2 < batchId)) {
      val merged = current match {
        case None => counts
        case Some((c, _)) =>
          c.select(col("bucket"), col("n")).unionByName(counts)
            .groupBy("bucket").agg(sum(col("n")).as("n"))
      }
      val tmp = new Path(s"${cfg.monitorDir}/.__ref_tmp")
      merged.withColumn("__last_batch", lit(batchId))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      // rename-aside swap: a crash can never reset the reference to one
      // batch's histogram (every later PSI would then compare against a
      // near-empty reference)
      graft.cdc.BucketStore.swap(fs, ref, Some(tmp), graft.cdc.BucketStore.dirAside(ref))
    }
  }
}
