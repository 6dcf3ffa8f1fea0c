package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Incrementally-maintained SCD2 (slowly-changing-dimension type 2)
  * tables — the interval sibling of [[SnapshotMaintainer]]: where the
  * snapshot keeps each key's LATEST version, this keeps every version
  * with its validity interval [valid_from, valid_to) and an is_current
  * flag, maintained per micro-batch instead of re-windowing the full
  * history on every read ([[Versioned.scd2]] is O(history) per query;
  * a dimension serving point-in-time joins wants the materialized
  * intervals).
  *
  * Why the fold is exact AND replay/late-data-safe: the stored rows
  * minus their derived columns ARE the changelog versions, so a fold is
  * "union the touched buckets' versions with the batch, collapse exact
  * duplicates, re-derive the intervals per key" — the same lead-window
  * computation the batch operator runs, just bucket-local. An
  * out-of-order version lands in the middle of its key's timeline and
  * the re-derivation closes/reopens neighbors correctly; a replayed
  * batch collapses in the duplicate-version distinct (Scd2MaintainerSpec
  * scalachecks maintained ≡ batch over random batch splits and orders).
  *
  * Scale shape — [[SnapshotMaintainer]]'s discipline: the store is
  * partitioned by the pk's `__bucket` ([[BucketStore.bucketed]]); a micro-batch
  * folds ONLY its touched buckets (per-trigger cost O(touched keys'
  * versions + batch), never O(table)), which a CDC stream learns from
  * its routing write and every other caller from one job over the
  * persisted keyed batch ([[BucketStore.withTouched]]). The fold is bucket-local: the
  * touched versions and the batch are clustered by bucket once, and the
  * duplicate collapse, the interval window and the staged write all run
  * inside that one shuffle. Staged writes swap per-bucket through the
  * Hadoop FileSystem API (file:/, HDFS, object stores). */
object Scd2Maintainer {

  val DefaultBuckets: Int = SnapshotMaintainer.DefaultBuckets

  private val BucketCol = BucketStore.BucketCol
  private val Derived = Seq("valid_from", "valid_to", "is_current")

  def scd2Dir(warehouseDir: String, table: String): String =
    s"$warehouseDir/_scd2/$table"

  /** Fold one changelog batch (pk ++ versionCol ++ actionCol ++ payload
    * columns — [[Envelope.project]]'s grain) into the maintained SCD2
    * table. */
  def update(spark: SparkSession, warehouseDir: String, table: String,
             batch: DataFrame, pk: Seq[String],
             versionCol: String = "update_date",
             actionCol: String = "action",
             buckets: Int = DefaultBuckets): Unit =
    BucketStore.withTouched(batch, pk, buckets) { (keyed, touched) =>
      updateTouched(spark, warehouseDir, table, keyed, pk, touched,
        versionCol, actionCol, buckets)
    }

  /** [[update]] given the batch's touched buckets — the set
    * [[Ingest.appendBatch]] observed while routing it, or
    * [[BucketStore.touchedBuckets]]. */
  private[graft] def updateTouched(spark: SparkSession, warehouseDir: String,
                                   table: String, batch: DataFrame,
                                   pk: Seq[String], touched: Seq[Int],
                                   versionCol: String = "update_date",
                                   actionCol: String = "action",
                                   buckets: Int = DefaultBuckets): Unit = {
    require(buckets > 0)
    if (touched.isEmpty) return
    val dir = scd2Dir(warehouseDir, table)
    val keyed = BucketStore.bucketed(batch, pk, buckets)
    val currentTouched = BucketStore.readTouched(spark, dir, touched)
      // strip the derived interval columns: what remains IS the
      // changelog-version grain the batch arrives at
      .map(_.drop(Derived: _*))

    // exact-duplicate versions collapse here — this is what makes a
    // replayed batch a no-op fold. The bucket leads the window's
    // partition key, so the distinct and the window both run inside the
    // one bucket clustering.
    val versions = BucketStore.clustered(currentTouched
      .map(_.unionByName(keyed, allowMissingColumns = true))
      .getOrElse(keyed))
      .distinct()
    val folded = Versioned.scd2(versions, BucketCol +: pk, versionCol, actionCol)
    BucketStore.stageAndSwap(spark, dir, folded, touched)
  }

  /** Read the maintained SCD2 table — the same frame
    * [[Versioned.scd2]] derives from the full history. */
  def read(spark: SparkSession, warehouseDir: String, table: String): DataFrame =
    spark.read.option("mergeSchema", "true")
      .parquet(scd2Dir(warehouseDir, table)).drop(BucketCol)
}
