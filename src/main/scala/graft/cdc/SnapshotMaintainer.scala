package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained "current state" tables.
  *
  * The append-only versioned table answers `latestSnapshot` by windowing
  * the FULL history — correct, but O(history) per query. For tables whose
  * primary key is known, this maintainer folds each micro-batch into a
  * materialized snapshot. Point-in-time (`asOf`) queries still go to the
  * versioned history; the snapshot serves the hot "current state" path.
  *
  * Scale design (the round-1 version was the named scale-killer):
  *  - the snapshot is partitioned by the pk's `__bucket`
  *    ([[BucketStore.bucketed]]); a micro-batch folds ONLY the buckets its
  *    keys hash into, so the per-trigger cost is O(|touched buckets| +
  *    |batch|), not O(|snapshot|).
  *    A 10⁹-key table with a 10⁴-row trigger rewrites ≤10⁴ buckets of
  *    ~10⁵ keys each — bounded regardless of total snapshot size.
  *  - the touched buckets come from the stream's routing write
  *    ([[Ingest.appendBatch]]), or for a direct [[update]] from one job
  *    over the persisted keyed batch ([[BucketStore.withTouched]]); the
  *    fold is bucket-local, so the store shuffles once per trigger
  *    ([[BucketStore.clustered]]).
  *  - all directory manipulation goes through the Hadoop FileSystem API,
  *    so the same code runs on file:/, HDFS, and object stores —
  *    `java.io.File` + `renameTo` silently break anywhere but a local
  *    POSIX disk.
  *
  * Idempotent under batch replay: re-folding rows the snapshot already
  * reflects reproduces the identical bucket contents (last-writer-wins is
  * a fold; duplicates collapse in the per-key argmax). Tombstones stay IN
  * the stored state so a replayed old batch cannot resurrect deleted keys;
  * readers filter them via [[read]].
  */
object SnapshotMaintainer {

  /** Default pk-hash bucket count. Sized so test/demo tables get a few
    * rows per bucket; a large deployment picks buckets ≈ |keys| / 10⁵. */
  val DefaultBuckets = 64

  private val BucketCol = BucketStore.BucketCol

  def snapshotDir(warehouseDir: String, table: String): String =
    s"$warehouseDir/_snapshot/$table"

  /** Fold one projected table batch into the maintained snapshot.
    * `batch` must carry pk ++ versionCol ++ payload columns — exactly
    * what `Envelope.project` emits. Only the pk-hash buckets present in
    * the batch are read, re-folded, and swapped. */
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
    val tsBatch = keyed(batch, pk, versionCol, buckets)
    val dir = snapshotDir(warehouseDir, table)
    BucketStore.stageAndSwap(spark, dir,
      stored(fold(spark, dir, tsBatch, touched, pk, versionCol, actionCol),
        tsBatch, pk, "__best"), touched)
  }

  /** The batch's distinct pks and their LIVE (non-tombstone) snapshot
    * rows before and after one fold — what the composed maintainers
    * (Agg/Join) derive their deltas from. Everything here is a
    * projection of one checkpoint of the fold's batch-pk rows, `hits`:
    * one row per batch pk with the stored row (`__pre`) next to the
    * winning one (`__best`). */
  private[cdc] final class LiveRows(hits: DataFrame, cols: Seq[String],
                                    pk: Seq[String], actionCol: String) {
    private def isLive(row: String): Column = coalesce(col(row).isNotNull &&
      col(s"$row.$actionCol") =!= Versioned.DeleteAction, lit(false))
    private def field(row: String, c: String): Column =
      if (pk.contains(c)) col(c) else col(s"$row.$c")
    private def rows(row: String, keep: Column): DataFrame =
      hits.filter(isLive(row) && keep).select(cols.map(c => field(row, c).as(c)): _*)

    val keys: DataFrame = hits.select(pk.map(col): _*)
    def pre: DataFrame = rows("__pre", lit(true))
    def post: DataFrame = rows("__best", lit(true))

    /** [[pre]] and [[post]] of the pks whose live row changed in `on`
      * (a row that turns live or stops being live counts as changed):
      * the other pks contribute nothing to a view over `on`. */
    def changed(on: Seq[String]): (DataFrame, DataFrame) = {
      def image(row: String) = struct(isLive(row).as("live") +:
        on.map(c => when(isLive(row), field(row, c)).as(c)): _*)
      val moved = !(image("__pre") <=> image("__best"))
      (rows("__pre", moved), rows("__best", moved))
    }
  }

  /** [[updateTouched]], returning the batch pks' live rows around the
    * fold. The touched buckets are read ONCE (guide §5: the fold path
    * is barrier-latency-bound at micro-batch sizes): the fold's own
    * per-pk aggregate carries the stored row (`__pre`) next to the
    * winning one (`__best`), so the pre- and post-fold rows need no
    * read of their own. The read goes through [[BucketStore.readTouched]],
    * so a bucket a crashed swap left aside is recovered BEFORE the
    * pre-fold state is taken from it. */
  private[cdc] def foldWithLiveRows(spark: SparkSession, warehouseDir: String,
                                    table: String, batch: DataFrame,
                                    pk: Seq[String], touched: Seq[Int],
                                    versionCol: String, actionCol: String,
                                    buckets: Int): LiveRows = {
    require(buckets > 0)
    val dir = snapshotDir(warehouseDir, table)
    val tsBatch = keyed(batch, pk, versionCol, buckets)
    val folded = fold(spark, dir, tsBatch, touched, pk, versionCol, actionCol)
    val hits =
      if (touched.isEmpty) folded.limit(0)
      else {
        // persisted, not checkpointed whole: a checkpoint's scan loses the
        // bucket clustering, so the staged write would shuffle again
        folded.persist()
        try {
          // MUST materialize before the swap overwrites the buckets the
          // fold read (the persisted fold alone could be evicted and
          // recompute from the post-swap store)
          val h = folded.filter(col("__hit")).localCheckpoint(true)
          BucketStore.stageAndSwap(spark, dir,
            stored(folded, tsBatch, pk, "__best"), touched)
          h
        } finally folded.unpersist(false)
      }
    new LiveRows(hits, tsBatch.drop("__v", BucketCol).columns.toIndexedSeq, pk, actionCol)
  }

  private def keyed(batch: DataFrame, pk: Seq[String], versionCol: String,
                    buckets: Int): DataFrame = BucketStore.bucketed(
    batch.withColumn("__v", col(versionCol).cast("timestamp")), pk, buckets)

  /** The stored snapshot rows (pk, payload, [[BucketCol]]) of `folded`'s
    * per-pk struct `row`. */
  private def stored(folded: DataFrame, tsBatch: DataFrame, pk: Seq[String],
                     row: String): DataFrame =
    folded.select(tsBatch.drop("__v").columns.toIndexedSeq.map(c =>
      if (c == BucketCol || pk.contains(c)) col(c) else col(s"$row.$c").as(c)): _*)

  /** The fold of `tsBatch` over the touched buckets: one row per pk with
    * its [[BucketCol]], `__best` (the payload the snapshot stores next),
    * `__pre` (the stored payload before this batch; null if none) and
    * `__hit` (the batch carries the pk). */
  private def fold(spark: SparkSession, dir: String, tsBatch: DataFrame,
                   touched: Seq[Int], pk: Seq[String],
                   versionCol: String, actionCol: String): DataFrame = {
    // read with the batch's schema: the fold emits exactly the batch's
    // columns, so a stored column the registry dropped would be dropped
    // anyway, and one it added reads as null — exactly what an old row
    // knows about a new column. No footer-merging schema job runs.
    val schema = tsBatch.drop("__v").schema
    val keys = BucketCol +: pk
    val fresh = tsBatch.withColumn("__in", lit(true))
    val unioned = BucketStore.readTouched(spark, dir, touched, schema = Some(schema))
      .map(_.withColumn("__v", col(versionCol).cast("timestamp"))
        .withColumn("__in", lit(false)).unionByName(fresh))
      .getOrElse(fresh)

    // Fold = argmax per key over (__v, action) — same pick as
    // latestSnapshotWithTombstones' row_number window (desc on both),
    // expressed as groupBy + max_by. The input is clustered by bucket
    // once, and the group key leads with the bucket, so the partial and
    // final aggregates both run after that single shuffle, with no
    // exchange of their own, and the staged write keeps the clustering.
    // (Exact ties on (version, action) pick an arbitrary row under
    // both forms.) `__pre` orders batch rows as null, which max_by
    // skips: it is the stored row, never a batch row. [[update]] reads
    // only `__best`; column pruning drops the other two aggregates.
    val payload = struct(schema.fieldNames.filterNot(keys.contains)
      .toIndexedSeq.map(col): _*)
    val order = struct(col("__v"), col(actionCol))
    BucketStore.clustered(unioned).groupBy(keys.map(col): _*).agg(
      max_by(payload, order).as("__best"),
      max_by(payload, when(!col("__in"), order)).as("__pre"),
      max(col("__in")).as("__hit"))
  }

  /** Read the maintained current-state table (tombstones filtered). */
  def read(spark: SparkSession, warehouseDir: String, table: String,
           actionCol: String = "action"): DataFrame =
    spark.read.option("mergeSchema", "true")
      .parquet(snapshotDir(warehouseDir, table))
      .filter(col(actionCol) =!= Versioned.DeleteAction)
      .drop(BucketCol)
}
