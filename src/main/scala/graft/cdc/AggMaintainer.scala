package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained GROUP BY aggregates over a maintained
  * current-state snapshot — the CDC-native materialized view.
  *
  * The reference's consumers run their aggregates against the warehouse
  * on every dashboard refresh: O(snapshot) per query. This maintainer
  * keeps `SELECT groupCols, count(*), sum(col)... FROM snapshot GROUP BY
  * groupCols` continuously up to date for O(|batch| + touched groups)
  * per micro-batch:
  *
  *  1. fold the batch into the snapshot, taking its keys' LIVE rows
  *     before and after from the fold itself
  *     ([[SnapshotMaintainer.foldWithLiveRows]]: only their pk buckets
  *     are listed, and read once);
  *  2. the per-group DELTA is the post rows as +1/+x united with the pre
  *     rows as -1/-x, summed per group (zero deltas dropped); it is
  *     merged into the aggregate store — itself hash-bucketed by group,
  *     so only the buckets of touched groups are read and swapped — as
  *     (store rows ∪ delta) summed per group, keeping groups with rows.
  *     `groupBy` groups NULL keys together, so a nullable group column
  *     needs no null-safe join condition.
  *
  * A pk whose UPDATE moves it between groups contributes -1/-x to its
  * old group and +1/+x to the new one; deletes contribute only the
  * negative side. Sums are maintained in DECIMAL — exact, associative
  * arithmetic — so the maintained table equals the from-scratch
  * aggregate bit-for-bit, not approximately ([[rebuild]] IS the spec's
  * equality oracle). Negation is unary minus, which keeps the scale
  * (`x * -1` on a DECIMAL(38,8) would round to scale 6).
  *
  * A spec added to a table whose snapshot already has rows starts from
  * the post-fold snapshot: a store that does not exist yet is seeded
  * from it ([[BucketStore.seedIfMissing]]) instead of receiving only
  * this batch's delta.
  *
  * Replay: a re-delivered batch folds idempotently into the snapshot,
  * so its pre- and post-fold states match, every delta is zero, and the
  * aggregate is unchanged. The one hazard is a crash BETWEEN fold and
  * delta-apply (the replayed trigger then sees zero delta for work the
  * aggregate never received) — [[rebuild]] from the snapshot is the
  * bounded recovery, same as any non-transactional view maintenance.
  */
object AggMaintainer {

  /** `sumCols` are maintained as `sum_<col>` DECIMAL(38,8) plus an
    * implicit live-row count `n_rows`. */
  final case class AggSpec(name: String, groupCols: Seq[String],
                           sumCols: Seq[String] = Seq.empty)

  private val BucketCol = "__gbucket"
  val DefaultBuckets = 64

  def aggDir(warehouseDir: String, table: String, name: String): String =
    s"$warehouseDir/_agg/$table/$name"

  private def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,8)")

  /** Internal constant group key standing in for an EMPTY groupCols list
    * (a global aggregate): keeps every code path — hash-bucketing and
    * the per-group sums — on the regular grouped shape. Stripped by
    * [[read]]. */
  private val AllCol = "__all"

  private def effCols(spec: AggSpec): Seq[String] =
    if (spec.groupCols.isEmpty) Seq(AllCol) else spec.groupCols

  /** `rows` as signed per-row contributions: `n_rows` = `sign`, each
    * `sum_<col>` = ±col in DECIMAL(38,8). */
  private def signed(rows: DataFrame, spec: AggSpec, sign: Long): DataFrame = {
    val base = if (spec.groupCols.isEmpty) rows.withColumn(AllCol, lit(0)) else rows
    base.select((effCols(spec).map(col) :+ lit(sign).as("n_rows")) ++
      spec.sumCols.map { c =>
        val x = dec(col(c))
        (if (sign < 0) -x else x).as(s"sum_$c")
      }: _*)
  }

  /** Contributions (or stored rows) summed per `keys`. */
  private def summed(rows: DataFrame, spec: AggSpec, keys: Seq[String]): DataFrame =
    rows.groupBy(keys.map(col): _*)
      .agg(sum("n_rows").as("n_rows"),
        spec.sumCols.map(c => sum(s"sum_$c").as(s"sum_$c")): _*)

  /** Fold `batch` into the snapshot AND maintain `specs` aggregates over
    * it. Same contract as [[SnapshotMaintainer.update]] plus the
    * aggregate stores. */
  def foldAndMaintain(spark: SparkSession, warehouseDir: String, table: String,
                      batch: DataFrame, pk: Seq[String], specs: Seq[AggSpec],
                      versionCol: String = "update_date",
                      actionCol: String = "action",
                      snapshotBuckets: Int = SnapshotMaintainer.DefaultBuckets,
                      aggBuckets: Int = DefaultBuckets): Unit = {
    val live = SnapshotMaintainer.foldWithLiveRows(spark, warehouseDir, table,
      batch, pk, versionCol, actionCol, snapshotBuckets)
    specs.foreach(spec => applyDelta(spark, warehouseDir, table, spec,
      live.pre, live.post, actionCol, aggBuckets))
  }

  private def applyDelta(spark: SparkSession, warehouseDir: String,
                         table: String, spec: AggSpec,
                         pre: DataFrame, post: DataFrame, actionCol: String,
                         aggBuckets: Int): Unit = {
    val gcols = effCols(spec)
    val nonZero = spec.sumCols.map(c => col(s"sum_$c") =!= 0)
      .foldLeft(col("n_rows") =!= 0L)(_ || _)
    // persist, not eager checkpoint: the touched collect right below
    // materializes it, and its lineage (projections of the fold's
    // checkpoint) recomputes correctly if evicted
    val delta = BucketStore.bucketed(
      summed(signed(post, spec, 1L).unionByName(signed(pre, spec, -1L)), spec, gcols)
        .filter(nonZero),
      gcols, aggBuckets, BucketCol).persist()

    val dir = aggDir(warehouseDir, table, spec.name)
    try {
      val touched = BucketStore.touchedBuckets(delta, BucketCol)
      if (touched.isEmpty) return
      // the post-fold snapshot already holds this batch: a seeded store
      // takes no delta
      if (!BucketStore.seedIfMissing(spark, dir,
            bucketedTotals(spark, warehouseDir, table, spec, actionCol, aggBuckets),
            BucketCol)) {
        val current = BucketStore.readTouched(spark, dir, touched, BucketCol,
          schema = Some(delta.schema))
        val merged = summed(current.fold(delta)(_.unionByName(delta)), spec,
          gcols :+ BucketCol).filter(col("n_rows") > 0L)
        // shared stage + per-bucket swap (rename-aside, crash-recoverable,
        // and the load-bearing pre-write bucket repartition); a bucket
        // whose groups all cancelled to zero is DELETED, not left stale
        BucketStore.stageAndSwap(spark, dir, merged, touched,
          deleteMissingTouched = true, bucketCol = BucketCol)
      }
    } finally delta.unpersist(false)
  }

  /** The aggregate of the current snapshot, bucketed as stored. */
  private def bucketedTotals(spark: SparkSession, warehouseDir: String,
                             table: String, spec: AggSpec, actionCol: String,
                             aggBuckets: Int): DataFrame =
    BucketStore.bucketed(summed(signed(
        SnapshotMaintainer.read(spark, warehouseDir, table, actionCol), spec, 1L),
        spec, effCols(spec)),
      effCols(spec), aggBuckets, BucketCol)

  /** The maintained aggregate table. */
  def read(spark: SparkSession, warehouseDir: String, table: String,
           name: String): DataFrame =
    spark.read.parquet(aggDir(warehouseDir, table, name))
      .drop(BucketCol).drop(AllCol)

  /** From-scratch recomputation over the current snapshot — the recovery
    * path after a fold/apply crash, and the oracle the specs compare
    * the maintained table against. */
  def rebuild(spark: SparkSession, warehouseDir: String, table: String,
              spec: AggSpec, actionCol: String = "action",
              aggBuckets: Int = DefaultBuckets): Unit =
    bucketedTotals(spark, warehouseDir, table, spec, actionCol, aggBuckets)
      .write.mode("overwrite").partitionBy(BucketCol)
      .parquet(aggDir(warehouseDir, table, spec.name))
}
