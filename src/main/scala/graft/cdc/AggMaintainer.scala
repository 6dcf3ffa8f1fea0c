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
  *  1. fold the batch into the snapshot, reading its keys' LIVE rows
  *     before and after ([[SnapshotMaintainer.foldWithLiveRows]]: only
  *     their pk buckets are listed);
  *  2. the per-group DELTA (post minus pre, counts and decimal sums) is
  *     applied to the aggregate store — itself hash-bucketed by group,
  *     so only the buckets of touched groups are read and swapped.
  *
  * A pk whose UPDATE moves it between groups contributes -1/-x to its
  * old group and +1/+x to the new one; deletes contribute only the
  * negative side. Sums are maintained in DECIMAL — exact, associative
  * arithmetic — so the maintained table equals the from-scratch
  * aggregate bit-for-bit, not approximately ([[rebuild]] IS the spec's
  * equality oracle).
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
    * using-column joins — on the regular grouped shape. Stripped by
    * [[read]]. */
  private val AllCol = "__all"

  private def effCols(spec: AggSpec): Seq[String] =
    if (spec.groupCols.isEmpty) Seq(AllCol) else spec.groupCols

  private def grouped(rows: DataFrame, spec: AggSpec): DataFrame = {
    val base = if (spec.groupCols.isEmpty) rows.withColumn(AllCol, lit(0)) else rows
    base.groupBy(effCols(spec).map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        spec.sumCols.map(c => sum(dec(col(c))).as(s"sum_$c")): _*)
  }

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
    try specs.foreach { spec =>
      applyDelta(spark, warehouseDir, table, spec, live.pre, live.post, aggBuckets)
    } finally live.release()
  }

  private def applyDelta(spark: SparkSession, warehouseDir: String,
                         table: String, spec: AggSpec,
                         pre: DataFrame, post: DataFrame,
                         aggBuckets: Int): Unit = {
    val gcols = effCols(spec)
    val preG = grouped(pre, spec)
    val postG = grouped(post, spec)
    // post minus pre, groups present on either side. The group-key join
    // must be NULL-SAFE (<=>): a nullable group column (e.g. category
    // NULL) must match itself across generations, where a using-column
    // join would keep the two sides apart and emit duplicate group rows.
    val preR = preG.select((gcols.map(c => col(c).as(s"__g_$c")) :+
      col("n_rows").as("__n_pre")) ++
      spec.sumCols.map(c => col(s"sum_$c").as(s"__pre_$c")): _*)
    val deltaCond = gcols.map(c => col(c) <=> col(s"__g_$c"))
      .reduce(_ && _)
    val diff = postG.join(preR, deltaCond, "full_outer")
      .select((gcols.map(c => coalesce(col(c), col(s"__g_$c")).as(c)) :+
        (coalesce(col("n_rows"), lit(0L)) - coalesce(col("__n_pre"), lit(0L)))
          .as("n_rows")) ++
        spec.sumCols.map(c =>
          dec(coalesce(col(s"sum_$c"), lit(0)) - coalesce(col(s"__pre_$c"), lit(0)))
            .as(s"sum_$c")): _*)
    // persist, not eager checkpoint: the touched collect right below
    // materializes it, and its lineage (pre checkpointed, post over
    // the stable post-fold snapshot) recomputes correctly if evicted
    val delta = BucketStore.bucketed(diff, gcols, aggBuckets, BucketCol).persist()

    val dir = aggDir(warehouseDir, table, spec.name)
    try {
      val touched = BucketStore.touchedBuckets(delta, BucketCol)
      if (touched.isEmpty) return
      val current = BucketStore.readTouched(spark, dir, touched, BucketCol)

      val merged = current match {
        case None => delta.filter(col("n_rows") =!= 0L ||
          spec.sumCols.map(c => col(s"sum_$c") =!= 0).foldLeft(lit(false))(_ || _))
        case Some(cur) =>
          val deltaR = delta
            .select((gcols.map(c => col(c).as(s"__g_$c")) :+
              col("n_rows").as("__dn")) ++
              (spec.sumCols.map(c => col(s"sum_$c").as(s"__d_$c")) :+
                col(BucketCol).as("__db")): _*)
          val mergeCond = gcols.map(c => col(c) <=> col(s"__g_$c"))
            .reduce(_ && _) // null-safe, same reason as the delta join
          cur.join(deltaR, mergeCond, "full_outer")
            .select((gcols.map(c => coalesce(col(c), col(s"__g_$c")).as(c)) :+
              (coalesce(col("n_rows"), lit(0L)) + coalesce(col("__dn"), lit(0L)))
                .as("n_rows")) ++
              (spec.sumCols.map(c =>
                dec(coalesce(col(s"sum_$c"), lit(0)) + coalesce(col(s"__d_$c"), lit(0)))
                  .as(s"sum_$c")) :+
                coalesce(col(BucketCol), col("__db")).as(BucketCol)): _*)
            .filter(col("n_rows") > 0L)
      }

      // shared stage + per-bucket swap (rename-aside, crash-recoverable,
      // and the load-bearing pre-write bucket repartition); a bucket
      // whose groups all cancelled to zero is DELETED, not left stale
      BucketStore.stageAndSwap(spark, dir, merged, touched,
        deleteMissingTouched = true, bucketCol = BucketCol)
    } finally delta.unpersist(false)
  }

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
              aggBuckets: Int = DefaultBuckets): Unit = {
    val full = BucketStore.bucketed(grouped(
        SnapshotMaintainer.read(spark, warehouseDir, table, actionCol), spec),
      effCols(spec), aggBuckets, BucketCol)
    full.write.mode("overwrite").partitionBy(BucketCol)
      .parquet(aggDir(warehouseDir, table, spec.name))
  }
}
