package graft.cdc

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
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
  *  2. the pks whose live row changed in the spec's columns contribute
  *     their post rows as +1/+x and their pre rows as -1/-x; the
  *     aggregate store — itself hash-bucketed by group — reads only the
  *     buckets of the groups those rows name, and each touched bucket is
  *     re-derived as (store rows ∪ contributions) summed per group,
  *     keeping groups with rows. That sum is bucket-local: the one
  *     shuffle clusters its input by group bucket, and the staged write
  *     keeps that clustering. `groupBy` groups NULL keys together, so a
  *     nullable group column needs no null-safe join condition.
  *
  * Jobs: the snapshot fold's touched set comes from the stream's routing
  * write ([[Ingest.appendBatch]]), or for a direct call from one job
  * over the persisted keyed batch ([[BucketStore.withTouched]]); the group
  * buckets come from one more job over the fold's checkpointed rows.
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
    * implicit live-row count `n_rows`. The store also keeps a signed
    * non-NULL count `nn_<col>` per sum column, so a group whose live
    * values are all NULL reads a NULL sum (as a GROUP BY does) even
    * after +x/−x contributions cancelled to 0; [[read]] drops it. */
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

  private def counted(spec: AggSpec): Seq[String] =
    "n_rows" +: spec.sumCols.flatMap(c => Seq(s"sum_$c", s"nn_$c"))

  /** `rows` as signed per-row contributions: `n_rows` = `sign`, each
    * `sum_<col>` = ±col in DECIMAL(38,8), each `nn_<col>` = `sign` where
    * col is not NULL, else 0. */
  private def signed(rows: DataFrame, spec: AggSpec, sign: Long): DataFrame = {
    val base = if (spec.groupCols.isEmpty) rows.withColumn(AllCol, lit(0)) else rows
    base.select((effCols(spec).map(col) :+ lit(sign).as("n_rows")) ++
      spec.sumCols.flatMap { c =>
        val x = dec(col(c))
        Seq((if (sign < 0) -x else x).as(s"sum_$c"),
          when(col(c).isNotNull, lit(sign)).otherwise(lit(0L)).as(s"nn_$c"))
      }: _*)
  }

  /** Contributions (or stored rows) summed per `keys`. */
  private def summed(rows: DataFrame, spec: AggSpec, keys: Seq[String]): DataFrame = {
    val sums = counted(spec).map(c => sum(c).as(c))
    rows.groupBy(keys.map(col): _*).agg(sums.head, sums.tail: _*)
  }

  /** Fold `batch` into the snapshot AND maintain `specs` aggregates over
    * it. Same contract as [[SnapshotMaintainer.update]] plus the
    * aggregate stores. */
  def foldAndMaintain(spark: SparkSession, warehouseDir: String, table: String,
                      batch: DataFrame, pk: Seq[String], specs: Seq[AggSpec],
                      versionCol: String = "update_date",
                      actionCol: String = "action",
                      snapshotBuckets: Int = SnapshotMaintainer.DefaultBuckets,
                      aggBuckets: Int = DefaultBuckets): Unit =
    BucketStore.withTouched(batch, pk, snapshotBuckets) { (keyed, touched) =>
      foldAndMaintainTouched(spark, warehouseDir, table, keyed, pk, specs,
        touched, versionCol, actionCol, snapshotBuckets, aggBuckets)
    }

  /** [[foldAndMaintain]] given the batch's touched snapshot buckets — the
    * set [[Ingest.appendBatch]] observed while routing it, or
    * [[BucketStore.touchedBuckets]]. */
  private[graft] def foldAndMaintainTouched(spark: SparkSession, warehouseDir: String,
                                            table: String, batch: DataFrame,
                                            pk: Seq[String], specs: Seq[AggSpec],
                                            touched: Seq[Int],
                                            versionCol: String = "update_date",
                                            actionCol: String = "action",
                                            snapshotBuckets: Int = SnapshotMaintainer.DefaultBuckets,
                                            aggBuckets: Int = DefaultBuckets): Unit = {
    val live = SnapshotMaintainer.foldWithLiveRows(spark, warehouseDir, table,
      batch, pk, touched, versionCol, actionCol, snapshotBuckets)
    specs.foreach(spec => applyDelta(spark, warehouseDir, table, spec, live,
      actionCol, aggBuckets))
  }

  private def applyDelta(spark: SparkSession, warehouseDir: String,
                         table: String, spec: AggSpec,
                         live: SnapshotMaintainer.LiveRows, actionCol: String,
                         aggBuckets: Int): Unit = {
    val gcols = effCols(spec)
    // only the pks whose live row changed in the spec's columns
    // contribute: every other pk's +x and −x cancel exactly
    val (pre, post) = live.changed(spec.groupCols ++ spec.sumCols)
    val contrib = BucketStore.bucketed(
      signed(post, spec, 1L).unionByName(signed(pre, spec, -1L)),
      gcols, aggBuckets, BucketCol)
    // the groups those pks leave or enter: one job over the fold's
    // checkpointed rows. A replayed batch changes no pk and touches none.
    val touched = BucketStore.touchedBuckets(contrib, BucketCol)
    if (touched.isEmpty) return
    val dir = aggDir(warehouseDir, table, spec.name)
    // a store written before the nn_ columns cannot be merged (its
    // all-NULL groups and zero sums look alike): drop it, so the seed
    // below rebuilds it from the snapshot — a crash in between leaves
    // no store, which the replay seeds the same way
    if (lacksNonNullCounts(spark, dir, spec))
      new Path(dir).getFileSystem(spark.sessionState.newHadoopConf()).delete(new Path(dir), true)
    // the post-fold snapshot already holds this batch: a seeded store
    // takes no delta
    if (!BucketStore.seedIfMissing(spark, dir,
          bucketedTotals(spark, warehouseDir, table, spec, actionCol, aggBuckets),
          BucketCol)) {
      val current = BucketStore.readTouched(spark, dir, touched, BucketCol,
        schema = Some(contrib.schema))
      // store rows and signed contributions summed per group in ONE
      // bucket-local aggregate: the bucket clustering is the only
      // shuffle, and the staged write keeps it
      val merged = summed(BucketStore.clustered(
          current.fold(contrib)(_.unionByName(contrib)), BucketCol), spec,
        gcols :+ BucketCol).filter(col("n_rows") > 0L)
      // shared stage + per-bucket rename-aside swap; a touched bucket
      // whose groups all cancelled to zero stages no rows, so the swap
      // removes it rather than leaving it stale
      BucketStore.stageAndSwap(spark, dir, merged, touched, BucketCol)
    }
  }

  /** True if the store at `dir` was written before the non-NULL counts:
    * a `sum_<col>` without its `nn_<col>`. Reads the footer of the
    * first parquet file found under the store on the driver (no Spark
    * job); every bucket of a store shares its writer's columns. */
  private def lacksNonNullCounts(spark: SparkSession, dir: String,
                                 spec: AggSpec): Boolean = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    spec.sumCols.nonEmpty && fs.exists(root) &&
      fs.listStatus(root).iterator.filter(_.isDirectory)
        .flatMap(d => fs.listStatus(d.getPath).iterator.map(_.getPath))
        .find(_.getName.endsWith(".parquet"))
        .exists { f =>
          val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
          try {
            val schema = reader.getFooter.getFileMetaData.getSchema
            spec.sumCols.exists(c => !schema.containsField(s"nn_$c"))
          } finally reader.close()
        }
  }

  /** The aggregate of the current snapshot, bucketed as stored. */
  private def bucketedTotals(spark: SparkSession, warehouseDir: String,
                             table: String, spec: AggSpec, actionCol: String,
                             aggBuckets: Int): DataFrame =
    BucketStore.bucketed(summed(signed(
        SnapshotMaintainer.read(spark, warehouseDir, table, actionCol), spec, 1L),
        spec, effCols(spec)),
      effCols(spec), aggBuckets, BucketCol)

  /** The maintained aggregate table: (groupCols, n_rows, sum_<col>...),
    * a sum NULL where the group has no non-NULL value. */
  def read(spark: SparkSession, warehouseDir: String, table: String,
           name: String): DataFrame = {
    val stored = spark.read.parquet(aggDir(warehouseDir, table, name))
    val sums = stored.columns.toSeq.filter(_.startsWith("sum_"))
      .map(s => s -> ("nn_" + s.stripPrefix("sum_")))
    sums.foldLeft(stored) { case (df, (s, nn)) =>
      df.withColumn(s, when(col(nn) =!= 0L, col(s)))
    }.drop(BucketCol +: AllCol +: sums.map(_._2): _*)
  }

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
