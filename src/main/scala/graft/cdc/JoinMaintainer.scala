package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained equi-JOIN view over two maintained
  * current-state snapshots — the join sibling of [[AggMaintainer]]
  * (which maintains GROUP BYs). The reference's consumers join users ⋈
  * products on every refresh: O(|A| + |B|) per query. This maintainer
  * keeps `snapshot(A) ⋈ snapshot(B) ON A.jk = B.jk` continuously
  * up to date for O(|batch| + touched-jk buckets) per micro-batch.
  *
  * Layout: each side keeps a LIVE-ROW STORE hash-bucketed by the JOIN
  * key (`__jbucket`, [[BucketStore.bucketed]] over jk), and the view is
  * bucketed the same way. Because both side stores and the view share
  * one bucketing, a view bucket is exactly the join of the two
  * same-numbered side buckets — the maintenance join is BUCKET-LOCAL
  * (the storage layout is the shuffle, paid once per row change; the
  * same argument as `core.Bucketing`, applied to view maintenance).
  *
  * Per micro-batch and side:
  *  1. fold the batch into the side's main pk-bucketed snapshot,
  *     taking the batch pks' live rows before and after from the fold
  *     itself ([[SnapshotMaintainer.foldWithLiveRows]] — the maintainer
  *     composes with, never replaces, the snapshot discipline): the
  *     PRE-fold rows carry the OLD join-key values, which is what makes
  *     a jk-changing UPDATE leave no stale row behind;
  *  2. touched jk buckets = hash(old ∪ new jk); rebuild each touched
  *     side-store bucket as (current rows minus the batch's pks) ∪ the
  *     batch pks' post-fold live rows;
  *  3. re-join the touched bucket pairs and swap the view buckets
  *     ([[BucketStore.stageAndSwap]]; a touched bucket whose join went
  *     empty stages no rows, so the swap removes it).
  *
  * A side store that does not exist yet (a view added over snapshots
  * that already hold rows) is seeded from its post-fold snapshot
  * ([[BucketStore.seedIfMissing]]), and that trigger re-joins every
  * view bucket.
  *
  * Replay: a re-delivered batch folds idempotently, so pre == post,
  * every side-store bucket rebuild reproduces itself, and the view is
  * unchanged. Crash between fold and view swap leaves the view stale
  * for the touched keys only — [[rebuild]] from the snapshots is the
  * bounded recovery, the same non-transactional caveat as
  * [[AggMaintainer]]. The maintained view equals the from-scratch join
  * row-for-row ([[rebuild]] IS the spec's equality oracle).
  */
object JoinMaintainer {

  val DefaultBuckets = 64
  private val BucketCol = "__jbucket"

  def sideDir(warehouseDir: String, view: String, side: String): String =
    s"$warehouseDir/_join/$view/side_$side"
  def viewDir(warehouseDir: String, view: String): String =
    s"$warehouseDir/_join/$view/view"

  /** One maintained side: the main snapshot `table` it reads through,
    * its primary key, and the projected batch for this trigger (None =
    * no changes on this side this trigger). */
  final case class Side(table: String, pk: Seq[String],
                        batch: Option[DataFrame])

  def foldAndMaintain(spark: SparkSession, warehouseDir: String, view: String,
                      jk: String, a: Side, b: Side,
                      versionCol: String = "update_date",
                      actionCol: String = "action",
                      snapshotBuckets: Int = SnapshotMaintainer.DefaultBuckets,
                      joinBuckets: Int = DefaultBuckets): Unit = {
    require(joinBuckets > 0)
    def jkBucketed(df: DataFrame) =
      BucketStore.bucketed(df, Seq(jk), joinBuckets, BucketCol)

    // fold a side and collect its touched jk buckets: hash(old ∪ new jk),
    // so a jk-moving update leaves no stale row in its old bucket
    def foldSide(s: Side): Option[(SnapshotMaintainer.LiveRows, Seq[Int])] =
      s.batch.map { batch =>
        val live = BucketStore.withTouched(batch, s.pk, snapshotBuckets) {
          (keyed, touched) => SnapshotMaintainer.foldWithLiveRows(spark,
            warehouseDir, s.table, keyed, s.pk, touched, versionCol,
            actionCol, snapshotBuckets)
        }
        (live, BucketStore.touchedBuckets(jkBucketed(
          live.pre.select(col(jk)).unionByName(live.post.select(col(jk)))),
          BucketCol))
      }

    // the two sides fold CONCURRENTLY (guide §2.6): different tables,
    // disjoint snapshot-store dirs, results communicated only by return
    // value — each side's chain of small vocabulary/bucket-sized jobs
    // back-fills the cores the other leaves idle. A self-join view
    // (both sides the same table) folds the same store twice, so it
    // stays sequential.
    def sides[T](fa: => T, fb: => T): (T, T) =
      if (a.table == b.table) (fa, fb) else graft.core.Par.both(fa, fb)
    val (foldedA, foldedB) = sides(foldSide(a), foldSide(b))
    val touched = (foldedA ++ foldedB).flatMap(_._2).toSeq.distinct.sorted
    if (touched.isEmpty) return

    // seed a missing side store from its post-fold snapshot (true if
    // seeded); otherwise rebuild the side's touched store buckets:
    // current minus batch pks, plus the batch pks' post-fold live rows
    // (an unchanged side's buckets stand)
    def rebuildSide(name: String, s: Side,
                    folded: Option[(SnapshotMaintainer.LiveRows, Seq[Int])]): Boolean = {
      val dir = sideDir(warehouseDir, view, name)
      val snap = new org.apache.hadoop.fs.Path(
        SnapshotMaintainer.snapshotDir(warehouseDir, s.table))
      val seeded =
        snap.getFileSystem(spark.sessionState.newHadoopConf()).exists(snap) &&
          BucketStore.seedIfMissing(spark, dir,
            jkBucketed(SnapshotMaintainer.read(spark, warehouseDir, s.table, actionCol)),
            BucketCol)
      if (!seeded) folded.foreach { case (live, _) =>
        val fresh = jkBucketed(live.post)
        // allowMissingColumns: after a registry column add/remove the
        // stored buckets can be narrower or wider than the fresh rows.
        // Clustered by bucket once, so the staged write adds no shuffle.
        val kept = BucketStore.readTouched(spark, dir, touched, BucketCol)
          .fold(fresh)(_.join(live.keys, s.pk, "left_anti")
            .unionByName(fresh, allowMissingColumns = true))
        BucketStore.stageAndSwap(spark, dir, BucketStore.clustered(kept, BucketCol),
          touched, BucketCol)
      }
      seeded
    }
    // side dirs are disjoint ("a"/"b" under the view dir) and both read
    // the already-computed `touched`: same §2.6 overlap as the folds
    val (seededA, seededB) =
      sides(rebuildSide("a", a, foldedA), rebuildSide("b", b, foldedB))
    // a seeded side may hold rows in any bucket
    val viewTouched = if (seededA || seededB) 0 until joinBuckets else touched

    // re-join the touched bucket pairs — bucket-local by construction:
    // each side is clustered by bucket once and the join key leads with
    // the bucket, so the join and the staged write need no other shuffle
    def sideRows(name: String) = BucketStore.readTouched(spark,
      sideDir(warehouseDir, view, name), viewTouched, BucketCol)
      .map(BucketStore.clustered(_, BucketCol))
    val vdir = viewDir(warehouseDir, view)
    (sideRows("a"), sideRows("b")) match {
      case (Some(l), Some(r)) => BucketStore.stageAndSwap(spark, vdir,
        joinSides(l, r, jk), viewTouched, BucketCol)
      // a side with no rows there leaves every touched view bucket empty
      case _ => BucketStore.deleteTouched(spark, vdir, viewTouched, BucketCol)
    }
  }

  /** The maintained view (a_/b_-prefixed payloads around the join key). */
  def read(spark: SparkSession, warehouseDir: String, view: String): DataFrame =
    spark.read.parquet(viewDir(warehouseDir, view)).drop(BucketCol)

  /** From-scratch join of the current snapshots — crash recovery and
    * the specs' equality oracle. */
  def rebuild(spark: SparkSession, warehouseDir: String, view: String,
              jk: String, a: Side, b: Side): DataFrame = {
    def live(s: Side) = SnapshotMaintainer.read(spark, warehouseDir, s.table)
    joinSides(live(a).withColumn(BucketCol, lit(0)),
        live(b).withColumn(BucketCol, lit(0)), jk)
      .drop(BucketCol)
  }

  private def joinSides(l: DataFrame, r: DataFrame, jk: String): DataFrame = {
    def prefixed(df: DataFrame, p: String) =
      df.columns.foldLeft(df) { (d, c) =>
        if (c == jk || c == BucketCol) d else d.withColumnRenamed(c, s"${p}_$c")
      }
    prefixed(l, "a").join(prefixed(r, "b"), Seq(jk, BucketCol))
  }
}
