package graft.cdc

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkTestBase
import graft.cdc.AggMaintainer.AggSpec
import graft.streaming.{SampleStream, SampleStreamConfig}

/** Crash-point sweep over [[BucketStore.swap]], the one rename-aside
  * behind every store directory the repo replaces in place. Each case
  * lays out a real store's pre-swap state plus what its writer staged,
  * crashes the swap at each of its file-system steps in turn
  * ([[FaultFs]]), runs the writer's recovery, and reads the store: it
  * must hold exactly the pre-swap rows or exactly the post-swap rows —
  * never a missing bucket, never a mix. */
class SwapCrashSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val conf = spark.sessionState.newHadoopConf()
  private lazy val faultFs = FaultFs.local(conf)
  private lazy val localFs = FileSystem.getLocal(conf)

  private val pk = Seq("id")
  private val spec = AggSpec("by_status", Seq("status"), Seq("amount"))

  private def batchDf(rows: (Long, String, String, String, Double)*): DataFrame =
    rows.toDF("id", "action", "update_date", "status", "amount")

  private def copy(from: String, to: String): Unit =
    FileUtils.copyDirectory(new File(from), new File(to))

  /** Every row of the parquet store at `dir`, partition columns included;
    * none if there is no store. */
  private def rows(dir: String): Set[Row] =
    if (!new File(dir).exists) Set.empty
    else spark.read.parquet(dir).collect().toSet

  /** Swap `target` for `staged` (paths relative to a fresh copy of
    * `template`), crashing at step 1, 2, … until a swap runs through.
    * After each crash, `recover` and `read` the copy: the rows must be
    * `pre` or `post`. Returns, per crash point, whether it read `post`. */
  private def sweep(template: String, target: String, staged: Option[String],
                    aside: String, pre: Set[Row], post: Set[Row])
                   (recover: String => Unit, read: String => Set[Row]): Seq[Boolean] = {
    assert(pre != post, "a sweep needs a swap that changes the store")
    Iterator.from(1).map { n =>
      val work = tmpDir("swap-crash")
      copy(template, work)
      def at(rel: String) = new Path(s"$work/$rel")
      val crashed = FaultFs.withFaults(_.n == n)(
        BucketStore.swap(faultFs, at(target), staged.map(at), at(aside)))
      recover(work)
      val got = read(work)
      assert(got == pre || got == post,
        s"crash at step $n: read $got, expected the pre-swap $pre or the post-swap $post")
      if (!crashed) assert(got == post, "a swap that ran through reads the post-swap rows")
      (crashed, got == post)
    }.takeWhile(_._1).map(_._2).toSeq
  }

  test("a bucket replace crashed at any step recovers the pre- or the post-swap bucket") {
    val (pre, post, template) = (tmpDir("sc-pre"), tmpDir("sc-post"), tmpDir("sc-tpl"))
    SnapshotMaintainer.update(spark, pre, "t", batchDf(
      (1 to 6).map(i => (i.toLong, "insert", "2026-01-01T10:00:00", "open", i.toDouble)): _*),
      pk, buckets = 4)
    copy(pre, post)
    SnapshotMaintainer.update(spark, post, "t", batchDf(
      (1L, "update", "2026-01-01T11:00:00", "done", 9.0)), pk, buckets = 4)
    val (preStore, postStore) =
      (SnapshotMaintainer.snapshotDir(pre, "t"), SnapshotMaintainer.snapshotDir(post, "t"))
    val b = spark.read.parquet(preStore).filter($"id" === 1L)
      .select(BucketStore.BucketCol).as[Int].head()
    // the store before the swap, and what the fold staged for bucket b
    copy(preStore, s"$template/store")
    copy(s"$postStore/__bucket=$b", s"$template/store/.__fold_tmp/__bucket=$b")

    val outcomes = sweep(template, s"store/__bucket=$b",
        Some(s"store/.__fold_tmp/__bucket=$b"), s"store/.__swap_$b",
        rows(preStore), rows(postStore))(
      work => BucketStore.readTouched(spark, s"$work/store", Seq(b)),
      work => rows(s"$work/store"))
    // stale-aside delete, rename-aside, rename-in: the pre-swap bucket
    // (put back from its aside after the rename-in fails); then the
    // final aside delete, after the new bucket is in
    assert(outcomes == Seq(false, false, false, true))
  }

  test("an aggregate bucket whose groups cancel to zero is removed or kept whole at any crash") {
    val (pre, post, template) = (tmpDir("sc-pre"), tmpDir("sc-post"), tmpDir("sc-tpl"))
    AggMaintainer.foldAndMaintain(spark, pre, "t", batchDf(
      (1L, "insert", "2026-01-01T10:00:00", "open", 10.0),
      (2L, "insert", "2026-01-01T10:00:00", "done", 5.0)), pk, Seq(spec))
    copy(pre, post)
    // group `open` cancels to zero: the fold stages no rows for its bucket
    AggMaintainer.foldAndMaintain(spark, post, "t", batchDf(
      (1L, "delete", "2026-01-01T11:00:00", null, 0.0)), pk, Seq(spec))
    val (preStore, postStore) =
      (AggMaintainer.aggDir(pre, "t", spec.name), AggMaintainer.aggDir(post, "t", spec.name))
    def bucketOf(status: String) = spark.read.parquet(preStore)
      .filter($"status" === status).select("__gbucket").as[Int].head()
    val b = bucketOf("open")
    assert(b != bucketOf("done"), "the cancelled group needs a bucket of its own")
    assert(!new File(s"$postStore/__gbucket=$b").exists, "the fold removed the emptied bucket")
    copy(preStore, s"$template/store")

    val outcomes = sweep(template, s"store/__gbucket=$b", None, s"store/.__swap_$b",
        rows(preStore), rows(postStore))(
      work => BucketStore.readTouched(spark, s"$work/store", Seq(b), "__gbucket"),
      work => rows(s"$work/store"))
    // a removal is complete only once the swap runs through: a crash
    // after the rename-aside leaves the aside, which recovery puts back
    assert(outcomes == Seq(false, false, false))
  }

  test("a whole-dir swap crashed at any step recovers the pre- or the post-swap reservoir") {
    val (pre, post, template) = (tmpDir("sc-pre"), tmpDir("sc-post"), tmpDir("sc-tpl"))
    def cfg(store: String) = SampleStreamConfig(tmpDir("sc-in"), store, tmpDir("sc-ck"),
      Seq((0L, "", 0L)).toDF("doc_id", "lang", "weight").schema,
      strataCol = "lang", weightCol = "weight", k = 3)
    def batch(ids: Range) = ids.map(i => (i.toLong, if (i % 2 == 0) "en" else "de", 1L + i * 7L % 50L))
      .toDF("doc_id", "lang", "weight")
    SampleStream.processBatch(batch(0 until 20), 0L, cfg(pre))
    copy(pre, post)
    SampleStream.processBatch(batch(20 until 60), 1L, cfg(post))
    def sample(store: String) = SampleStream.readSample(spark, store).collect().toSet
    copy(pre, template)
    copy(s"$post/_reservoir", s"$template/.__res_tmp")

    val outcomes = sweep(template, "_reservoir", Some(".__res_tmp"), ".__swap__reservoir",
        sample(pre), sample(post))(
      // the writer's first step before it reads the reservoir it folds
      work => BucketStore.recover(localFs, new Path(s"$work/_reservoir"),
        BucketStore.dirAside(new Path(s"$work/_reservoir"))),
      sample)
    assert(outcomes == Seq(false, false, false, true))
  }

  test("a store seed crashed at any step leaves no store or the whole seeded store") {
    val (pre, post, template) = (tmpDir("sc-pre"), tmpDir("sc-post"), tmpDir("sc-tpl"))
    SnapshotMaintainer.update(spark, pre, "t", batchDf(
      (1L, "insert", "2026-01-01T10:00:00", "open", 10.0),
      (2L, "insert", "2026-01-01T10:00:00", "done", 5.0)), pk)
    copy(pre, post)
    // a spec added over a snapshot that holds rows: its store is seeded
    AggMaintainer.foldAndMaintain(spark, post, "t", batchDf(
      (3L, "insert", "2026-01-01T11:00:00", "open", 1.0)), pk, Seq(spec))
    val postStore = AggMaintainer.aggDir(post, "t", spec.name)
    copy(postStore, s"$template/agg/.__seed_${spec.name}")

    val outcomes = sweep(template, s"agg/${spec.name}", Some(s"agg/.__seed_${spec.name}"),
        s"agg/.__swap_${spec.name}", Set.empty, rows(postStore))(
      work => BucketStore.recover(localFs, new Path(s"$work/agg/${spec.name}"),
        BucketStore.dirAside(new Path(s"$work/agg/${spec.name}"))),
      work => rows(s"$work/agg/${spec.name}"))
    // stale-aside delete, rename-in: no store; then the final delete
    assert(outcomes == Seq(false, false, true))
  }
}
