package graft.cdc

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.cdc.AggMaintainer.AggSpec

/** Incrementally-maintained GROUP BY over the maintained snapshot. The
  * oracle everywhere: the maintained table must equal the from-scratch
  * aggregate of the current snapshot, bit-for-bit (decimal sums). */
class AggMaintainerSpec extends SparkTestBase {
  import spark.implicits._

  private val pk = Seq("id")
  private val spec = AggSpec("by_status", Seq("status"), Seq("amount"))

  private def batchDf(rows: (Long, String, String, String, Double)*): DataFrame =
    rows.toDF("id", "action", "update_date", "status", "amount")

  private def maintained(wh: String): Map[String, (Long, java.math.BigDecimal)] =
    AggMaintainer.read(spark, wh, "t", "by_status")
      .select("status", "n_rows", "sum_amount")
      .as[(String, Long, java.math.BigDecimal)].collect()
      .map { case (s, n, a) => s -> ((n, a)) }.toMap

  private def recomputed(wh: String): Map[String, (Long, java.math.BigDecimal)] =
    SnapshotMaintainer.read(spark, wh, "t")
      .groupBy("status")
      .agg(count(lit(1)).as("n"), sum($"amount".cast("decimal(38,8)")).as("s"))
      .as[(String, Long, java.math.BigDecimal)].collect()
      .map { case (s, n, a) => s -> ((n, a)) }.toMap

  private def check(wh: String, hint: String): Unit = {
    val m = maintained(wh); val r = recomputed(wh)
    assert(m == r, s"$hint: maintained $m != recomputed $r")
  }

  test("inserts, group-moving updates, and deletes maintain the aggregate exactly") {
    val wh = "file:" + tmpDir("aggm-wh")
    AggMaintainer.foldAndMaintain(spark, wh, "t", batchDf(
      (1L, "insert", "2026-01-01T10:00:00", "open", 10.0),
      (2L, "insert", "2026-01-01T10:00:00", "open", 20.0),
      (3L, "insert", "2026-01-01T10:00:00", "done", 5.0)), pk, Seq(spec))
    check(wh, "after inserts")
    assert(maintained(wh)("open")._1 == 2L)

    // update moves pk 1 open -> done AND changes its amount
    AggMaintainer.foldAndMaintain(spark, wh, "t", batchDf(
      (1L, "update", "2026-01-01T11:00:00", "done", 12.5),
      (4L, "insert", "2026-01-01T11:00:00", "open", 40.0)), pk, Seq(spec))
    check(wh, "after group-moving update")
    assert(maintained(wh)("done")._1 == 2L)

    // delete removes pk 2's contribution; group 'open' shrinks to 1
    AggMaintainer.foldAndMaintain(spark, wh, "t", batchDf(
      (2L, "delete", "2026-01-01T12:00:00", null, 0.0)), pk, Seq(spec))
    check(wh, "after delete")
    assert(maintained(wh)("open")._1 == 1L)

    // a group whose last member leaves disappears from the store
    AggMaintainer.foldAndMaintain(spark, wh, "t", batchDf(
      (4L, "delete", "2026-01-01T13:00:00", null, 0.0)), pk, Seq(spec))
    check(wh, "after emptying a group")
    assert(!maintained(wh).contains("open"))
  }

  test("replayed micro-batch applies a zero delta (idempotent with the fold)") {
    val wh = "file:" + tmpDir("aggm-replay")
    val b1 = batchDf(
      (1L, "insert", "2026-01-01T10:00:00", "open", 10.0),
      (2L, "insert", "2026-01-01T10:00:00", "done", 20.0))
    val b2 = batchDf((1L, "update", "2026-01-01T11:00:00", "open", 15.0))
    AggMaintainer.foldAndMaintain(spark, wh, "t", b1, pk, Seq(spec))
    AggMaintainer.foldAndMaintain(spark, wh, "t", b2, pk, Seq(spec))
    val before = maintained(wh)
    // at-least-once delivery: the same batch arrives again
    AggMaintainer.foldAndMaintain(spark, wh, "t", b2, pk, Seq(spec))
    assert(maintained(wh) == before)
    check(wh, "after replay")
  }

  test("rebuild equals the incrementally-maintained table") {
    val wh = "file:" + tmpDir("aggm-rebuild")
    AggMaintainer.foldAndMaintain(spark, wh, "t", batchDf(
      (1L to 30L).map(i =>
        (i, "insert", "2026-01-01T10:00:00", if (i % 3 == 0) "a" else "b",
          i.toDouble)): _*), pk, Seq(spec))
    AggMaintainer.foldAndMaintain(spark, wh, "t", batchDf(
      (5L, "delete", "2026-01-01T11:00:00", null, 0.0),
      (6L, "update", "2026-01-01T11:00:00", "a", 66.0)), pk, Seq(spec))
    val incremental = maintained(wh)
    AggMaintainer.rebuild(spark, wh, "t", spec)
    assert(maintained(wh) == incremental)
  }

  test("late data: an older-timestamped batch after a newer one applies no stale delta") {
    val wh = "file:" + tmpDir("aggm-late")
    // the NEWER event arrives first: pk 1 moves to done at t=12:00
    AggMaintainer.foldAndMaintain(spark, wh, "t", batchDf(
      (1L, "insert", "2026-01-01T10:00:00", "open", 10.0),
      (2L, "insert", "2026-01-01T10:00:00", "open", 20.0)), pk, Seq(spec))
    AggMaintainer.foldAndMaintain(spark, wh, "t", batchDf(
      (1L, "update", "2026-01-01T12:00:00", "done", 99.0)), pk, Seq(spec))
    val settled = maintained(wh)

    // the LATE batch (t=11:00 < 12:00) tries to move pk 1 back and
    // change its amount: the fold keeps the newer version, so pre == post
    // and the aggregate must not move — neither group counts nor sums
    AggMaintainer.foldAndMaintain(spark, wh, "t", batchDf(
      (1L, "update", "2026-01-01T11:00:00", "open", 1000.0)), pk, Seq(spec))
    assert(maintained(wh) == settled, "stale event must apply a zero delta")
    check(wh, "after late event")

    // a late DELETE below the settled version must not remove the key
    AggMaintainer.foldAndMaintain(spark, wh, "t", batchDf(
      (1L, "delete", "2026-01-01T11:30:00", null, 0.0)), pk, Seq(spec))
    assert(maintained(wh) == settled, "stale delete must apply a zero delta")
    check(wh, "after late delete")
  }

  test("shuffled batch order converges: store equals rebuild and in-order delivery") {
    val batches = Seq(
      batchDf(
        (1L, "insert", "2026-01-01T10:00:00", "open", 10.0),
        (2L, "insert", "2026-01-01T10:00:00", "done", 20.0),
        (3L, "insert", "2026-01-01T10:00:00", "open", 30.0)),
      batchDf(
        (1L, "update", "2026-01-01T11:00:00", "done", 11.0),
        (3L, "delete", "2026-01-01T11:00:00", null, 0.0)),
      batchDf(
        (2L, "update", "2026-01-01T12:00:00", "open", 22.0),
        (4L, "insert", "2026-01-01T12:00:00", "done", 40.0)))

    def deliver(order: Seq[Int]): Map[String, (Long, java.math.BigDecimal)] = {
      val wh = "file:" + tmpDir(s"aggm-order-${order.mkString}")
      order.foreach(i =>
        AggMaintainer.foldAndMaintain(spark, wh, "t", batches(i), pk, Seq(spec)))
      check(wh, s"delivery order $order")                 // == recompute
      val incremental = maintained(wh)
      AggMaintainer.rebuild(spark, wh, "t", spec)
      assert(maintained(wh) == incremental, s"rebuild diverged for order $order")
      incremental
    }

    val inOrder = deliver(Seq(0, 1, 2))
    assert(deliver(Seq(2, 0, 1)) == inOrder)
    assert(deliver(Seq(1, 2, 0)) == inOrder)
  }

  test("NULL group keys match themselves across batches (null-safe delta/merge)") {
    val wh = "file:" + tmpDir("aggm-null")
    // batch 1 creates a NULL-category group; batch 2 touches it again
    // (update of a pk staying in the null group) — an equi-join delta
    // would fail to match null-vs-null and emit duplicate group rows
    AggMaintainer.foldAndMaintain(spark, wh, "t", batchDf(
      (1L, "insert", "2026-01-01T10:00:00", null, 10.0),
      (2L, "insert", "2026-01-01T10:00:00", null, 20.0)), pk, Seq(spec))
    AggMaintainer.foldAndMaintain(spark, wh, "t", batchDf(
      (1L, "update", "2026-01-01T11:00:00", null, 15.0)), pk, Seq(spec))
    val rows = AggMaintainer.read(spark, wh, "t", "by_status")
      .select("status", "n_rows", "sum_amount")
      .as[(String, Long, java.math.BigDecimal)].collect().toSeq
    assert(rows.size == 1, s"null group must stay ONE row, got $rows")
    assert(rows.head._2 == 2L)
    assert(rows.head._3 == new java.math.BigDecimal("35.00000000"))
    check(wh, "null group")
  }

  test("multiple aggregate specs maintain independently") {
    val wh = "file:" + tmpDir("aggm-multi")
    val global = AggSpec("global", Seq.empty, Seq("amount"))
    // a grouping by a COMPOSITE key incl. the pk side column
    AggMaintainer.foldAndMaintain(spark, wh, "t", batchDf(
      (1L, "insert", "2026-01-01T10:00:00", "open", 10.0),
      (2L, "insert", "2026-01-01T10:00:00", "done", 20.0)),
      pk, Seq(spec, global))
    AggMaintainer.foldAndMaintain(spark, wh, "t", batchDf(
      (2L, "delete", "2026-01-01T11:00:00", null, 0.0)),
      pk, Seq(spec, global))
    check(wh, "by_status after two batches")
    val g = AggMaintainer.read(spark, wh, "t", "global")
      .select("n_rows", "sum_amount")
      .as[(Long, java.math.BigDecimal)].collect().toSeq
    assert(g.map(_._1) == Seq(1L))
    assert(g.head._2 == new java.math.BigDecimal("10.00000000"))
  }

  test("replay after a crash mid-swap reads the recovered bucket as the pre-fold state") {
    val wh = "file:" + tmpDir("aggm-swapcrash")
    AggMaintainer.foldAndMaintain(spark, wh, "t", batchDf(
      (1L, "insert", "2026-01-01T10:00:00", "a", 1.0),
      (2L, "insert", "2026-01-01T10:00:00", "a", 2.0)), pk, Seq(spec))
    // a crash between a swap's rename-aside and rename-in leaves k1's
    // snapshot bucket only as its `.__swap_<b>` sibling
    val snap = SnapshotMaintainer.snapshotDir(wh, "t")
    val b = spark.read.parquet(snap).filter($"id" === 1L)
      .select("__bucket").as[Int].head()
    val root = java.nio.file.Paths.get(new java.net.URI(snap))
    java.nio.file.Files.move(root.resolve(s"__bucket=$b"), root.resolve(s".__swap_$b"))
    // the replayed trigger moves k1 to group b
    AggMaintainer.foldAndMaintain(spark, wh, "t", batchDf(
      (1L, "update", "2026-01-01T11:00:00", "b", 1.0)), pk, Seq(spec))
    check(wh, "after replay over a half-swapped snapshot")
    val incremental = maintained(wh)
    AggMaintainer.rebuild(spark, wh, "t", spec)
    assert(maintained(wh) == incremental)
  }

  test("an aggregate spec added over a snapshot that already has rows starts from it") {
    val wh = "file:" + tmpDir("aggm-seed")
    // the snapshot is maintained before the spec exists (a restarted
    // stream with a new aggSpecs entry)
    SnapshotMaintainer.update(spark, wh, "t", batchDf(
      (1L, "insert", "2026-01-01T10:00:00", "open", 10.0),
      (2L, "insert", "2026-01-01T10:00:00", "open", 20.0)), pk)
    AggMaintainer.foldAndMaintain(spark, wh, "t", batchDf(
      (2L, "delete", "2026-01-01T11:00:00", null, 0.0),
      (3L, "insert", "2026-01-01T11:00:00", "done", 5.0)), pk, Seq(spec))
    check(wh, "after the first maintained batch")
    assert(maintained(wh)("open") == ((1L, new java.math.BigDecimal("10.00000000"))))
    // the seeded store keeps taking deltas
    AggMaintainer.foldAndMaintain(spark, wh, "t", batchDf(
      (1L, "update", "2026-01-01T12:00:00", "done", 1.0)), pk, Seq(spec))
    check(wh, "after a delta on the seeded store")
    val incremental = maintained(wh)
    AggMaintainer.rebuild(spark, wh, "t", spec)
    assert(maintained(wh) == incremental)
  }

  test("8-fractional-digit amounts keep their last digit through moves and deletes") {
    val wh = "file:" + tmpDir("aggm-scale")
    AggMaintainer.foldAndMaintain(spark, wh, "t", batchDf(
      (1L, "insert", "2026-01-01T10:00:00", "open", 0.00000001),
      (2L, "insert", "2026-01-01T10:00:00", "open", 0.00000003),
      (3L, "insert", "2026-01-01T10:00:00", "done", 0.00000005)), pk, Seq(spec))
    check(wh, "after inserts")
    assert(maintained(wh)("open")._2 == new java.math.BigDecimal("0.00000004"))
    // pk 1 moves open -> done with a new amount; pk 3 is deleted
    AggMaintainer.foldAndMaintain(spark, wh, "t", batchDf(
      (1L, "update", "2026-01-01T11:00:00", "done", 0.00000007),
      (3L, "delete", "2026-01-01T11:00:00", null, 0.0)), pk, Seq(spec))
    check(wh, "after a move and a delete")
    assert(maintained(wh) == Map(
      "open" -> ((1L, new java.math.BigDecimal("0.00000003"))),
      "done" -> ((1L, new java.math.BigDecimal("0.00000007")))))
  }

  test("a group whose live amounts are all NULL reads a NULL sum, not 0") {
    val wh = "file:" + tmpDir("aggm-null-sum")
    def b(rows: (Long, String, String, String, Option[Double])*): DataFrame =
      rows.toDF("id", "action", "update_date", "status", "amount")
    AggMaintainer.foldAndMaintain(spark, wh, "t", b(
      (1L, "insert", "2026-01-01T10:00:00", "g", None)), pk, Seq(spec))
    check(wh, "after a NULL-amount insert")
    AggMaintainer.foldAndMaintain(spark, wh, "t", b(
      (2L, "insert", "2026-01-01T11:00:00", "g", Some(5.0))), pk, Seq(spec))
    check(wh, "after a non-NULL insert")
    // +5 then −5 cancels the sum to 0, but no non-NULL value is left
    AggMaintainer.foldAndMaintain(spark, wh, "t", b(
      (2L, "delete", "2026-01-01T12:00:00", null, None)), pk, Seq(spec))
    check(wh, "after deleting the only non-NULL amount")
    assert(maintained(wh) == Map("g" -> ((1L, null))))
    val cols = AggMaintainer.read(spark, wh, "t", "by_status").columns.toSeq
    assert(cols == Seq("status", "n_rows", "sum_amount"), cols)
    // rebuild writes the columns the maintained path reads
    AggMaintainer.rebuild(spark, wh, "t", spec)
    assert(maintained(wh) == Map("g" -> ((1L, null))))
    assert(AggMaintainer.read(spark, wh, "t", "by_status").columns.toSeq == cols)
  }

  test("a store written without the nn_ columns is reseeded on its next fold") {
    val wh = "file:" + tmpDir("aggm-old-store")
    AggMaintainer.foldAndMaintain(spark, wh, "t", batchDf(
      (1L, "insert", "2026-01-01T10:00:00", "g", 5.0),
      (2L, "insert", "2026-01-01T10:00:00", "h", 3.0)), pk, Seq(spec))
    // rewrite the store in the earlier layout: the same rows, no nn_amount
    val dir = AggMaintainer.aggDir(wh, "t", spec.name)
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    spark.read.parquet(dir).drop("nn_amount")
      .write.partitionBy("__gbucket").parquet(dir + "_old")
    assert(fs.delete(new Path(dir), true) && fs.rename(new Path(dir + "_old"), new Path(dir)))
    assert(!spark.read.parquet(dir).columns.contains("nn_amount"))
    // an update inside one group: n_rows +0, sum +2, no non-NULL change
    AggMaintainer.foldAndMaintain(spark, wh, "t", batchDf(
      (1L, "update", "2026-01-01T11:00:00", "g", 7.0)), pk, Seq(spec))
    check(wh, "after the first fold over the earlier layout")
    assert(maintained(wh) == Map(
      "g" -> ((1L, new java.math.BigDecimal("7.00000000"))),
      "h" -> ((1L, new java.math.BigDecimal("3.00000000")))))
    assert(spark.read.parquet(dir).columns.contains("nn_amount"))
  }

  test("multi-version batch: the pre-fold row is the stored row, never a batch row") {
    val wh = "file:" + tmpDir("aggm-multiversion")
    AggMaintainer.foldAndMaintain(spark, wh, "t", batchDf(
      (1L, "insert", "2026-01-01T10:00:00", "open", 10.0),
      (2L, "insert", "2026-01-01T10:00:00", "open", 20.0),
      (3L, "insert", "2026-01-01T12:00:00", "done", 30.0)), pk, Seq(spec))
    AggMaintainer.foldAndMaintain(spark, wh, "t", batchDf(
      // insert, update and delete of one new pk
      (5L, "insert", "2026-01-01T11:00:00", "open", 50.0),
      (5L, "update", "2026-01-01T11:10:00", "done", 55.0),
      (5L, "delete", "2026-01-01T11:20:00", null, 0.0),
      // a stored pk moves groups through two batch versions
      (1L, "update", "2026-01-01T11:00:00", "open", 11.0),
      (1L, "update", "2026-01-01T11:30:00", "done", 12.0),
      // a version older than the stored row
      (3L, "update", "2026-01-01T11:00:00", "open", 999.0)), pk, Seq(spec))
    check(wh, "after the multi-version batch")
    assert(maintained(wh) == Map(
      "open" -> ((1L, new java.math.BigDecimal("20.00000000"))),
      "done" -> ((2L, new java.math.BigDecimal("42.00000000")))))
    val incremental = maintained(wh)
    AggMaintainer.rebuild(spark, wh, "t", spec)
    assert(maintained(wh) == incremental)
  }

  /** Spark jobs `body` runs, counted through the status tracker. The
    * status store applies listener events in order, so once a marker
    * job run after `body` shows, every job of `body` has too. */
  private def jobsOf(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    def inGroup(g: String)(f: => Unit): Unit = {
      sc.setJobGroup(g, g)
      try f finally sc.clearJobGroup()
    }
    inGroup(group)(body)
    inGroup(s"$group-marker")(sc.parallelize(Seq(1), 1).count(): Unit)
    val deadline = System.currentTimeMillis() + 30000
    while (sc.statusTracker.getJobIdsForGroup(s"$group-marker").isEmpty &&
           System.currentTimeMillis() < deadline) Thread.sleep(10)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  test("one fold + aggregate step stays under its Spark-job ceiling") {
    val wh = "file:" + tmpDir("aggm-jobs")
    // warm-up: creates the snapshot and aggregate stores
    AggMaintainer.foldAndMaintain(spark, wh, "t", batchDf(
      (1L to 20L).map(i => (i, "insert", "2026-01-01T10:00:00",
        if (i % 2 == 0) "open" else "done", i.toDouble)): _*), pk, Seq(spec))
    val jobs = jobsOf("aggm-jobs") {
      AggMaintainer.foldAndMaintain(spark, wh, "t", batchDf(
        (1L, "update", "2026-01-01T11:00:00", "open", 1.5),
        (2L, "delete", "2026-01-01T11:00:00", null, 0.0),
        (30L, "insert", "2026-01-01T11:00:00", "done", 3.0)), pk, Seq(spec))
    }
    check(wh, "after the counted step")
    // one touched-bucket read and a bucket-local merge: 8 jobs here (the
    // touched-bucket job, the fold's one shuffle, its two-job checkpoint and
    // staged write, the group-bucket job, the merge's one shuffle and
    // staged write); the form that shuffled each store twice ran 15, the
    // one that re-read the buckets for the pre- and post-fold rows 26
    assert(jobs <= 10, s"fold + aggregate ran $jobs Spark jobs")
  }
}
