package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase

class JoinMaintainerSpec extends SparkTestBase {
  import spark.implicits._

  // side A: orders(k pk, jk = customer, amount); side B: customers(c pk,
  // jk = customer id value, name) — a fact ⋈ dimension shape where the
  // FACT's join key can change (order reassigned to another customer)
  private def batchA(rows: (Long, String, String, Long, String)*): DataFrame =
    rows.toDF("k", "action", "update_date", "jk", "amount")
  private def batchB(rows: (Long, String, String, Long, String)*): DataFrame =
    rows.toDF("c", "action", "update_date", "jk", "name")

  private def sideA(b: Option[DataFrame]) = JoinMaintainer.Side("ta", Seq("k"), b)
  private def sideB(b: Option[DataFrame]) = JoinMaintainer.Side("tb", Seq("c"), b)

  private def maintain(wh: String, a: Option[DataFrame], b: Option[DataFrame]): Unit =
    JoinMaintainer.foldAndMaintain(spark, wh, "v", "jk", sideA(a), sideB(b),
      snapshotBuckets = 8, joinBuckets = 8)

  private def readView(wh: String): Set[(Long, Long, String, Long, String)] =
    JoinMaintainer.read(spark, wh, "v")
      .select("jk", "a_k", "a_amount", "b_c", "b_name")
      .as[(Long, Long, String, Long, String)].collect().toSet

  private def oracle(wh: String): Set[(Long, Long, String, Long, String)] =
    JoinMaintainer.rebuild(spark, wh, "v", "jk", sideA(None), sideB(None))
      .select("jk", "a_k", "a_amount", "b_c", "b_name")
      .as[(Long, Long, String, Long, String)].collect().toSet

  test("inserts, jk-moving update, delete: view equals from-scratch join") {
    val wh = "file:" + tmpDir("joinm-wh")
    maintain(wh,
      Some(batchA((1L, "insert", "2026-01-01T10:00:00", 100L, "a5"),
        (2L, "insert", "2026-01-01T10:00:00", 100L, "a7"),
        (3L, "insert", "2026-01-01T10:00:00", 200L, "a9"))),
      Some(batchB((100L, "insert", "2026-01-01T10:00:00", 100L, "alice"),
        (200L, "insert", "2026-01-01T10:00:00", 200L, "bob"))))
    assert(readView(wh) == Set(
      (100L, 1L, "a5", 100L, "alice"), (100L, 2L, "a7", 100L, "alice"),
      (200L, 3L, "a9", 200L, "bob")))
    assert(readView(wh) == oracle(wh))

    // order 1 moves to customer 200 — the stale (100, 1) row must go
    maintain(wh,
      Some(batchA((1L, "update", "2026-01-01T11:00:00", 200L, "a5v2"))), None)
    assert(readView(wh) == Set(
      (100L, 2L, "a7", 100L, "alice"),
      (200L, 1L, "a5v2", 200L, "bob"), (200L, 3L, "a9", 200L, "bob")))
    assert(readView(wh) == oracle(wh))

    // customer 200 deleted: every row joined through it disappears
    maintain(wh, None,
      Some(batchB((200L, "delete", "2026-01-01T12:00:00", 200L, "bob"))))
    assert(readView(wh) == Set((100L, 2L, "a7", 100L, "alice")))
    assert(readView(wh) == oracle(wh))
  }

  test("replay of a delivered batch leaves the view byte-identical") {
    val wh = "file:" + tmpDir("joinm-replay")
    val a1 = batchA((1L, "insert", "2026-01-01T10:00:00", 7L, "x"),
      (2L, "insert", "2026-01-01T10:00:00", 8L, "y"))
    val b1 = batchB((7L, "insert", "2026-01-01T10:00:00", 7L, "n7"),
      (8L, "insert", "2026-01-01T10:00:00", 8L, "n8"))
    maintain(wh, Some(a1), Some(b1))
    val first = readView(wh)
    maintain(wh, Some(a1), Some(b1)) // re-delivery
    assert(readView(wh) == first)
    assert(readView(wh) == oracle(wh))
  }

  test("multi-version batch: the pre-fold row is the stored row, never a batch row") {
    val wh = "file:" + tmpDir("joinm-multiversion")
    maintain(wh,
      Some(batchA((1L, "insert", "2026-01-01T10:00:00", 100L, "a1"),
        (2L, "insert", "2026-01-01T10:00:00", 100L, "a2"),
        (3L, "insert", "2026-01-01T12:00:00", 200L, "a3"))),
      Some(batchB((100L, "insert", "2026-01-01T10:00:00", 100L, "alice"),
        (200L, "insert", "2026-01-01T10:00:00", 200L, "bob"),
        (300L, "insert", "2026-01-01T10:00:00", 300L, "carol"))))
    maintain(wh,
      Some(batchA(
        // insert, update and delete of one new pk
        (5L, "insert", "2026-01-01T11:00:00", 100L, "a5"),
        (5L, "update", "2026-01-01T11:10:00", 200L, "a5v2"),
        (5L, "delete", "2026-01-01T11:20:00", 200L, "a5v2"),
        // a stored pk moves join keys through two batch versions
        (1L, "update", "2026-01-01T11:00:00", 200L, "a1v2"),
        (1L, "update", "2026-01-01T11:30:00", 300L, "a1v3"),
        // a version older than the stored row
        (3L, "update", "2026-01-01T11:00:00", 100L, "stale"))),
      None)
    assert(readView(wh) == Set(
      (100L, 2L, "a2", 100L, "alice"), (200L, 3L, "a3", 200L, "bob"),
      (300L, 1L, "a1v3", 300L, "carol")))
    assert(readView(wh) == oracle(wh))
  }

  test("a view added over snapshots that already hold rows starts from them") {
    val wh = "file:" + tmpDir("joinm-seed")
    // both snapshots are maintained before the view exists
    SnapshotMaintainer.update(spark, wh, "ta", batchA(
      (1L, "insert", "2026-01-01T10:00:00", 100L, "a1"),
      (2L, "insert", "2026-01-01T10:00:00", 200L, "a2")), Seq("k"), buckets = 8)
    SnapshotMaintainer.update(spark, wh, "tb", batchB(
      (100L, "insert", "2026-01-01T10:00:00", 100L, "alice"),
      (200L, "insert", "2026-01-01T10:00:00", 200L, "bob")), Seq("c"), buckets = 8)
    // the first maintained trigger changes side A only
    maintain(wh,
      Some(batchA((3L, "insert", "2026-01-01T11:00:00", 100L, "a3"))), None)
    assert(readView(wh) == Set(
      (100L, 1L, "a1", 100L, "alice"), (200L, 2L, "a2", 200L, "bob"),
      (100L, 3L, "a3", 100L, "alice")))
    assert(readView(wh) == oracle(wh))
    // the seeded side stores keep taking deltas
    maintain(wh, None,
      Some(batchB((200L, "update", "2026-01-01T12:00:00", 200L, "bobby"))))
    assert(readView(wh) == oracle(wh))
  }

  test("property: random batch sequences equal the from-scratch join") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val genOpA = for {
      k <- Gen.choose(1L, 8L); jk <- Gen.choose(1L, 4L)
      act <- Gen.frequency(4 -> Gen.const("update"), 1 -> Gen.const("delete"))
      v <- Gen.alphaChar.map(_.toString)
    } yield (k, act, jk, v)
    val genOpB = for {
      c <- Gen.choose(1L, 4L); act <- Gen.frequency(5 -> Gen.const("update"),
        1 -> Gen.const("delete"))
      v <- Gen.alphaChar.map(_.toString)
    } yield (c, act, c, v)
    // each trigger: a folded (≤ one row per key) batch per side
    val genTrigger = for {
      as <- Gen.listOf(genOpA).map(_.groupBy(_._1).values.map(_.head).toSeq)
      bs <- Gen.listOf(genOpB).map(_.groupBy(_._1).values.map(_.head).toSeq)
    } yield (as, bs)
    val genSeq = Gen.chooseNum(1, 4).flatMap(n => Gen.listOfN(n, genTrigger))
    var run = 0
    val prop = Prop.forAll(genSeq) { triggers =>
      run += 1
      val wh = "file:" + tmpDir(s"joinm-prop$run")
      triggers.zipWithIndex.foreach { case ((as, bs), i) =>
        val ts = f"2026-01-01T${10 + i}%02d:00:00"
        val ba = if (as.isEmpty) None else Some(batchA(
          as.map { case (k, act, jk, v) => (k, act, ts, jk, v) }: _*))
        val bb = if (bs.isEmpty) None else Some(batchB(
          bs.map { case (c, act, jk, v) => (c, act, ts, jk, v) }: _*))
        if (ba.isDefined || bb.isDefined) maintain(wh, ba, bb)
      }
      val dir = new org.apache.hadoop.fs.Path(JoinMaintainer.viewDir(wh, "v"))
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(dir)) true // no trigger produced joinable rows
      else readView(wh) == oracle(wh)
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(8)
      .withInitialSeed(org.scalacheck.rng.Seed(42L)), prop)
    assert(res.passed, res.status.toString)
  }
}
