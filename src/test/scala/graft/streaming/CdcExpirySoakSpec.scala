package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.cdc.{AggMaintainer, Fixtures, Ingest, SnapshotMaintainer, Versioned}

/** In-stream history retention (CdcStreamConfig.expireEveryNBatches) and
  * the everything-on soak: snapshot folds + maintained aggregates +
  * compaction + expiry concurrently in ONE stream, checked against an
  * untouched-changelog run. The RetentionSpec invariant — every asOf /
  * changesBetween at or after the horizon unchanged — must hold when
  * expiry runs from inside foreachBatch over a live warehouse. */
class CdcExpirySoakSpec extends SparkTestBase {

  private def ts(hour: Int, ms: Int = 0): String =
    f"2026-01-01T$hour%02d:${ms / 60000}%02d:${ms / 1000 % 60}%02d.${ms % 1000}%03dZ"

  // ---- small stream, both update_date registry types ----

  private def mkFile(i: Int): Seq[String] = Seq(
    Fixtures.envelope("products", ts(10 + i), if (i == 0) "insert" else "update",
      s"""{"product_id":"p${i % 2}","category":"c$i","weight_g":${100 + i}.0,"photos_qty":$i}"""),
    Fixtures.envelope("users", ts(10 + i), if (i == 0) "insert" else "update",
      s"""{"user_id":${i % 3},"email":"u$i@x.io","balance":$i.5}"""))

  test("expireEveryNBatches: asOf/changesBetween at/after horizon unchanged, history bounded") {
    val in = tmpDir("exp-in")
    val whE = tmpDir("exp-wh"); val ckE = tmpDir("exp-ck")
    val whP = tmpDir("exp-wh-plain"); val ckP = tmpDir("exp-ck-plain")
    (0 until 12).foreach(i =>
      Fixtures.writeLines(in, f"log-$i%03d.jsonl", mkFile(i), gzip = false))

    val base = CdcStreamConfig(in, whE, ckE, Fixtures.registry, maxFilesPerTrigger = 1)
    // expiry at batches 4 and 8; last horizon = max(ts of batches <= 7)
    // - 2h = 17:00 - 2h = 15:00
    CdcStream.runOnce(spark, base.copy(expireEveryNBatches = 4,
      expire = Map(
        "users" -> ExpirePolicy("2 hours", Seq("user_id")),
        "products" -> ExpirePolicy("2 hours", Seq("product_id")))))
    CdcStream.runOnce(spark, base.copy(warehouseDir = whP, checkpointDir = ckP))

    def changelog(wh: String, table: String) =
      Ingest.readTable(spark, wh, Fixtures.registry(table))
        .withColumn("update_date", col("update_date").cast("timestamp"))

    for (table <- Seq("users", "products");
         pk = if (table == "users") Seq("user_id") else Seq("product_id")) {
      val e = changelog(whE, table); val p = changelog(whP, table)
      assert(e.count() < p.count(),
        s"$table: expiry must actually collapse history (${e.count()} vs ${p.count()})")

      // full-history queries FORFEITED before the horizon — but identical
      // at/after it, and the current snapshot identical always
      val snapE = Versioned.latestSnapshot(e, pk).orderBy(pk.map(col): _*)
      val snapP = Versioned.latestSnapshot(p, pk).orderBy(pk.map(col): _*)
      assert(snapE.collect().toSeq == snapP.collect().toSeq, s"$table: snapshot diverged")

      for (h <- Seq("15:00:00", "16:30:00", "21:00:00")) {
        val t = lit(s"2026-01-01T$h").cast("timestamp")
        val a = Versioned.asOf(e, t, pk).orderBy(pk.map(col): _*).collect().toSeq
        val b = Versioned.asOf(p, t, pk).orderBy(pk.map(col): _*).collect().toSeq
        assert(a == b, s"$table: asOf($h) diverged after in-stream expiry")
      }
      val (t1, t2) = (lit("2026-01-01T15:00:00").cast("timestamp"),
        lit("2026-01-01T20:00:00").cast("timestamp"))
      val cE = Versioned.changesBetween(e, t1, t2).orderBy((pk :+ "update_date").map(col): _*)
      val cP = Versioned.changesBetween(p, t1, t2).orderBy((pk :+ "update_date").map(col): _*)
      assert(cE.collect().toSeq == cP.collect().toSeq, s"$table: changesBetween diverged")
    }
  }

  test("compaction and expiry due on the same trigger: one rewrite, same answers") {
    val in = tmpDir("expc-in")
    val whE = tmpDir("expc-wh"); val ckE = tmpDir("expc-ck")
    val whP = tmpDir("expc-wh-plain"); val ckP = tmpDir("expc-ck-plain")
    (0 until 12).foreach(i =>
      Fixtures.writeLines(in, f"log-$i%03d.jsonl", mkFile(i), gzip = false))

    val base = CdcStreamConfig(in, whE, ckE, Fixtures.registry, maxFilesPerTrigger = 1)
    // both schedules fire at batches 2, 4, …, 10; the last horizon is
    // max(ts of batches <= 9) - 2h = 19:00 - 2h = 17:00
    CdcStream.runOnce(spark, base.copy(compactEveryNBatches = 2,
      expireEveryNBatches = 2,
      expire = Map(
        "users" -> ExpirePolicy("2 hours", Seq("user_id")),
        "products" -> ExpirePolicy("2 hours", Seq("product_id")))))
    CdcStream.runOnce(spark, base.copy(warehouseDir = whP, checkpointDir = ckP))

    def changelog(wh: String, table: String) =
      Ingest.readTable(spark, wh, Fixtures.registry(table))
        .withColumn("update_date", col("update_date").cast("timestamp"))

    for (table <- Seq("users", "products");
         pk = if (table == "users") Seq("user_id") else Seq("product_id")) {
      val dirs = new java.io.File(s"$whE/${Fixtures.registry(table).physicalName}")
        .listFiles().toSeq.map(_.getName).filter(_.startsWith("batch=")).sorted
      assert(dirs == Seq("batch=-1", "batch=10", "batch=11"),
        s"$table: batches <= 9 must sit in batch=-1 after the last rewrite: $dirs")
      val e = changelog(whE, table); val p = changelog(whP, table)
      assert(e.count() < p.count(),
        s"$table: expiry must actually collapse history (${e.count()} vs ${p.count()})")
      for (h <- Seq("17:00:00", "18:30:00", "21:00:00")) {
        val t = lit(s"2026-01-01T$h").cast("timestamp")
        val a = Versioned.asOf(e, t, pk).orderBy(pk.map(col): _*).collect().toSeq
        val b = Versioned.asOf(p, t, pk).orderBy(pk.map(col): _*).collect().toSeq
        assert(a == b, s"$table: asOf($h) diverged")
      }
      val (t1, t2) = (lit("2026-01-01T17:00:00").cast("timestamp"),
        lit("2026-01-01T21:00:00").cast("timestamp"))
      val cE = Versioned.changesBetween(e, t1, t2).orderBy((pk :+ "update_date").map(col): _*)
      val cP = Versioned.changesBetween(p, t1, t2).orderBy((pk :+ "update_date").map(col): _*)
      assert(cE.collect().toSeq == cP.collect().toSeq, s"$table: changesBetween diverged")
    }
  }

  // ---- everything-on soak: folds + aggs + compaction + expiry, 200k envelopes ----

  private val SoakKeys = 5000
  private val PerFile = 12500
  private val Files = 16

  private def soakFile(i: Int): Seq[String] =
    (0 until PerFile).map { r =>
      val key = (i * 31 + r) % SoakKeys // every file touches many keys
      val action =
        if (i == 0) "insert"
        else if ((key + i) % 17 == 0) "delete"
        else "update"
      val payload =
        if (action == "delete") s"""{"user_id":$key}"""
        else s"""{"user_id":$key,"email":"u$key-$i@x.io","balance":${(key % 97)}.${i}5}"""
      Fixtures.envelope("users", ts(i, r), action, payload)
    }

  test("soak: folds + aggregates + compaction + expiry concurrently stay consistent") {
    val in = tmpDir("soak-in")
    val whS = tmpDir("soak-wh"); val ckS = tmpDir("soak-ck")
    val whP = tmpDir("soak-wh-plain"); val ckP = tmpDir("soak-ck-plain")
    (0 until Files).foreach(i =>
      Fixtures.writeLines(in, f"log-$i%03d.jsonl", soakFile(i), gzip = false))

    val globalAgg = AggMaintainer.AggSpec("global", Seq.empty, Seq("balance"))
    val base = CdcStreamConfig(in, whS, ckS, Fixtures.registry,
      maxFilesPerTrigger = 2, partitionByDate = true,
      snapshotKeys = Map("users" -> Seq("user_id")))
    // 8 triggers: compaction at batches 3 and 6, expiry at batch 4
    // (horizon = 07:xx - 2h), folds + agg maintenance every trigger
    CdcStream.runOnce(spark, base.copy(
      aggSpecs = Map("users" -> Seq(globalAgg)),
      compactEveryNBatches = 3,
      expireEveryNBatches = 4,
      expire = Map("users" -> ExpirePolicy("2 hours", Seq("user_id")))))
    CdcStream.runOnce(spark, base.copy(warehouseDir = whP, checkpointDir = ckP))

    val phys = Fixtures.registry("users").physicalName
    val batchDirs = new java.io.File(s"$whS/$phys").listFiles().toSeq
      .map(_.getName).filter(_.startsWith("batch="))
    assert(batchDirs.contains("batch=-1") && batchDirs.size <= 4,
      s"maintenance must bound the dir count, got $batchDirs")

    // invariant 1: the maintained snapshot equals the one the untouched
    // run maintained (folds undisturbed by concurrent compaction/expiry)
    val cols = Seq("user_id", "email", "balance", "update_date")
    val snapS = SnapshotMaintainer.read(spark, whS, "users")
      .select(cols.map(col): _*).collect().toSet
    val snapP = SnapshotMaintainer.read(spark, whP, "users")
      .select(cols.map(col): _*).collect().toSet
    assert(snapS.size > 1000 && snapS == snapP, "maintained snapshot diverged under soak")

    // invariant 2: the maintained snapshot still equals the changelog's
    // latest state (internal consistency of the SOAK warehouse itself)
    val fromLog = Versioned.latestSnapshot(
        Ingest.readTable(spark, whS, Fixtures.registry("users")), Seq("user_id"))
      .select(cols.map(col): _*).collect().toSet
    assert(snapS == fromLog, "snapshot != changelog latest state after maintenance")

    // invariant 3: the maintained aggregate equals a direct aggregate of
    // the maintained snapshot (AggMaintainer's own rebuild contract)
    val agg = AggMaintainer.read(spark, whS, "users", "global").collect().head
    val direct = SnapshotMaintainer.read(spark, whS, "users")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("balance").cast("decimal(38,8)")).as("sum_balance")).collect().head
    assert(agg.getAs[Long]("n_rows") == direct.getAs[Long]("n_rows"))
    assert(agg.getAs[java.math.BigDecimal]("sum_balance") ==
      direct.getAs[java.math.BigDecimal]("sum_balance"))

    // invariant 4: point-in-time at/after the expiry horizon unchanged
    def log(wh: String) = Ingest.readTable(spark, wh, Fixtures.registry("users"))
      .withColumn("update_date", col("update_date").cast("timestamp"))
    for (h <- Seq("06:00:00", "12:00:00", "15:30:00")) {
      val t = lit(s"2026-01-01T$h").cast("timestamp")
      val a = Versioned.asOf(log(whS), t, Seq("user_id"))
        .select(cols.map(col): _*).collect().toSet
      val b = Versioned.asOf(log(whP), t, Seq("user_id"))
        .select(cols.map(col): _*).collect().toSet
      assert(a == b, s"soak asOf($h) diverged")
    }

    // and expiry actually bounded the changelog
    assert(log(whS).count() < log(whP).count(), "soak expiry collapsed nothing")
  }
}
