package graft.cdc

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class PartitionedIngestSpec extends SparkTestBase {
  import spark.implicits._

  private def ingested(partition: Boolean): String = {
    val in = tmpDir("pin-in"); val wh = tmpDir("pin-wh")
    Fixtures.writeLines(in, "log.jsonl", Fixtures.lines, gzip = false)
    Ingest.ingestDir(spark, in, Fixtures.registry, wh, partitionByDate = partition)
    wh
  }

  test("registry table_name routing: physical dir written, logical absent") {
    val wh = ingested(partition = false)
    // Fixtures' registry maps products -> warehouse.products_cdc
    assert(new java.io.File(s"$wh/warehouse.products_cdc").isDirectory)
    assert(!new java.io.File(s"$wh/products").exists(),
      "append must route to TableSpec.physicalName, not the logical key")
    assert(Ingest.readTable(spark, wh, Fixtures.registry("products")).count() == 4)
  }

  test("date-partitioned layout: _dt=<date> directories exist") {
    val wh = ingested(partition = true)
    val dirs = new java.io.File(s"$wh/${Fixtures.registry("products").physicalName}/batch=0").listFiles().map(_.getName)
    assert(dirs.exists(_.startsWith("_dt=2026-01-01")), dirs.mkString(","))
    // partition column round-trips; rows identical to unpartitioned ingest
    val a = Ingest.readTable(spark, wh, Fixtures.registry("products"))
    val b = Ingest.readTable(spark, ingested(partition = false), Fixtures.registry("products"))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("asOfPruned answers correctly and plans a partition filter") {
    val wh = ingested(partition = true)
    val products = Ingest.readTable(spark, wh, Fixtures.registry("products"), keepPartitionCols = true)
      .withColumn("update_ts", col("update_date").cast("timestamp"))
    val t = lit("2026-01-01 11:30:00").cast("timestamp")
    val pruned = Versioned.asOfPruned(products, t, Seq("product_id"), versionCol = "update_ts")
    // same answer as unpruned asOf
    val plain = Versioned.asOf(products.drop("_dt"), t, Seq("product_id"), versionCol = "update_ts")
    assert(pruned.drop("update_ts").exceptAll(plain.drop("update_ts")).isEmpty)
    assert(pruned.filter($"product_id" === "p1").select("category").as[String].head() == "health")
    // the _dt predicate must reach the scan as a partition filter
    val physical = pruned.queryExecution.executedPlan.toString()
    assert(physical.contains("PartitionFilters") && physical.contains("_dt"),
      "expected _dt partition filter in scan")
  }

  test("streaming path honors partitionByDate") {
    val in = tmpDir("spd-in"); val wh = tmpDir("spd-wh"); val ck = tmpDir("spd-ck")
    val pks = Map("products" -> Seq("product_id"), "users" -> Seq("user_id"))
    val cfg = graft.streaming.CdcStreamConfig(in, wh, ck, Fixtures.registry,
      partitionByDate = true, snapshotKeys = pks)
    Fixtures.writeLines(in, "log.jsonl", Fixtures.lines, gzip = false)
    graft.streaming.CdcStream.runOnce(spark, cfg)
    val dirs = new java.io.File(s"$wh/${Fixtures.registry("products").physicalName}/batch=0").listFiles().map(_.getName)
    assert(dirs.exists(_.startsWith("_dt=")), dirs.mkString(","))
    assert(Ingest.readTable(spark, wh, Fixtures.registry("products")).count() == 4)
    // users only: products' batch=1 dir is written with no `_dt` dirs
    Fixtures.writeLines(in, "log-001.jsonl", Seq(
      Fixtures.envelope("users", "2026-01-03T09:00:00.000Z", "update",
        """{"user_id":7,"email":"c@x.io","balance":1.5}"""),
      Fixtures.envelope("users", "2026-01-03T09:00:00.000Z", "insert",
        """{"user_id":8,"email":"d@x.io","balance":2.0}""")), gzip = false)
    graft.streaming.CdcStream.runOnce(spark, cfg)
    pks.foreach { case (t, pk) =>
      val want = Versioned.latestSnapshot(
          Ingest.readTable(spark, wh, Fixtures.registry(t))
            .withColumn("__v", col("update_date").cast("timestamp")),
          pk, versionCol = "__v").drop("__v")
      val got = SnapshotMaintainer.read(spark, wh, t).select(want.columns.toIndexedSeq.map(col): _*)
      assert(got.collect().toSet == want.collect().toSet, t)
    }
  }

  test("compact collapses batch dirs and preserves rows + partitioning") {
    val in = tmpDir("cmp-in"); val wh = tmpDir("cmp-wh"); val ck = tmpDir("cmp-ck")
    Fixtures.writeLines(in, "log-000.jsonl", Fixtures.lines.take(4), gzip = false)
    graft.streaming.CdcStream.runOnce(spark,
      graft.streaming.CdcStreamConfig(in, wh, ck, Fixtures.registry))
    Fixtures.writeLines(in, "log-001.jsonl", Fixtures.lines.drop(4), gzip = false)
    graft.streaming.CdcStream.runOnce(spark,
      graft.streaming.CdcStreamConfig(in, wh, ck, Fixtures.registry))

    val before = Ingest.readTable(spark, wh, Fixtures.registry("products")).collect().toSet
    assert(new java.io.File(s"$wh/${Fixtures.registry("products").physicalName}").listFiles().count(_.getName.startsWith("batch=")) == 2)
    val n = Ingest.compact(spark, wh, Fixtures.registry("products").physicalName)
    assert(n == before.size)
    assert(new java.io.File(s"$wh/${Fixtures.registry("products").physicalName}").listFiles().count(_.getName.startsWith("batch=")) == 1)
    assert(Ingest.readTable(spark, wh, Fixtures.registry("products")).collect().toSet == before)
  }
  test("readTableAsOfBatch prunes batch partitions and replays history") {
    val in = tmpDir("aob-in"); val wh = tmpDir("aob-wh"); val ck = tmpDir("aob-ck")
    Fixtures.writeLines(in, "log-000.jsonl", Fixtures.lines.take(4), gzip = false)
    graft.streaming.CdcStream.runOnce(spark,
      graft.streaming.CdcStreamConfig(in, wh, ck, Fixtures.registry))
    Fixtures.writeLines(in, "log-001.jsonl", Fixtures.lines.drop(4), gzip = false)
    graft.streaming.CdcStream.runOnce(spark,
      graft.streaming.CdcStreamConfig(in, wh, ck, Fixtures.registry))

    val phys = Fixtures.registry("products").physicalName
    val afterB0 = Ingest.readTableAsOfBatch(spark, wh, phys, 0L)
    val full = Ingest.readTable(spark, wh, Fixtures.registry("products"))
    assert(afterB0.count() == 4 && full.count() == 4) // products all in batch 0
    val users = Fixtures.registry("users").physicalName
    assert(Ingest.readTableAsOfBatch(spark, wh, users, 0L).count() == 0 ||
      Ingest.readTableAsOfBatch(spark, wh, users, 1L).count() == 2)
    // the cutoff must reach the scan as a partition filter
    val plan = afterB0.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters") && plan.contains("batch"),
      "expected batch partition pruning")
  }

}
