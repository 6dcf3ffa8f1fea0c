package graft.streaming

import org.apache.spark.sql.functions._

import graft.{SparkJobs, SparkTestBase}
import graft.cdc.{Envelope, Fixtures, Ingest, Registry, SnapshotMaintainer, Versioned}

/** In-stream compaction (CdcStreamConfig.compactEveryNBatches): a long
  * stream must keep its directory count bounded WITHOUT changing anything
  * a reader sees — table contents, maintained snapshot, or point-in-time
  * queries. */
class CdcCompactionSpec extends SparkTestBase {

  private def mkFile(i: Int): Seq[String] = {
    val ts = f"2026-01-01T${10 + i}%02d:00:00.000Z"
    Seq(
      Fixtures.envelope("products", ts, if (i == 0) "insert" else "update",
        s"""{"product_id":"p${i % 2}","category":"c$i","weight_g":${100 + i}.0,"photos_qty":$i}"""),
      Fixtures.envelope("users", ts, if (i == 0) "insert" else "update",
        s"""{"user_id":7,"email":"u$i@x.io","balance":$i.5}"""),
      Fixtures.envelope("mystery", ts, "insert", s"""{"x":$i}"""))
  }

  test("compactEveryNBatches: bounded dirs, identical reads/folds/as-of") {
    val in = tmpDir("cc-in")
    val whC = tmpDir("cc-wh-compact"); val ckC = tmpDir("cc-ck-compact")
    val whP = tmpDir("cc-wh-plain");   val ckP = tmpDir("cc-ck-plain")
    (0 until 6).foreach(i =>
      Fixtures.writeLines(in, f"log-$i%03d.jsonl", mkFile(i), gzip = false))

    val base = CdcStreamConfig(in, whC, ckC, Fixtures.registry,
      maxFilesPerTrigger = 1, partitionByDate = true,
      snapshotKeys = Map("products" -> Seq("product_id")))
    CdcStream.runOnce(spark, base.copy(compactEveryNBatches = 2))
    CdcStream.runOnce(spark, base.copy(warehouseDir = whP, checkpointDir = ckP))

    // 6 one-file triggers; compaction at batches 2 and 4 → the compacted
    // table may hold at most batch=-1 plus the batches after the last
    // compaction point, never the uncompacted one-dir-per-trigger count
    val phys = Fixtures.registry("products").physicalName
    def batchDirs(wh: String): Seq[String] =
      new java.io.File(s"$wh/$phys").listFiles().toSeq
        .map(_.getName).filter(_.startsWith("batch="))
    assert(batchDirs(whP).size == 6)
    assert(batchDirs(whC).size <= 3, s"dirs not bounded: ${batchDirs(whC)}")
    assert(batchDirs(whC).contains("batch=-1"))

    for (t <- Seq("products", "users")) {
      val a = Ingest.readTable(spark, whC, Fixtures.registry(t))
      val b = Ingest.readTable(spark, whP, Fixtures.registry(t))
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"table $t diverged after compaction")
    }

    // dead letter compacted and content-identical too
    val dlA = spark.read.parquet(s"$whC/${Ingest.UnknownTableDir}").select("object", "_raw")
    val dlB = spark.read.parquet(s"$whP/${Ingest.UnknownTableDir}").select("object", "_raw")
    assert(dlA.exceptAll(dlB).isEmpty && dlB.exceptAll(dlA).isEmpty)

    // maintained snapshot unaffected (it lives outside batch= dirs)
    val snapC = SnapshotMaintainer.read(spark, whC, "products").orderBy("product_id")
    val snapP = SnapshotMaintainer.read(spark, whP, "products").orderBy("product_id")
    assert(snapC.collect().toSeq == snapP.collect().toSeq)

    // point-in-time over the compacted changelog == over the plain one
    val t = lit("2026-01-01T13:30:00").cast("timestamp")
    def asOf(wh: String) = Versioned.asOf(
        Ingest.readTable(spark, wh, Fixtures.registry("users"))
          .withColumn("update_date", col("update_date").cast("timestamp")),
        t, Seq("user_id"))
      .orderBy("user_id")
    assert(asOf(whC).collect().toSeq == asOf(whP).collect().toSeq)
  }

  test("compaction is idempotent and safe to re-run on a compact table") {
    val in = tmpDir("cc2-in"); val wh = tmpDir("cc2-wh"); val ck = tmpDir("cc2-ck")
    (0 until 4).foreach(i =>
      Fixtures.writeLines(in, f"log-$i%03d.jsonl", mkFile(i), gzip = false))
    CdcStream.runOnce(spark, CdcStreamConfig(in, wh, ck, Fixtures.registry,
      maxFilesPerTrigger = 1))
    val phys = Fixtures.registry("products").physicalName
    val before = Ingest.readTable(spark, wh, Fixtures.registry("products")).collect().toSet
    Ingest.compactBatches(spark, wh, phys, upToBatch = 3)
    Ingest.compactBatches(spark, wh, phys, upToBatch = 3) // no-op re-run
    val after = Ingest.readTable(spark, wh, Fixtures.registry("products")).collect().toSet
    assert(after == before)
    val dirs = new java.io.File(s"$wh/$phys").listFiles()
      .map(_.getName).filter(_.startsWith("batch="))
    assert(dirs.toSeq == Seq("batch=-1"))
  }

  /** Crash-window recovery: a compaction that died AFTER its tmp copy
    * completed (manifest committed) but BEFORE publish must be finished,
    * not discarded, by the next run — and one that died mid-write
    * (no manifest) must be discarded with every source intact. Windows
    * are reconstructed byte-for-byte from the real protocol's on-disk
    * states. */
  test("crashed compaction: committed tmp is finished, partial tmp discarded") {
    import org.apache.hadoop.fs.Path
    val in = tmpDir("cc3-in"); val wh = tmpDir("cc3-wh"); val ck = tmpDir("cc3-ck")
    (0 until 4).foreach(i =>
      Fixtures.writeLines(in, f"log-$i%03d.jsonl", mkFile(i), gzip = false))
    CdcStream.runOnce(spark, CdcStreamConfig(in, wh, ck, Fixtures.registry,
      maxFilesPerTrigger = 1))
    val phys = Fixtures.registry("products").physicalName
    val dir = s"$wh/$phys"
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val before = Ingest.readTable(spark, wh, Fixtures.registry("products")).collect().toSet

    // --- window A: crash after the tmp write + manifest commit, before
    // any source delete/rename. Build the exact state: copy all batch
    // dirs' content into tmp (what the merged write produces here), then
    // commit the manifest naming them.
    val tmp = new Path(s"$dir/.__compact_tmp")
    val srcs = fs.listStatus(new Path(dir)).map(_.getPath)
      .filter(_.getName.startsWith("batch=")).toSeq
    val mergedDf = spark.read.option("basePath", dir)
      .option("mergeSchema", true).parquet(srcs.map(_.toString): _*)
      .drop("batch")
    mergedDf.write.mode("overwrite").parquet(tmp.toString)
    val os = fs.create(new Path(tmp, Ingest.CompactManifest), true)
    os.write(srcs.map(_.getName).mkString("\n").getBytes("UTF-8")); os.close()
    // next compaction call heals it (recovery runs on entry)
    Ingest.compactBatches(spark, wh, phys, upToBatch = 3)
    assert(Ingest.readTable(spark, wh, Fixtures.registry("products"))
      .collect().toSet == before, "rows lost or duplicated by recovery")
    val dirsA = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).toSeq
    assert(dirsA == Seq("batch=-1"), s"unexpected layout after recovery: $dirsA")
    assert(!fs.exists(tmp), "tmp not cleared after recovery")

    // --- window B: crash mid-write — tmp exists WITHOUT a manifest.
    // Sources (now just batch=-1) are untouched; recovery must discard.
    fs.mkdirs(tmp)
    val os2 = fs.create(new Path(tmp, "part-garbage.parquet"), true)
    os2.write(Array[Byte](1, 2, 3)); os2.close()
    Ingest.compactBatches(spark, wh, phys, upToBatch = 3) // heals, then no-op (1 dir)
    assert(!fs.exists(tmp), "partial tmp not discarded")
    assert(Ingest.readTable(spark, wh, Fixtures.registry("products"))
      .collect().toSet == before)

    // --- window C: crash mid-publish — manifest committed, SOME sources
    // already deleted. Recovery must finish deletes + rename without
    // resurrecting deleted rows or dropping surviving ones.
    // Rebuild a two-batch layout from the compacted table first.
    val cur = spark.read.parquet(s"$dir/batch=-1")
    cur.write.mode("overwrite").parquet(s"$dir/batch=7")
    fs.delete(new Path(s"$dir/batch=-1"), true)
    val all2 = spark.read.option("basePath", dir).option("mergeSchema", true)
      .parquet(s"$dir/batch=7").drop("batch")
    all2.write.mode("overwrite").parquet(tmp.toString)
    val os3 = fs.create(new Path(tmp, Ingest.CompactManifest), true)
    os3.write("batch=7".getBytes("UTF-8")); os3.close()
    fs.delete(new Path(s"$dir/batch=7"), true) // the "some deletes happened" point
    Ingest.compactBatches(spark, wh, phys, upToBatch = 8)
    assert(Ingest.readTable(spark, wh, Fixtures.registry("products"))
      .collect().toSet == before, "mid-publish recovery diverged")
    val dirsC = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).toSeq
    assert(dirsC == Seq("batch=-1"))
  }

  /** `products` over four batches across two days, with a registry
    * refresh after the second: `color` is added, `weight_g` removed. */
  private def evolvingTable(byDate: Boolean): (String, String) = {
    import spark.implicits._
    def reg(cols: String*) = Registry.fromJson(
      s"""{"products": {"table_name": "wh.products", "schema": {"fields": [
         |${(cols ++ Seq("action", "update_date")).map(c =>
               s"""{"name": "$c", "type": "${if (c == "weight_g") "FLOAT" else "STRING"}"}""")
             .mkString(", ")}]}}}""".stripMargin)
    val before = reg("product_id", "category", "weight_g")
    val after = Registry.refreshCompatible(before,
      reg("product_id", "category", "color"))._1
    def env(day: Int, ct: String, payload: String) =
      Fixtures.envelope("products", s"2026-01-0${day}T10:00:00.000Z", ct, payload)
    val batches = Seq(
      before -> Seq(env(1, "insert", """{"product_id":"p1","category":"a","weight_g":1.5}"""),
        env(1, "insert", """{"product_id":"p2","category":"b","weight_g":2.5}""")),
      before -> Seq(env(1, "update", """{"product_id":"p1","category":"c","weight_g":3.5}""")),
      after -> Seq(env(2, "update", """{"product_id":"p2","category":"d","color":"red"}"""),
        env(2, "insert", """{"product_id":"p3","color":"blue","weight_g":9.0}""")),
      after -> Seq(env(2, "delete", """{"product_id":"p1"}""")))
    val wh = tmpDir("cc-evolve")
    batches.zipWithIndex.foreach { case ((r, lines), b) =>
      Ingest.appendBatch(Envelope.parse(lines.toDF("value")), r, wh, b.toLong,
        partitionByDate = byDate)
    }
    (wh, "wh.products")
  }

  for (byDate <- Seq(false, true)) {
    test(s"compaction across a registry refresh keeps the union schema (partitionByDate = $byDate)") {
      val (wh, phys) = evolvingTable(byDate)
      def read() = Ingest.readTable(spark, wh, phys, keepPartitionCols = true).drop("batch")
      val before = read()
      val cols = before.columns.sorted.toSeq
      assert(cols.contains("color") && cols.contains("weight_g") &&
        cols.contains(Envelope.DtCol) == byDate, cols.toString)
      val want = before.select(cols.map(col): _*).cache()
      assert(want.count() == 6)
      Ingest.compactBatches(spark, wh, phys, Long.MaxValue)
      val after = read()
      assert(after.columns.sorted.toSeq == cols)
      val got = after.select(cols.map(col): _*)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
      // the removed column's old values survive, the added one's new ones
      assert(got.filter(col("weight_g").isNotNull).count() == 3)
      assert(got.filter(col("color").isNotNull).collect().map(_.getAs[String]("color"))
        .sorted.toSeq == Seq("blue", "red"))
      want.unpersist()
    }

    test(s"compaction writes one file per table (per _dt) in one Spark job (partitionByDate = $byDate)") {
      val (wh, phys) = evolvingTable(byDate)
      val (_, jobs) = SparkJobs.count(spark)(Ingest.compactBatches(spark, wh, phys, Long.MaxValue))
      def parquetFiles(d: java.io.File): Seq[java.io.File] = d.listFiles().toSeq.flatMap { f =>
        if (f.isDirectory) parquetFiles(f) else Seq(f).filter(_.getName.endsWith(".parquet"))
      }
      val compacted = new java.io.File(s"$wh/$phys/batch=${Ingest.CompactedBatchId}")
      val perDir = parquetFiles(compacted).groupBy(_.getParentFile.getName).map {
        case (d, fs) => d -> fs.size
      }
      val dirs = if (byDate) Set(s"${Envelope.DtCol}=2026-01-01", s"${Envelope.DtCol}=2026-01-02")
        else Set(compacted.getName)
      assert(perDir == dirs.map(_ -> 1).toMap, perDir.toString)
      assert(jobs == 1, s"compaction ran $jobs Spark jobs")
    }
  }

  test("compaction across a type conflict fails loudly and keeps every source") {
    import spark.implicits._
    val wh = tmpDir("cc-conflict")
    Seq((1L, "a")).toDF("id", "x").write.parquet(s"$wh/t/batch=0")
    Seq((2L, 7L)).toDF("id", "x").write.parquet(s"$wh/t/batch=1")
    val e = intercept[org.apache.spark.SparkException](
      Ingest.compactBatches(spark, wh, "t", Long.MaxValue))
    assert(e.getMessage.toUpperCase.contains("MERGE"), e.getMessage)
    assert(new java.io.File(s"$wh/t").list().toSet == Set("batch=0", "batch=1"))
  }
}
