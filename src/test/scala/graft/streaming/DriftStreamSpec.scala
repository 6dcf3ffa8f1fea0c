package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkTestBase
import graft.ext.TextAnalysis

class DriftStreamSpec extends SparkTestBase {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private def doc(i: Long, n: Int) =
    (i, (0 until n).map(j => s"w${i}_$j").mkString(" "))

  // the file-stream source lists files at the TOP level of inputDir:
  // stage the parquet dir, then move its part file up as one feed file
  private def writeBatch(dir: String, name: String, rows: Seq[(Long, String)]): Unit = {
    val staging = s"$dir/.staging"
    rows.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(staging)
    val p = new org.apache.hadoop.fs.Path(staging)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val part = fs.listStatus(p).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    fs.rename(part, new org.apache.hadoop.fs.Path(s"$dir/$name"))
    fs.delete(p, true)
  }

  private def cfgFor(in: String, mon: String, ck: String) =
    DriftStreamConfig(in, mon, ck, schema, buckets = 10, maxFilesPerTrigger = 1)

  private def runAvailable(cfg: DriftStreamConfig): Unit = {
    val q = DriftStream.start(spark, cfg)
    q.processAllAvailable(); q.stop()
  }

  test("same-shape batches log ~zero PSI; a drifted batch alarms; replay safe") {
    val (in, mon, ck) = (tmpDir("drift-in"), tmpDir("drift-mon"), tmpDir("drift-ck"))
    val cfg = cfgFor(in, mon, ck)
    // batch 0: the calibration row (reference = itself → PSI 0)
    writeBatch(in, "b0.parquet", (1L to 40L).map(doc(_, 20)))
    runAvailable(cfg)
    // batch 1: same length distribution → near-zero PSI
    writeBatch(in, "b1.parquet", (101L to 140L).map(doc(_, 20)))
    runAvailable(cfg)
    // batch 2: much longer docs → the quality histogram shifts → alarm
    writeBatch(in, "b2.parquet", (201L to 240L).map(doc(_, 70)))
    runAvailable(cfg)

    val log = DriftStream.readLog(spark, mon)
      .select("batch", "n_docs", "psi_micro8")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(log.map(_._1).toSeq == Seq(0L, 1L, 2L))
    assert(log.forall(_._2 == 40L))
    assert(log(0)._3 == 0L, "first batch is the PSI-0 calibration row")
    assert(log(1)._3 < log(2)._3,
      s"drifted batch must alarm louder than a same-shape batch: $log")
    assert(log(2)._3 > 0L)

    // the reference accumulated every batch exactly once
    val refN = DriftStream.readReference(spark, mon)
      .agg(sum(col("n"))).head().getLong(0)
    assert(refN == 120L)

    // replay with a fresh checkpoint: log rows rewritten, reference NOT
    // double-counted
    val q2 = DriftStream.start(spark, cfg.copy(checkpointDir = tmpDir("drift-ck2")))
    q2.processAllAvailable(); q2.stop()
    val refAfter = DriftStream.readReference(spark, mon)
      .agg(sum(col("n"))).head().getLong(0)
    assert(refAfter == 120L, "re-delivery must not double-count the reference")
  }

  test("per-batch PSI equals the batch qualityDrift against the prior reference") {
    val (in, mon, ck) = (tmpDir("drift2-in"), tmpDir("drift2-mon"), tmpDir("drift2-ck"))
    val cfg = cfgFor(in, mon, ck)
    val b0 = (1L to 30L).map(doc(_, 20))
    val b1 = (101L to 130L).map(doc(_, 55))
    writeBatch(in, "b0.parquet", b0)
    runAvailable(cfg)
    writeBatch(in, "b1.parquet", b1)
    runAvailable(cfg)
    val logged = DriftStream.readLog(spark, mon)
      .filter(col("batch") === 1L).select("psi_micro8").as[Long].head()
    // the batch-mode operator over the same two slices is the oracle
    val expected = TextAnalysis.qualityDrift(
        b0.toDF("doc_id", "text"), b1.toDF("doc_id", "text"), buckets = 10)
      .agg(sum(col("psi_micro8"))).head().getLong(0)
    assert(logged == expected, s"streaming $logged != batch $expected")
  }

  test("a read inside a swap's rename-aside window renames nothing and reads the pre-swap reference") {
    val (in, mon, ck) = (tmpDir("drift3-in"), tmpDir("drift3-mon"), tmpDir("drift3-ck"))
    DriftStream.processBatch((1L to 40L).map(doc(_, 20)).toDF("doc_id", "text"), 0L,
      cfgFor(in, mon, ck))
    val before = DriftStream.readReference(spark, mon).collect().toSet
    // the writer's swap between its rename-aside and its rename-in
    val monitor = new java.io.File(mon)
    assert(new java.io.File(monitor, "_ref").renameTo(new java.io.File(monitor, ".__swap__ref")))
    val listing = monitor.list().toSet
    assert(DriftStream.readReference(spark, mon).collect().toSet == before)
    assert(monitor.list().toSet == listing,
      "a reader must leave the rename-in to the writer")
  }
}
