package graft.streaming

import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkTestBase
import graft.ext.Sharding

class SampleStreamSpec extends SparkTestBase {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang", StringType),
    StructField("weight", LongType)))

  private def rows(ids: Range, lang: Long => String): Seq[(Long, String, Long)] =
    ids.map(i => (i.toLong, lang(i.toLong), 1L + (i * 37L) % 500L)).toSeq

  private def writeBatch(dir: String, name: String,
                         rows: Seq[(Long, String, Long)]): Unit = {
    val staging = s"$dir/.staging"
    rows.toDF("doc_id", "lang", "weight").coalesce(1)
      .write.mode("overwrite").parquet(staging)
    val p = new org.apache.hadoop.fs.Path(staging)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val part = fs.listStatus(p).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    fs.rename(part, new org.apache.hadoop.fs.Path(s"$dir/$name"))
    fs.delete(p, true)
  }

  private def cfgFor(in: String, st: String, ck: String, k: Int) =
    SampleStreamConfig(in, st, ck, schema, strataCol = "lang",
      weightCol = "weight", idCol = "doc_id", k = k, seed = 11L,
      maxFilesPerTrigger = 1)

  test("streamed reservoir equals the one-shot batch sample over everything seen") {
    val (in, st, ck) = (tmpDir("smp-in"), tmpDir("smp-st"), tmpDir("smp-ck"))
    val cfg = cfgFor(in, st, ck, k = 5)
    val b0 = rows(0 until 60, i => if (i % 2 == 0) "en" else "de")
    val b1 = rows(100 until 180, i => if (i % 3 == 0) "en" else "de")
    val b2 = rows(200 until 230, _ => "fr") // a brand-new stratum mid-stream
    writeBatch(in, "b0.parquet", b0)
    val q = SampleStream.start(spark, cfg)
    q.processAllAvailable()
    writeBatch(in, "b1.parquet", b1)
    writeBatch(in, "b2.parquet", b2)
    q.processAllAvailable(); q.stop()

    val streamed = SampleStream.readSample(spark, st)
      .as[(String, Long, Long, Long)].collect().sortBy(r => (r._1, r._4)).toSeq
    val oneShot = Sharding.weightedSample(
        (b0 ++ b1 ++ b2).toDF("doc_id", "lang", "weight"),
        "lang", "weight", k = 5, idCol = "doc_id", seed = 11L)
      .as[(String, Long, Long, Long)].collect().sortBy(r => (r._1, r._4)).toSeq
    assert(streamed == oneShot,
      "incremental min-k folds must equal the batch operator exactly")
    assert(streamed.map(_._1).distinct.sorted == Seq("de", "en", "fr"))
    assert(streamed.groupBy(_._1).forall(_._2.size == 5))
  }

  test("replayed batch cannot re-fold; duplicate ids never enter twice") {
    val (in, st, ck) = (tmpDir("smp2-in"), tmpDir("smp2-st"), tmpDir("smp2-ck"))
    val cfg = cfgFor(in, st, ck, k = 4)
    val b0 = rows(0 until 40, _ => "en")
    writeBatch(in, "b0.parquet", b0)
    val q = SampleStream.start(spark, cfg)
    q.processAllAvailable(); q.stop()
    val first = SampleStream.readSample(spark, st)
      .as[(String, Long, Long, Long)].collect().sortBy(_._4).toSeq

    // replay batch 0 directly (same id): the guard must skip the fold
    SampleStream.processBatch(b0.toDF("doc_id", "lang", "weight"), 0L, cfg)
    val afterReplay = SampleStream.readSample(spark, st)
      .as[(String, Long, Long, Long)].collect().sortBy(_._4).toSeq
    assert(afterReplay == first, "replay must leave the reservoir untouched")

    // re-delivery of already-sampled ids inside a NEW batch id: same
    // deterministic keys, (stratum, id) dedup — the reservoir is stable
    SampleStream.processBatch(b0.toDF("doc_id", "lang", "weight"), 1L, cfg)
    val afterDup = SampleStream.readSample(spark, st)
      .as[(String, Long, Long, Long)].collect().sortBy(_._4).toSeq
    assert(afterDup == first, "re-delivered ids must not displace or duplicate")
    assert(afterDup.map(_._2).distinct.size == afterDup.size)
  }

  test("a heavier late arrival displaces the current worst key") {
    val (in, st, ck) = (tmpDir("smp3-in"), tmpDir("smp3-st"), tmpDir("smp3-ck"))
    val cfg = cfgFor(in, st, ck, k = 3)
    SampleStream.processBatch(
      rows(0 until 20, _ => "en").toDF("doc_id", "lang", "weight"), 0L, cfg)
    val before = SampleStream.readSample(spark, st)
      .as[(String, Long, Long, Long)].collect().map(_._2).toSet
    // weight 10^9: e_units = round(-ln(u)/1e9 * 1e12) is tiny — this doc
    // must enter the reservoir and push out the previous rank-3
    SampleStream.processBatch(
      Seq((999L, "en", 1000000000L)).toDF("doc_id", "lang", "weight"), 1L, cfg)
    val after = SampleStream.readSample(spark, st)
      .as[(String, Long, Long, Long)].collect()
    assert(after.map(_._2).toSet.contains(999L), "the heavy doc must be sampled")
    assert(after.length == 3)
    assert(before.diff(after.map(_._2).toSet).size == 1,
      "exactly one incumbent is displaced")
  }

  test("a read inside a swap's rename-aside window renames nothing and reads the pre-swap sample") {
    val (in, st, ck) = (tmpDir("smp4-in"), tmpDir("smp4-st"), tmpDir("smp4-ck"))
    val cfg = cfgFor(in, st, ck, k = 3)
    SampleStream.processBatch(
      rows(0 until 20, _ => "en").toDF("doc_id", "lang", "weight"), 0L, cfg)
    val before = SampleStream.readSample(spark, st).collect().toSet
    // the writer's swap between its rename-aside and its rename-in
    val store = new java.io.File(st)
    assert(new java.io.File(store, "_reservoir")
      .renameTo(new java.io.File(store, ".__swap__reservoir")))
    val listing = store.list().toSet
    assert(SampleStream.readSample(spark, st).collect().toSet == before)
    assert(store.list().toSet == listing,
      "a reader must leave the rename-in to the writer")
  }
}
