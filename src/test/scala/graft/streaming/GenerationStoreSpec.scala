package graft.streaming

import graft.SparkTestBase
import graft.cdc.FaultFs

class GenerationStoreSpec extends SparkTestBase {
  import spark.implicits._

  test("a compaction whose watermark commit fails loses no row, then or at the next compaction") {
    // the store lives on `faultfs:`, so the commit's rename can be made
    // to fail; every other step runs on the local disk as usual. The
    // scheme has no FileContext binding, so the atomic write renames
    // through the FileSystem API: the watermark is replaced in one step
    spark.sparkContext.hadoopConfiguration.set("fs.faultfs.impl", classOf[FaultFs].getName)
    val store = "faultfs:" + tmpDir("gen-wm")
    val frame = GenFrame(s"$store/ids", Seq("id"))
    def append(batch: Long): Unit = Seq(2 * batch, 2 * batch + 1).toDF("id")
      .write.mode("overwrite").parquet(s"${frame.dir}/batch=$batch")
    def ids(): Seq[Long] = GenerationStore.withSnapshot(spark, store)(wm =>
      GenerationStore.frameAt(spark, frame, wm).as[Long].collect().sorted.toSeq)
    def compact(): Unit = GenerationStore.compact(spark, store, Seq(frame))
    // two generations: the second compaction collects the first one's
    // batch dirs, so the first generation's rows live in it alone
    Seq(0L, 1L).foreach(append); compact()
    Seq(2L, 3L).foreach(append); compact()
    Seq(4L, 5L).foreach(append)
    assert(FaultFs.withFaults(s => s.op == "rename" && s.path.getName == "_compacted_watermark")(
      compact()), "the watermark commit did not run")
    assert(ids() == (0L until 12L), "after the failed commit")
    compact()
    assert(ids() == (0L until 12L), "after the next compaction")
    assert(GenerationStore.readWatermark(spark, store) == 5L)
  }
}
