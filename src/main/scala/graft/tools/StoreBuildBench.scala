package graft.tools

import graft.core.GraftSession

/** Dev tool: time SparkEntry store BUILDS in isolation (fresh JVM per
  * invocation — WorkDirs.ensureStore memoizes per JVM, so each named
  * build runs exactly once per run). args = query names (substring
  * match against storeBuilders keys); default = the stream-loop and
  * join/agg stores the fold-machinery work targets. Prints one
  * `[sbench]` line per build.
  */
object StoreBuildBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create()
    spark.sparkContext.setLogLevel("WARN")

    // session + parquet-footer warm-up, same as Bench
    spark.read.parquet(s"$sfDir/region.parquet")
      .write.format("noop").mode("overwrite").save()

    val defaults = Seq("q187_stream_loop_join", "q183_stream_loop_scd2",
      "q180_doc_maintained", "q173_join_maintained", "q171_agg_maintained",
      "q167_scd2_maintained", "q170_snapshot_maintained")
    val wanted =
      if (args.isEmpty) defaults
      else graft.SparkEntry.storeBuilders.keys.toSeq.sorted
        .filter(n => args.exists(n.contains))
    for (name <- wanted) {
      graft.SparkEntry.storeBuilders.get(name) match {
        case Some(build) =>
          System.gc()
          val t0 = System.nanoTime()
          build(spark, sfDir)
          println(f"[sbench] $name ${(System.nanoTime() - t0) / 1e9}%.3f s")
        case None => println(s"[sbench] $name: no store builder")
      }
    }
    spark.stop()
  }
}
