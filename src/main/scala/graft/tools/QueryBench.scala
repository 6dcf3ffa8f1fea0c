package graft.tools

import graft.core.GraftSession

/** Dev tool: time a subset of SparkEntry queries (args = query names,
  * substring match) at SPARK_GRAFT_SF_DIR, N repetitions each, same
  * session config as [[graft.Bench]]. Prints one `[qbench]` line per
  * (query, rep) so regressions can be profiled without a full bench run.
  */
object QueryBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_QBENCH_REPS", "2").toInt
    val spark = GraftSession.create()
    spark.sparkContext.setLogLevel("WARN")

    spark.read.parquet(s"$sfDir/region.parquet")
      .write.format("noop").mode("overwrite").save()

    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => args.isEmpty || args.exists(n.contains))
    for (name <- names; rep <- 1 to reps) {
      System.gc()
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[qbench] $name rep$rep $secs%.3f s")
    }
    spark.stop()
  }
}
