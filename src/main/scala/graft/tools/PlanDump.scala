package graft.tools

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.core.GraftSession

/** Dev tool: dump the FORMATTED physical plan of every SQL execution a
  * query performs — not just the final action. Several engine stages end
  * in an eager `localCheckpoint(true)` (the reuse seam), which makes the
  * query's own `explain` show only a checkpoint-RDD scan; the join/agg
  * plans that do the work execute inside the checkpoint action and are
  * only visible through the listener. Usage:
  *
  *   runMain graft.tools.PlanDump <outDir> <query...>
  *
  * writes <outDir>/<query>.txt with every executed plan (checkpoint
  * actions first, the final noop write last), same session config as
  * Bench/Verify. SPARK_GRAFT_SF_DIR picks the data (default sf0.01).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.head
    val queries = args.tail
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.create()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    val sink = new java.util.concurrent.atomic.AtomicReference[java.nio.file.Path]()
    val listener = new QueryExecutionListener {
      private def dump(funcName: String, qe: QueryExecution): Unit = {
        val p = sink.get()
        if (p != null) {
          val txt = s"\n===== action: $funcName =====\n" +
            qe.explainString(org.apache.spark.sql.execution.FormattedMode) + "\n"
          Files.write(p, txt.getBytes("UTF-8"),
            StandardOpenOption.CREATE, StandardOpenOption.APPEND): Unit
        }
      }
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = dump(funcName, qe)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = dump(funcName, qe)
    }
    spark.listenerManager.register(listener)
    for (q <- queries) {
      val path = Paths.get(outDir, s"$q.txt")
      Files.deleteIfExists(path)
      sink.set(path)
      try {
        graft.SparkEntry.queries(q)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        // listener events are posted asynchronously; give the bus a
        // moment to drain before switching the sink (dev tool — a
        // bounded sleep beats reaching into the private listener bus)
        Thread.sleep(1500)
        System.err.println(s"[plandump] $q -> $path")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $q FAILED: ${e.getMessage}")
      }
      sink.set(null)
    }
    spark.stop()
  }
}
