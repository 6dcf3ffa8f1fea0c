package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

import graft.core.GraftSession

/** Dev tool: run one query and print a per-stage wall/task-time profile
  * (top stages by wall), so "where do the seconds go" is answerable
  * without the UI (disabled in this sandbox). Usage:
  *
  *   SPARK_GRAFT_SF_DIR=... runMain graft.tools.StageProfile <query> [reps]
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val q = args.head
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // A/B experiments: SPARK_GRAFT_CONF="k=v;k=v" overrides runtime SQL confs
    val overrides = sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap(_.split(";")).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => k.trim -> v.trim
        case _ => sys.error(s"SPARK_GRAFT_CONF entry '$kv' is not k=v")
      }
    }
    val spark = GraftSession.create()
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(s"$sfDir/region.parquet")
      .write.format("noop").mode("overwrite").save()

    final case class Row(id: Int, name: String, tasks: Int,
                         wallMs: Long, taskMs: Long)
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val wall = (for (a <- i.completionTime; b <- i.submissionTime)
          yield a - b).getOrElse(-1L)
        rows.add(Row(i.stageId, i.name.takeWhile(_ != '\n').take(80),
          i.numTasks, wall, i.taskMetrics.executorRunTime)): Unit
      }
    }
    for (rep <- 1 to reps) {
      rows.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(q)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // let the listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      import scala.jdk.CollectionConverters._
      val rs = rows.asScala.toSeq.sortBy(-_.wallMs)
      println(f"[prof] $q rep$rep total $secs%.3f s, ${rs.size} stages, " +
        f"stage wall sum ${rs.map(_.wallMs).sum / 1e3}%.2f s, " +
        f"task time sum ${rs.map(_.taskMs).sum / 1e3}%.2f s")
      rs.take(15).foreach { r =>
        println(f"[prof]   stage ${r.id}%4d wall ${r.wallMs}%6d ms tasks ${r.tasks}%3d taskTime ${r.taskMs}%6d ms  ${r.name}")
      }
    }
    spark.stop()
  }
}
