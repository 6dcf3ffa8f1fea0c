package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of code starts, on any thread (a
  * streaming query's own thread included). */
object SparkJobs {

  def count[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val marker = s"job-count-marker-${System.nanoTime()}"
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == marker))
          markerSeen = true
        else jobs.incrementAndGet(): Unit
    }
    // the listener bus is asynchronous: a marker job run after the body
    // shows up after every job the body started
    def settle(): Unit = {
      markerSeen = false
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (!markerSeen && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(markerSeen, "listener bus did not deliver the marker job")
    }
    sc.addSparkListener(listener)
    try {
      settle()
      jobs.set(0)
      val out = body
      settle()
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}
