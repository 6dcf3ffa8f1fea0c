package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.core.GraftSession

/** Runs one benchmark workload against the program's public API.
  *
  * usage: Harness <plan.json>
  *
  * The plan (written by run.py) names the generated input files and the
  * workload's settings; the harness lands the files, drives the stream or
  * the query loop, and writes raw measurements (trigger progress,
  * landing times, query latencies and digests, trace spans and Spark
  * jobs) to `<dir>/result.json`. All statistics and output checks are
  * computed from that file by run.py, outside this JVM. */
object Harness {

  def main(args: Array[String]): Unit = {
    val plan = new Plan(JsonMethods.parse(new String(
      Files.readAllBytes(Paths.get(args(0))), "UTF-8")))
    val out = new Out
    out.mark("jvm")
    var spark = session(plan.str("master"), plan.int("cores"))
    try {
      spark = plan.str("workload") match {
        case "route_live" | "fold_drain" => new StreamWorkload(plan, out).run(spark)
        case w => sys.error(s"unknown workload $w")
      }
    } catch {
      case e: Throwable =>
        out.put("fatal", JString(e.toString))
        e.printStackTrace()
    } finally {
      out.write(Paths.get(plan.str("dir"), "result.json"))
      spark.stop()
    }
    System.exit(0)
  }

  def session(master: String, cores: Int): SparkSession = {
    val s = GraftSession.create(master = master, appName = "perfbench",
      shufflePartitions = cores)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def nowMs(): Long = System.currentTimeMillis()
}

/** Read-only view of the plan JSON. */
final class Plan(val j: JValue) {
  def str(k: String): String = j \ k match {
    case JString(s) => s
    case x => sys.error(s"plan.$k: $x")
  }
  def num(k: String): Double = j \ k match {
    case JInt(i) => i.toDouble
    case JDouble(d) => d
    case x => sys.error(s"plan.$k: $x")
  }
  def int(k: String): Int = num(k).toInt
  def ints(k: String): Seq[Int] = j \ k match {
    case JArray(xs) => xs.collect { case JInt(i) => i.toInt }
    case x => sys.error(s"plan.$k: $x")
  }
  def strs(v: JValue): Seq[String] = v match {
    case JArray(xs) => xs.collect { case JString(s) => s }
    case _ => Nil
  }
  def strs(k: String): Seq[String] = strs(j \ k)
  def path(parts: String*): String = Paths.get(str("dir"), parts: _*).toString
}

/** The result document, filled in as the run goes. */
final class Out {
  private val fields = mutable.LinkedHashMap[String, JValue]()
  def put(k: String, v: JValue): Unit = synchronized { fields(k) = v }
  private val marks = mutable.ArrayBuffer[(String, JValue)]()
  /** Wall-clock mark at the end of a phase, for the run's time budget. */
  def mark(phase: String): Unit = synchronized {
    marks += phase -> JInt(System.currentTimeMillis())
    fields("marks") = JObject(marks.toList)
  }
  def write(p: Path): Unit = synchronized {
    Files.write(p, JsonMethods.compact(JsonMethods.render(JObject(fields.toList)))
      .getBytes("UTF-8")): Unit
  }
}

/** Small constructors for the result document. */
object J {
  def nums(xs: Iterable[Double]): JValue = JArray(xs.map(JDouble(_)).toList)
  def obj(kv: (String, JValue)*): JValue = JObject(kv.toList)
  def d(x: Double): JValue = JDouble(x)
  def s(x: String): JValue = JString(x)
}

/** Progress events of one streaming query, as the engine reports them. */
final class Progress extends StreamingQueryListener {
  final case class Rec(batchId: Long, startMs: Long, rows: Long, d: Map[String, Long])
  val recs = new java.util.concurrent.ConcurrentLinkedQueue[Rec]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0)
      recs.add(Rec(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.numInputRows, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
  def byBatch: Map[Long, Rec] = recs.asScala.map(r => r.batchId -> r).toMap
  def json: JValue = JArray(recs.asScala.toList.sortBy(_.batchId).map { r =>
    J.obj("batch" -> JInt(r.batchId), "start_ms" -> JInt(r.startMs),
      "rows" -> JInt(r.rows),
      "d" -> JObject(r.d.toList.sorted.map { case (k, v) => k -> JInt(v) }))
  })
}

/** The checkpoint's own record of which file went into which batch, and
  * which batches committed. */
final class Checkpoint(dir: String) {
  private val fileBatch = mutable.Map[String, Long]()
  private val parsed = mutable.Set[String]()

  def committed: Set[Long] = {
    val d = Paths.get(dir, "commits").toFile
    Option(d.listFiles()).toSeq.flatten.map(_.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).toSet
  }

  /** file name -> batch id, from the file source's metadata log. */
  def files: Map[String, Long] = {
    val d = Paths.get(dir, "sources", "0").toFile
    Option(d.listFiles()).toSeq.flatten
      .filter(f => !f.getName.startsWith(".") && !f.getName.endsWith(".tmp"))
      .sortBy(_.getName).foreach { f =>
        // a batch's log file is immutable once written; compact files are
        // re-read since they repeat earlier entries
        if (!parsed(f.getName)) {
          val lines = scala.util.Try(Files.readAllLines(f.toPath).asScala.toSeq)
            .getOrElse(Nil)
          lines.drop(1).filter(_.startsWith("{")).foreach { l =>
            JsonMethods.parse(l) match {
              case o: JObject =>
                val p = (o \ "path").asInstanceOf[JString].s
                val b = (o \ "batchId") match { case JInt(i) => i.toLong; case _ => -1L }
                fileBatch(p.substring(p.lastIndexOf('/') + 1)) = b
              case _ =>
            }
          }
          if (lines.nonEmpty && !f.getName.endsWith(".compact")) parsed += f.getName
        }
      }
    fileBatch.toMap
  }

  /** True when every named file sits in a committed batch. */
  def allCommitted(names: Iterable[String]): Boolean = {
    val fb = files
    val c = committed
    names.forall(n => fb.get(n).exists(c))
  }
}

/** Layer spans and the Spark jobs that ran inside them. Spans are kept
  * in memory and written out with the result. */
final class Tracer(spark: SparkSession) {
  private val t0n = System.nanoTime()
  private val t0ms = System.currentTimeMillis()
  def now: Double = t0ms + (System.nanoTime() - t0n) / 1e6

  final case class Span(id: Int, name: String, parent: Int, group: Long,
                        start: Double, end: Double)
  private val spans = mutable.ArrayBuffer[Span]()
  private val notes = mutable.ArrayBuffer[(Long, String, Double)]()

  /** A count measured outside any span (files written, buckets touched). */
  def note(group: Long, name: String, v: Double): Unit = notes += ((group, name, v))
  private var stack = List.empty[Int]
  private var nextId = 0

  /** Time `body` as span `name` (nested spans record their parent). */
  def span[A](name: String, group: Long)(body: => A): A = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val s = now
    try body
    finally {
      val e = now
      stack = stack.tail
      spans += Span(id, name, parent, group, s, e)
    }
  }

  final case class JobRec(id: Int, start: Long, var end: Long, stages: Seq[Int])
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stageAgg = mutable.Map[Int, Array[Double]]() // cpu ns, shuffle w, shuffle r, tasks

  val listener: SparkListener =
    new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Tracer.this.synchronized {
          jobs(e.jobId) = JobRec(e.jobId, e.time, -1L, e.stageIds)
          e.stageIds.foreach(s => stageJob(s) = e.jobId)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Tracer.this.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Tracer.this.synchronized {
          val m = e.taskMetrics
          if (m != null) {
            val a = stageAgg.getOrElseUpdate(e.stageId, Array(0.0, 0.0, 0.0, 0.0))
            a(0) += m.executorCpuTime
            a(1) += m.shuffleWriteMetrics.bytesWritten
            a(2) += m.shuffleReadMetrics.totalBytesRead
            a(3) += 1
          }
        }
    }

  def attach(): Unit = spark.sparkContext.addSparkListener(listener)

  /** Detach once every started job has reported its end (the listener
    * bus delivers asynchronously). */
  def detach(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (synchronized(jobs.values.exists(_.end < 0)) &&
           System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(200)
    spark.sparkContext.removeSparkListener(listener)
  }

  def json: JValue = synchronized {
    J.obj(
      "spans" -> JArray(spans.toList.map { s =>
        J.obj("id" -> JInt(s.id), "name" -> J.s(s.name), "parent" -> JInt(s.parent),
          "group" -> JInt(s.group), "start" -> J.d(s.start), "end" -> J.d(s.end))
      }),
      "notes" -> JArray(notes.toList.map { case (g, n, v) =>
        J.obj("group" -> JInt(g), "name" -> J.s(n), "value" -> J.d(v))
      }),
      "jobs" -> JArray(jobs.values.toList.map { j =>
        val agg = j.stages.flatMap(stageAgg.get)
        def sum(i: Int) = agg.map(_(i)).sum
        J.obj("id" -> JInt(j.id), "start" -> JInt(j.start), "end" -> JInt(j.end),
          "cpu_ns" -> J.d(sum(0)), "shuffle_w" -> J.d(sum(1)),
          "shuffle_r" -> J.d(sum(2)), "tasks" -> J.d(sum(3)))
      }))
  }
}

/** Parquet data files on disk. */
object Disk {
  def walk(dir: String): Seq[java.io.File] = {
    val root = new java.io.File(dir)
    if (!root.exists()) Nil
    else Files.walk(root.toPath).iterator().asScala.map(_.toFile)
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq
  }
  /** (files written at or after `sinceMs`, distinct dirs holding them). */
  def writtenSince(dir: String, sinceMs: Double): (Int, Int) = {
    val fresh = walk(dir).filter(_.lastModified() >= sinceMs.toLong - 2)
    (fresh.size, fresh.map(_.getParentFile.getPath).distinct.size)
  }
  def bytes(dir: String): Long = walk(dir).map(_.length()).sum
}

/** CPU accounting at one instant: the machine's (from /proc/stat, with
  * the share the hypervisor stole) and this process's (in ns), with the
  * part spent by the JIT compiler threads and the GC threads (from
  * /proc, in clock ticks); the rest is the program's own work. The JVM
  * runs with a fixed set of compiler threads so that none of them exits
  * and takes its time out of the split. */
object Host {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def read(p: java.nio.file.Path): String =
    scala.util.Try(new String(Files.readAllBytes(p), "UTF-8")).getOrElse("")

  /** (thread name, utime + stime) from a /proc stat line. */
  private def stat(line: String): (String, Long) = {
    val close = line.lastIndexOf(')')
    if (close < 0) return ("", 0L)
    val name = line.substring(line.indexOf('(') + 1, close)
    val f = line.substring(close + 2).split(' ')
    (name, f(11).toLong + f(12).toLong)
  }

  def sample(tag: String): JValue = {
    val ticks = read(Paths.get("/proc/stat")).linesIterator.nextOption()
      .map(_.split("\\s+").drop(1).map(_.toLong).toSeq).getOrElse(Nil)
    var jit, gc = 0L
    Option(new java.io.File("/proc/self/task").listFiles()).toSeq.flatten.foreach { t =>
      val (name, v) = stat(read(t.toPath.resolve("stat")))
      if (name.contains("CompilerThre")) jit += v
      else if (name.startsWith("GC Thread") || name.startsWith("G1 ") || name == "VM Thread") gc += v
    }
    J.obj("tag" -> J.s(tag), "ms" -> JInt(System.currentTimeMillis()),
      "proc_ns" -> JInt(os.getProcessCpuTime), "jit" -> JInt(jit), "gc" -> JInt(gc),
      "ticks" -> JArray(ticks.map(JInt(_)).toList))
  }
}
