package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.json4s._

import graft.cdc._
import graft.streaming.{CdcStream, CdcStreamConfig}

import Harness.nowMs

/** What `fold_drain` maintains: snapshots of all three tables, SCD2 of
  * `orders`, and a `sum` aggregate of `part` by brand. Join views are
  * left out (see perfbench/NOTES.md). */
object Stores {
  val Pk: Map[String, Seq[String]] = Map(
    "orders" -> Seq("o_orderkey"), "customer" -> Seq("c_custkey"),
    "part" -> Seq("p_partkey"))
  val ByBrand = AggMaintainer.AggSpec("by_brand", Seq("p_brand"), Seq("p_retailprice"))

  def maintained(c: CdcStreamConfig, buckets: Int): CdcStreamConfig = c.copy(
    snapshotKeys = Pk, scd2Keys = Map("orders" -> Pk("orders")),
    aggSpecs = Map("part" -> Seq(ByBrand)), snapshotBuckets = buckets)
}

/** Moves generated files from the pool into an input dir, one atomic
  * rename each (the file source must never see a partial file). */
final class Lander(plan: Plan) {
  def land(files: Seq[String], inputDir: String): Unit = files.foreach { f =>
    Files.move(Paths.get(plan.path("pool", f)), Paths.get(inputDir, f),
      StandardCopyOption.ATOMIC_MOVE)
  }
}

/** `route_live` and `fold_drain`: a CdcStream over landed envelope files. */
final class StreamWorkload(plan: Plan, out: Out) {
  private val live = plan.str("workload") == "route_live"
  private val registryPath = plan.path("registry.json")
  private val lander = new Lander(plan)
  private var failed = 0

  private def config(root: String, trigger: Trigger): CdcStreamConfig = {
    val base = CdcStreamConfig(
      inputDir = s"$root/input", warehouseDir = s"$root/wh",
      checkpointDir = s"$root/ckpt", registry = Map.empty,
      maxFilesPerTrigger = plan.int("files_per_trigger"), trigger = trigger)
    if (live) base.copy(registryPath = Some(registryPath),
      compactEveryNBatches = plan.int("compact_every"))
    else Stores.maintained(base.copy(registry = Registry.load(registryPath)),
      plan.int("buckets"))
  }

  private def fresh(root: String): String = {
    Files.createDirectories(Paths.get(root, "input"))
    root
  }

  /** Bring the stream up on a fresh checkpoint and warehouse over an
    * empty input dir and run it to completion: the start-up cost every
    * deployment pays (checkpoint metadata, registry load, source
    * initialisation, first listing). Returns the CPU samples around it. */
  private def setupOnce(spark: SparkSession, i: Int): JValue = {
    val root = fresh(plan.path(s"setup$i"))
    val before = Host.sample("setup")
    CdcStream.start(spark, config(root, Trigger.AvailableNow())).awaitTermination()
    JArray(List(before, Host.sample("end")))
  }

  private def await(q: StreamingQuery, cond: => Boolean, timeoutMs: Long): Boolean = {
    val deadline = nowMs() + timeoutMs
    while (!cond) {
      if (!q.isActive || nowMs() > deadline) return false
      // a slow poll: the harness's own CPU counts as the program's
      Thread.sleep(50)
    }
    true
  }

  def run(spark0: SparkSession): SparkSession = {
    var spark = spark0
    out.mark("start")
    // the bring-ups are spread over the run: the first ones here, one
    // after each measured chunk, so that a slow spell of a shared host
    // meets few
    val setups = mutable.ArrayBuffer[JValue]()
    def setup(): Unit = {
      setups += setupOnce(spark, setups.size)
      out.put("setup_host", JArray(setups.toList))
    }
    (0 until plan.int("setup_first")).foreach(_ => setup())
    out.mark("setup")

    val root = fresh(plan.path("run"))
    val prog = new Progress
    spark.streams.addListener(prog)
    val q = CdcStream.start(spark, config(root, Trigger.ProcessingTime(plan.int("trigger_ms"))))
    val ck = new Checkpoint(s"$root/ckpt")
    val warm = plan.strs("warm")
    warm.foreach { f =>
      lander.land(Seq(f), s"$root/input")
      if (!await(q, ck.allCommitted(Seq(f)), 120000)) failed += 1
    }
    out.mark("warm")

    // the chunks: an ingest step, then a read slice over the warehouse
    // it has just written (the stream stays up, idle); the first chunk
    // is the warm-up
    val reads = new Reads(plan, out, s"$root/wh")
    val landed = mutable.ArrayBuffer[String]()
    val landings = mutable.ArrayBuffer[JValue]()
    val chunks = plan.j \ "chunks" match { case JArray(cs) => cs.map(plan.strs); case _ => Nil }
    val chunkReads = plan.ints("chunk_reads")
    val every = plan.int("compact_every")
    val interval = plan.int("trigger_ms")
    val samples = mutable.ArrayBuffer[JValue]()
    chunks.zipWithIndex.foreach { case (files, c) =>
      if (failed == 0) {
        samples += Host.sample("ingest")
        if (live) {
          // open loop, aligned to the trigger clock (ProcessingTime fires
          // at multiples of its interval): the files of interval k land
          // evenly inside it, so while the stream keeps up each trigger
          // takes one interval's files and the chunk's last trigger is
          // the compacting one. A file is due at its slot whether or not
          // the stream kept up; lateness of the landing is recorded.
          val t0 = (nowMs() / interval + 1) * interval
          val step = interval.toDouble * every / files.size
          files.zipWithIndex.foreach { case (f, i) =>
            val due = t0 + ((i + 0.5) * step).toLong
            val wait = due - nowMs()
            if (wait > 0) Thread.sleep(wait)
            lander.land(Seq(f), s"$root/input")
            landings += J.obj("file" -> J.s(f), "due_ms" -> JInt(due), "at_ms" -> JInt(nowMs()))
          }
        } else files.foreach { f =>
          // closed loop: the next file lands once the last one committed
          lander.land(Seq(f), s"$root/input")
          if (!await(q, ck.allCommitted(Seq(f)), 120000)) failed += 1
        }
        landed ++= files
        if (failed == 0 && !await(q, ck.allCommitted(files), 120000)) failed += 1
        if (failed == 0) {
          samples += Host.sample("read")
          reads.slice(spark, chunkReads(c), warm.size + landed.size)
          samples += Host.sample("setup")
          if (c > 0) setup()
        }
      }
    }
    out.put("host", JArray(samples.toList))
    out.mark("chunks")
    q.stop()
    q.exception.foreach { e => failed += 1; out.put("stream_error", J.s(e.toString)) }
    // the listener bus delivers progress asynchronously
    val batches = ck.files
    val wanted = ck.committed.filter(b => batches.values.exists(_ == b))
    val deadline = nowMs() + 10000
    while (!wanted.forall(prog.byBatch.contains) && nowMs() < deadline) Thread.sleep(20)
    spark.streams.removeListener(prog)

    out.put("landings", JArray(landings.toList))
    out.put("landed", JArray((warm ++ landed).map(J.s).toList))
    out.put("warm", JArray(warm.map(J.s).toList))
    out.put("progress", prog.json)
    out.put("file_batch", JObject(batches.toList.sorted.map { case (f, b) => f -> JInt(b) }))
    out.put("failed_triggers", JInt(failed))
    if (failed > 0) return spark

    val all = warm.size + landed.size
    if (plan.int("trace") == 1) {
      val byBatch = batches.toSeq.groupBy(_._2).toSeq.sortBy(_._1)
        .map { case (b, fs) => b -> fs.map(_._1).sorted }
      out.put("trace", replay(spark, byBatch, s"$root/input", plan.path("replay", "wh")))
      reads.traced(spark, all)
      if (!live) {
        // the warm-up trigger replayed again on one core: how much of
        // each layer is parallel work and how much is latency the cores
        // cannot hide
        spark.stop()
        spark = Harness.session("local[1]", plan.int("cores"))
        out.put("trace_1core", replay(spark, byBatch.take(warm.size), s"$root/input",
          plan.path("replay1", "wh")))
      }
    }
    spark
  }

  /** Replays the stream's trigger sequence by calling the layers
    * directly, in sequence, with the arguments CdcStream passes them.
    * Inside a streaming query every Spark job carries the stream's call
    * site, so only a replay can attribute jobs to layers. */
  private def replay(spark: SparkSession, batches: Seq[(Long, Seq[String])],
                     inputDir: String, wh: String): JValue = {
    val tr = new Tracer(spark)
    tr.attach()
    var reg = Registry.load(registryPath)
    val buckets = plan.int("buckets")
    def tableDirs = reg.values.map(_.physicalName).toSeq :+ Ingest.UnknownTableDir
    batches.foreach { case (b, files) =>
      val paths = files.map(f => s"$inputDir/$f")
      val marks = mutable.Map[String, Double]() // fold start times
      tr.span("trigger", b) {
        if (live) tr.span("registry.refresh", b) {
          reg = Registry.refreshCompatible(reg, Registry.load(registryPath))._1
        }
        val df = tr.span("source.read", b) { Envelope.parse(spark.read.text(paths: _*)) }
        tr.span("ingest.append", b) { Ingest.appendBatch(df, reg, wh, b) }
        if (!live) {
          def appended(t: String): DataFrame =
            spark.read.parquet(s"$wh/${reg(t).physicalName}/batch=$b").drop(Envelope.DtCol)
          def exists(t: String) = Files.exists(Paths.get(wh, reg(t).physicalName, s"batch=$b"))
          marks("snapshot") = tr.now
          Seq("orders", "customer").filter(exists).foreach { t =>
            tr.span("snapshot.fold", b) {
              SnapshotMaintainer.update(spark, wh, t, appended(t), Stores.Pk(t),
                buckets = buckets)
            }
          }
          marks("agg") = tr.now
          if (exists("part")) tr.span("agg.fold", b) {
            AggMaintainer.foldAndMaintain(spark, wh, "part", appended("part"),
              Stores.Pk("part"), Seq(Stores.ByBrand), snapshotBuckets = buckets)
          }
          marks("scd2") = tr.now
          if (exists("orders")) tr.span("scd2.fold", b) {
            Scd2Maintainer.update(spark, wh, "orders", appended("orders"),
              Stores.Pk("orders"), buckets = buckets)
          }
        }
        val every = plan.int("compact_every")
        if (live && every > 0 && b > 0 && b % every == 0) tr.span("ingest.compact", b) {
          tableDirs.foreach(p => Ingest.compactBatches(spark, wh, p, b - 1))
        }
      }
      // counts taken outside the timed spans
      tr.note(b, "ingest.files_written", tableDirs.map(p => Disk.walk(s"$wh/$p/batch=$b").size).sum)
      if (live) {
        if (tableDirs.exists(p => Files.exists(Paths.get(wh, p, "batch=-1"))))
          tr.note(b, "ingest.compact_bytes",
            tableDirs.map(p => Disk.bytes(s"$wh/$p/batch=-1")).sum.toDouble)
      } else {
        val snap = (t: String) => SnapshotMaintainer.snapshotDir(wh, t)
        val (sf1, sb1) = Disk.writtenSince(snap("orders"), marks("snapshot"))
        val (sf2, sb2) = Disk.writtenSince(snap("customer"), marks("snapshot"))
        val (af1, ab1) = Disk.writtenSince(snap("part"), marks("agg"))
        val (af2, ab2) = Disk.writtenSince(AggMaintainer.aggDir(wh, "part", "by_brand"), marks("agg"))
        val (cf, cb) = Disk.writtenSince(Scd2Maintainer.scd2Dir(wh, "orders"), marks("scd2"))
        tr.note(b, "snapshot.files_written", sf1 + sf2)
        tr.note(b, "snapshot.touched_buckets", sb1 + sb2)
        tr.note(b, "agg.files_written", af1 + af2)
        tr.note(b, "agg.touched_buckets", ab1 + ab2)
        tr.note(b, "scd2.files_written", cf)
        tr.note(b, "scd2.touched_buckets", cb)
      }
      // the parse alone, materialized through a sink that writes nothing
      tr.span("envelope.parse", b) {
        Envelope.parse(spark.read.text(paths: _*)).write.format("noop").mode("overwrite").save()
      }
    }
    tr.detach()
    tr.json
  }
}

/** The read phase: a seeded closed-loop mix of point-in-time queries
  * over the warehouse the ingest phase wrote (uncompacted batch dirs plus
  * maintained stores for `fold_drain`, compacted history for
  * `route_live`). One client; each answer is reduced to a digest that
  * run.py checks against DuckDB. */
final class Reads(plan: Plan, out: Out, wh: String) {
  private def list(k: String) = plan.j \ k match { case JArray(xs) => xs; case _ => Nil }
  private val queries = list("queries")
  private val next = queries.iterator
  private val timed = mutable.ArrayBuffer[JValue]()

  /** The next `n` queries of the mix, one after another. `landed` is
    * the number of input files the warehouse holds. */
  def slice(spark: SparkSession, n: Int, landed: Int): Unit = {
    register(spark)
    (0 until n).foreach { _ =>
      if (next.hasNext) timed += tagged(execute(spark, next.next(), None), landed)
    }
    out.put("results", JArray(timed.toList))
  }

  /** The queries after the warm-up chunk's again, each call into a
    * layer under a span. */
  def traced(spark: SparkSession, landed: Int): Unit = {
    register(spark)
    val tr = new Tracer(spark)
    tr.attach()
    val traced = queries.slice(plan.ints("chunk_reads").head, timed.size)
      .map(q => tagged(execute(spark, q, Some(tr)), landed))
    tr.detach()
    out.put("trace_results", JArray(traced))
    out.put("read_trace", tr.json)
  }

  // a registered view keeps the file listing it was created with
  private def register(spark: SparkSession): Unit =
    VersionedSql.register("orders_v", Ingest.readTable(spark, wh, "orders"), Stores.Pk("orders"))

  private def tagged(r: JValue, landed: Int): JValue = r match {
    case JObject(fs) => JObject(fs :+ ("landed" -> JInt(landed)))
    case other => other
  }

  private def execute(spark: SparkSession, q: JValue, tr: Option[Tracer]): JValue = {
    val id = q \ "id" match { case JInt(i) => i.toLong; case _ => -1L }
    val kind = (q \ "kind").asInstanceOf[JString].s
    def s(k: String): String = (q \ k).asInstanceOf[JString].s
    def n(k: String): Long = (q \ k) match { case JInt(i) => i.toLong; case _ => 0L }
    def sp[A](name: String)(body: => A): A = tr.fold(body)(_.span(name, id)(body))
    def table(t: String): DataFrame = sp("ingest.read_table") { Ingest.readTable(spark, wh, t) }
    def ts(k: String) = lit(s(k)).cast("timestamp")
    val okey = col("o_orderkey")
    val t = System.nanoTime()
    val (rows, files) = try {
      val (rows, dfFiles): (Array[Row], () => Int) = kind match {
        case "as_of" => sp("versioned.as_of") {
          (Versioned.asOf(table("orders"), ts("t"), Stores.Pk("orders")).collect(), () => 0)
        }
        case "latest" => sp("versioned.latest") {
          (Versioned.latestSnapshot(table("customer"), Stores.Pk("customer")).collect(), () => 0)
        }
        case "changes_between" => sp("versioned.changes_between") {
          (Versioned.changesBetween(table("orders"), ts("t"), ts("t2")).collect(), () => 0)
        }
        case "history" => sp("versioned.history") {
          (Versioned.history(table("orders"), okey === n("k")).collect(), () => 0)
        }
        case "as_of_join" => sp("versioned.as_of_join") {
          val facts = table("orders")
            .filter(col("action") =!= Versioned.DeleteAction &&
              okey >= n("k") && okey < n("k2"))
            .select(okey, col("o_custkey").as("c_custkey"), col("update_date").as("fact_ts"))
          (Versioned.asOfJoin(facts, table("customer"), Stores.Pk("customer"), "fact_ts")
            .collect(), () => 0)
        }
        case "sql_as_of" => sp("versioned_sql.as_of") {
          (spark.sql(s"SELECT * FROM as_of('orders_v', TIMESTAMP '${s("t_sql")}')").collect(),
            () => 0)
        }
        case "snapshot_read" => sp("snapshot.read") {
          val df = SnapshotMaintainer.read(spark, wh, "orders")
            .filter(okey >= n("k") && okey < n("k2"))
          (df.collect(), () => df.inputFiles.length)
        }
        case "scd2_read" => sp("scd2.read") {
          val df = Scd2Maintainer.read(spark, wh, "orders")
            .filter(okey >= n("k") && okey < n("k2"))
          (df.collect(), () => df.inputFiles.length)
        }
        case "agg_read" => sp("agg.read") {
          val df = AggMaintainer.read(spark, wh, "part", "by_brand")
          (df.collect(), () => df.inputFiles.length)
        }
      }
      val ms = (System.nanoTime() - t) / 1e6
      (Some((rows, ms)), if (tr.isDefined) dfFiles() else 0)
    } catch {
      case e: Exception =>
        System.err.println(s"query $id ($kind) failed: $e")
        (None, 0)
    }
    rows match {
      case None => J.obj("id" -> JInt(id), "kind" -> J.s(kind), "error" -> JBool(true))
      case Some((rs, ms)) =>
        tr.foreach(_.note(id, s"${kind}.files_read", files))
        J.obj("id" -> JInt(id), "kind" -> J.s(kind), "ms" -> J.d(ms),
          "digest" -> Digest(kind, rs))
    }
  }
}

/** A small engine-independent summary of a query answer: row count, sum
  * of a key column, and sum of a value column in hundredths. run.py
  * computes the same summary from DuckDB. */
object Digest {
  private val cols: Map[String, (String, String)] = Map(
    "as_of" -> ("o_orderkey", "o_totalprice"),
    "sql_as_of" -> ("o_orderkey", "o_totalprice"),
    "changes_between" -> ("o_orderkey", "o_totalprice"),
    "history" -> ("o_orderkey", "o_totalprice"),
    "snapshot_read" -> ("o_orderkey", "o_totalprice"),
    "latest" -> ("c_custkey", "c_acctbal"),
    "as_of_join" -> ("o_orderkey", "c_acctbal"),
    "scd2_read" -> ("o_orderkey", "is_current"),
    "agg_read" -> ("n_rows", "sum_p_retailprice"))

  private def hundredths(v: Any): BigInt = v match {
    case null => 0
    case d: Double => BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP).bigDecimal
      .movePointRight(2).toBigIntegerExact
    case d: java.math.BigDecimal => BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP)
      .bigDecimal.movePointRight(2).toBigIntegerExact
    case b: Boolean => if (b) 100 else 0
    case x => sys.error(s"no digest for $x")
  }

  def apply(kind: String, rows: Array[Row]): JValue = {
    val (k, v) = cols(kind)
    var keys = BigInt(0)
    var vals = BigInt(0)
    rows.foreach { r =>
      keys += BigInt(r.getAs[Any](k).asInstanceOf[Number].longValue)
      vals += hundredths(r.getAs[Any](v))
    }
    J.obj("n" -> JInt(rows.length), "keys" -> JInt(keys), "vals" -> JInt(vals))
  }
}
