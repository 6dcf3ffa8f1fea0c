package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.cdc.{AggMaintainer, BucketStore, Envelope, Ingest, Scd2Maintainer,
  SnapshotMaintainer, TableSpec}

/** Where envelope lines come from (reference stage S1). */
sealed trait CdcSource
/** Directory of (gzipped) JSONL log files — the Datastream→bucket layout;
  * the file source's own new-file discovery subsumes the reference's
  * Pub/Sub notification hop (`dataflow-cdc-stream.py:138`). */
final case class FileSource(inputDir: String) extends CdcSource
/** Kafka topic(s) whose record VALUE is one envelope line — the queue-
  * shaped S1 the reference actually consumes. Requires the
  * `spark-sql-kafka-0-10` connector on the runtime classpath (not bundled
  * here); everything downstream of the source is identical to the file
  * path and is tested from file-backed Kafka-schema frames. */
final case class KafkaSource(bootstrapServers: String, topics: String,
                             startingOffsets: String = "earliest",
                             maxOffsetsPerTrigger: Long = 1000000L) extends CdcSource
/** Directory-backed append-only record queue with Kafka's OFFSET
  * semantics ([[graft.sources.QueueSourceProvider]]): global monotonic
  * offsets, checkpointed (start, end] ranges, bounded admission via
  * maxRecordsPerTrigger through the same SupportsAdmissionControl engine
  * path Kafka's maxOffsetsPerTrigger uses. The in-repo proof of the
  * queue-shaped S1 seam — this container has no broker and no Kafka
  * connector jar, so [[KafkaSource]]'s E2E runs as QueueSource E2E
  * (QueueSourceSpec: bounded batches, restart-resume, file-source
  * parity); a deployment swaps the format string, nothing else. */
final case class QueueSource(dir: String,
                             maxRecordsPerTrigger: Long = 1000000L) extends CdcSource

/** In-stream history-retention policy for one table: history older than
  * `lag` behind the table's NEWEST event time collapses to its as-of
  * state per `pk` (tombstones retained — [[graft.cdc.Retention
  * .expireHistory]]'s contract: every asOf/changesBetween at or after the
  * horizon is unchanged). The horizon derives from the data (max
  * update_date − lag), never the wall clock, so a crash-replayed expiry
  * recomputes identically. */
final case class ExpirePolicy(lag: String, pk: Seq[String])

/** A maintained equi-join view over two snapshot tables (join key must
  * be a payload column on BOTH sides). */
final case class JoinViewSpec(view: String, jk: String,
                              tableA: String, tableB: String)

final case class CdcStreamConfig(
    inputDir: String,
    warehouseDir: String,
    checkpointDir: String,
    registry: Map[String, TableSpec],
    maxFilesPerTrigger: Int = 1000,
    trigger: Trigger = Trigger.AvailableNow(),
    /** Overrides `inputDir` when set (inputDir remains the common case). */
    source: Option[CdcSource] = None,
    /** Registry JSON path to re-read on every micro-batch: a table
      * added to the registry file starts routing
      * WITHOUT a stream restart (the reference's per-record fetch applies
      * edits immediately but at catastrophic per-record cost — a per-batch
      * driver-side reload is the same operational knob for free).
      * Earlier dead-lettered records are recovered via
      * `Ingest.replayDeadLetter` once the table is registered. */
    registryPath: Option[String] = None,
    /** e.g. Some("1 hour"): drop duplicate (object, payload, event-time)
      * records within the watermark — protects against duplicate file
      * delivery from an at-least-once upstream. */
    dedupWithinWatermark: Option[String] = None,
    /** Ingest-INPUT listing policy (file source only): "archive" moves
      * each processed input file to [[sourceArchiveDir]], "delete"
      * removes it, "off" (default) leaves it in place. A long-running
      * stream re-lists the input directory every trigger, so without a
      * policy the trigger cost grows O(files ever landed) even though
      * each file is processed once; with archive/delete it stays
      * O(unprocessed files) — the engine-side equivalent of the
      * reference's notification-driven discovery (OBJECT_FINALIZE →
      * Pub/Sub, `build/stream/stream.tf:23-29`), which exists precisely
      * so nobody lists a growing bucket. Spark's cleaner runs
      * asynchronously after each batch commits, so moves lag processing
      * by up to a trigger — a listing-cost bound, not a transactional
      * move. */
    cleanSource: String = "off",
    /** Required when `cleanSource = "archive"`; must lie OUTSIDE the
      * input directory's glob (Spark rejects an archive dir the source
      * pattern would re-discover). */
    sourceArchiveDir: Option[String] = None,
    /** table → primary key columns: tables listed here get an
      * incrementally-maintained current-state snapshot
      * (SnapshotMaintainer) folded per micro-batch. */
    snapshotKeys: Map[String, Seq[String]] = Map.empty,
    /** pk-hash bucket count for maintained snapshots — size so one
      * bucket ≈ 10⁵ keys at the deployment's table size. */
    snapshotBuckets: Int = graft.cdc.SnapshotMaintainer.DefaultBuckets,
    /** table → maintained GROUP BY aggregates over that table's
      * snapshot (requires the table in `snapshotKeys`): each micro-batch
      * applies per-group deltas through [[graft.cdc.AggMaintainer]] —
      * the CDC-native materialized view. */
    aggSpecs: Map[String, Seq[graft.cdc.AggMaintainer.AggSpec]] = Map.empty,
    /** maintained equi-join views ([[graft.cdc.JoinMaintainer]]): both
      * member tables must be in `snapshotKeys`, must carry no
      * `aggSpecs`, and may appear in at most one view — a member
      * table's per-trigger fold runs INSIDE the maintainer (its
      * pre-fold read needs the OLD join keys, so the fold cannot have
      * happened yet); all other tables fold as before. */
    joinViews: Seq[JoinViewSpec] = Seq.empty,
    /** table → primary key columns: tables listed here additionally get
      * an incrementally-maintained SCD2 interval table
      * ([[graft.cdc.Scd2Maintainer]]) folded per micro-batch —
      * independent of `snapshotKeys` (a table may maintain either or
      * both; the folds share the appended batch read). */
    scd2Keys: Map[String, Seq[String]] = Map.empty,
    /** partition versioned tables by event-time date (`_dt`) so
      * asOf/changesBetween prune directories (Versioned.asOfPruned). */
    partitionByDate: Boolean = false,
    /** > 0: every N micro-batches, merge all committed `batch=<id>` dirs
      * (ids < the in-flight batch) into the reserved `batch=-1` dir for
      * every registry table + the dead letter — bounds the one-dir-per-
      * trigger accumulation that otherwise makes file LISTING (not data)
      * the dominant per-trigger cost of a long-running stream. Replay-
      * safe: only ids the checkpoint can no longer replay are merged
      * (see Ingest.compactBatches). 0 = off. */
    compactEveryNBatches: Int = 0,
    /** > 0: every N micro-batches, collapse each listed table's history
      * older than its [[ExpirePolicy]] horizon to its as-of state —
      * retention bound for a long-running stream WITHOUT a restart. Runs
      * through the same crash-safe manifest swap as compaction (expiry
      * IS a compacting rewrite), so it also merges batch dirs for its
      * tables. 0 = off. */
    expireEveryNBatches: Int = 0,
    /** logical table name → in-stream retention policy. */
    expire: Map[String, ExpirePolicy] = Map.empty)

/** Structured Streaming CDC pipeline: watch a directory for (gzipped)
  * JSONL Datastream logs, parse, route to per-table append sinks.
  *
  * Reference pipeline stages S1–S11 (SURVEY.md §3.1) collapse to:
  * file source (its own new-file discovery subsumes the reference's
  * Pub/Sub notification hop) → envelope parse → optional
  * dedup-within-watermark → `foreachBatch` router.
  *
  * Delivery semantics: the file source + checkpoint give exactly-once
  * *batch replay*; `Ingest.appendBatch` writes `batch=<id>` dirs with
  * overwrite, so replays are idempotent — strictly stronger than the
  * reference, whose per-record side pipelines double-write on retry
  * (SURVEY.md §2.2 "streaming stateful ops").
  */
object CdcStream {

  private val nextStreamId = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Session-unique suffix for streaming query names (Spark rejects two
    * ACTIVE queries sharing a name); also used by AnnStream/DocStream. */
  private[streaming] def streamId(): Long = nextStreamId.getAndIncrement()

  /** Kafka wire frame → envelope lines: the record value IS the line.
    * Pure projection, so the whole downstream pipeline is testable from
    * any frame with the Kafka schema (key/value binary, topic, partition,
    * offset, timestamp) without a broker. */
  def kafkaLines(kafkaFrame: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    kafkaFrame.selectExpr("CAST(value AS STRING) AS value")

  def start(spark: SparkSession, cfg: CdcStreamConfig): StreamingQuery = {
    {
      val members = cfg.joinViews.flatMap(v => Seq(v.tableA, v.tableB))
      require(members.distinct.size == members.size,
        "a table may appear in at most one maintained join view")
      members.foreach { t =>
        require(cfg.snapshotKeys.contains(t),
          s"join-view table '$t' needs a snapshotKeys entry")
        require(!cfg.aggSpecs.get(t).exists(_.nonEmpty),
          s"join-view table '$t' cannot also carry aggSpecs (the view " +
            "maintainer owns its fold)")
      }
    }
    require(cfg.cleanSource != "archive" || cfg.sourceArchiveDir.nonEmpty,
      "cleanSource=archive requires sourceArchiveDir")
    // a static registry never learns a table, so a policy naming one it
    // lacks would never expire anything
    if (cfg.registryPath.isEmpty) {
      val unknown = cfg.expire.keySet -- cfg.registry.keySet
      require(unknown.isEmpty, "expire policy for table(s) absent from the " +
        s"static registry: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    val lines = cfg.source.getOrElse(FileSource(cfg.inputDir)) match {
      case FileSource(dir) =>
        var rd = spark.readStream
          .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger)
        if (cfg.cleanSource != "off")
          rd = rd.option("cleanSource", cfg.cleanSource)
        cfg.sourceArchiveDir.foreach(d => rd = rd.option("sourceArchiveDir", d))
        rd.text(dir)
      case KafkaSource(servers, topics, offsets, maxPerTrigger) =>
        kafkaLines(spark.readStream
          .format("kafka")
          .option("kafka.bootstrap.servers", servers)
          .option("subscribe", topics)
          .option("startingOffsets", offsets)
          .option("maxOffsetsPerTrigger", maxPerTrigger)
          .load())
      case QueueSource(dir, maxPerTrigger) =>
        spark.readStream
          .format(classOf[graft.sources.QueueSourceProvider].getName)
          .option("path", dir)
          .option("maxRecordsPerTrigger", maxPerTrigger)
          .load()
    }

    val parsed = Envelope.parse(lines)

    val deduped = cfg.dedupWithinWatermark match {
      case Some(delay) =>
        parsed
          .withColumn("_event_ts", col("source_timestamp").cast("timestamp"))
          .withWatermark("_event_ts", delay)
          .dropDuplicatesWithinWatermark("object", "payload", "_event_ts")
          .drop("_event_ts")
      case None => parsed
    }

    // The registry is a driver-side value captured by the foreachBatch
    // closure and shipped to executors once per batch — never fetched per
    // record. With `registryPath` set it is re-read from the file on every
    // trigger (a cheap driver-side read), so registry edits apply to a
    // RUNNING stream: new tables start routing, everything else already
    // in flight is untouched.
    var registry =
      if (cfg.registry.nonEmpty || cfg.registryPath.isEmpty) cfg.registry
      else graft.cdc.Registry.load(cfg.registryPath.get)

    // unique per start: Spark rejects two ACTIVE queries with one name,
    // so a fixed name would forbid two concurrent CDC streams (different
    // table groups, or test suites) in one session
    deduped.writeStream
      .queryName(s"graft-cdc-stream-${CdcStream.streamId()}")
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(cfg.trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        cfg.registryPath.foreach { p =>
          // a refresh failure (mid-write truncated JSON, transient read
          // error) must not kill the stream: keep routing with the last
          // good registry and retry next trigger
          try {
            val fresh = graft.cdc.Registry.load(p)
            // type flips on existing columns would poison the physical
            // table (mixed-type batch dirs): keep the old spec for the
            // offending table, apply everything else
            val (merged, rejected) =
              graft.cdc.Registry.refreshCompatible(registry, fresh)
            rejected.foreach(r => System.err.println(
              s"[graft-cdc] registry refresh REJECTED type change for $r — " +
                "keeping the previous schema (a type flip would poison the " +
                "physical table with mixed-type batch dirs)"))
            registry = merged
          } catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(
                s"[graft-cdc] registry refresh failed (keeping previous): $e")
          }
        }
        val df = batch.toDF()
        val joinTables = cfg.joinViews
          .flatMap(v => Seq(v.tableA, v.tableB)).toSet
        // the bucketing of every store the snapshot, Agg and SCD2 folds
        // below maintain: the routing write observes each one's touched
        // buckets, so no fold runs a Spark job to find them (a join-view
        // member folds inside its view's maintainer, which finds its own)
        def bucketing(table: String, pk: Seq[String]) =
          BucketStore.Bucketing(table, pk, cfg.snapshotBuckets)
        val touched = Ingest.appendBatch(df, registry, cfg.warehouseDir, batchId,
          partitionByDate = cfg.partitionByDate,
          touched = (cfg.snapshotKeys.toSeq.filterNot(kv => joinTables(kv._1)) ++
            cfg.scd2Keys.toSeq).map { case (t, pk) => bucketing(t, pk) })
        val sess = df.sparkSession
        // each maintained table's batch dir, read ONCE per trigger with the
        // schema the registry declares (what Envelope.project wrote) — every
        // fold below takes this frame, and a dir written with no rows (only
        // `_SUCCESS`, e.g. under partitionByDate) reads as an empty frame
        // instead of failing schema inference. Folding from these COLUMNAR
        // rows, not re-projecting `df`, avoids re-scanning and re-parsing
        // the JSON source (appendBatch released its cache).
        val appended = (cfg.snapshotKeys.keySet ++ cfg.scd2Keys.keySet)
          .flatMap(t => registry.get(t).map(spec => t ->
            sess.read.schema(Envelope.projectedSchema(spec))
              .parquet(s"${cfg.warehouseDir}/${spec.physicalName}/batch=$batchId")
              .drop(Envelope.DtCol)))
          .toMap
        def snapshotFolds(): Unit = cfg.snapshotKeys.foreach { case (table, pk) =>
          // a join-view member folds inside its view's maintainer
          if (!joinTables(table)) appended.get(table).foreach { batch =>
            val set = touched(bucketing(table, pk))
            cfg.aggSpecs.get(table) match {
              case Some(specs) if specs.nonEmpty =>
                // fold + per-group aggregate deltas in one coupled pass
                AggMaintainer.foldAndMaintainTouched(sess, cfg.warehouseDir,
                  table, batch, pk, specs, set, snapshotBuckets = cfg.snapshotBuckets)
              case _ =>
                SnapshotMaintainer.updateTouched(sess, cfg.warehouseDir,
                  table, batch, pk, set, buckets = cfg.snapshotBuckets)
            }
          }
        }
        def scd2Folds(): Unit = cfg.scd2Keys.foreach { case (table, pk) =>
          appended.get(table).foreach(batch =>
            Scd2Maintainer.updateTouched(sess, cfg.warehouseDir, table,
              batch, pk, touched(bucketing(table, pk)), buckets = cfg.snapshotBuckets))
        }
        // the snapshot/agg folds and the SCD2 folds are independent
        // maintainers over DISJOINT store dirs that both read only the
        // batch dirs appendBatch just wrote — overlap them (guide §2.6;
        // graft.core.Par). Every fold still happens-before this
        // micro-batch commits, so the checkpoint-retry contract is
        // unchanged.
        graft.core.Par.both(snapshotFolds(), scd2Folds()): Unit
        cfg.joinViews.foreach { v =>
          def side(t: String) =
            graft.cdc.JoinMaintainer.Side(t, cfg.snapshotKeys(t), appended.get(t))
          graft.cdc.JoinMaintainer.foldAndMaintain(sess, cfg.warehouseDir,
            v.view, v.jk, side(v.tableA), side(v.tableB),
            snapshotBuckets = cfg.snapshotBuckets)
        }
        def due(every: Int) = every > 0 && batchId > 0 && batchId % every == 0
        // a table whose expire policy is due compacts WITH the expiry
        // transform: one rewrite per table even when both schedules fall
        // on this trigger (expiry IS a compacting rewrite)
        val expiring: Map[String, DataFrame => DataFrame] =
          if (!due(cfg.expireEveryNBatches)) Map.empty
          else cfg.expire.flatMap { case (table, pol) =>
            registry.get(table) match {
              case Some(spec) => Some(spec.physicalName -> { (merged: DataFrame) =>
                // horizon from the DATA (newest event time − lag), not
                // the wall clock: deterministic under crash replay. A
                // timestamp-typed horizon compares correctly against
                // both registry update_date types (STRING is ISO-8601;
                // Spark casts the string side for the comparison).
                val mx = merged.agg(max(col("update_date").cast("timestamp"))).head()
                if (mx.isNullAt(0)) merged
                else graft.cdc.Retention.expireHistory(merged,
                  lit(mx.getTimestamp(0)) - expr(s"INTERVAL ${pol.lag}"),
                  pol.pk)
              })
              // only a refreshing registry gets here (start() rejects a
              // static one): the table may be registered by a later refresh
              case None =>
                System.err.println(
                  s"[graft-cdc] expire policy for table '$table' skipped: not registered yet")
                None
            }
          }
        val compacting =
          if (!due(cfg.compactEveryNBatches)) Nil
          else registry.values.map(_.physicalName).toSeq :+ Ingest.UnknownTableDir
        (compacting ++ expiring.keys).distinct.foreach { phys =>
          Ingest.compactBatches(sess, cfg.warehouseDir, phys, batchId - 1,
            transform = expiring.get(phys))
        }
      }
      .start()
  }

  /** Run to completion over currently-available files (AvailableNow). */
  def runOnce(spark: SparkSession, cfg: CdcStreamConfig): Unit = {
    val q = start(spark, cfg.copy(trigger = Trigger.AvailableNow()))
    q.awaitTermination()
  }
}
