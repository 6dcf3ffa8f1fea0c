package graft.cdc

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Batch CDC ingest: parse a directory of (gzipped) JSONL envelope logs,
  * route every record to its registry table, append.
  *
  * This is the Spark restatement of the reference's whole main path
  * (S1–S11, SURVEY.md §2.1) minus its de-optimizations: the registry is a
  * closure constant instead of a per-record fetch, and the write is one
  * columnar append per table per (micro-)batch instead of a fresh pipeline
  * per record (`dataflow-cdc-stream.py:82-94`).
  *
  * Idempotence: each batch writes into `<table>/batch=<id>` with overwrite,
  * so a replayed batch (streaming restart, at-least-once file delivery
  * upstream) lands in the same directory and cannot double-append. Readers
  * just scan `<warehouse>/<table>` and see `batch` as a partition column.
  *
  * Scale posture: routing is N registry-filters over one cached parsed
  * frame — each filter prunes on a low-cardinality `object` column; at
  * 1000-executor scale the parsed frame would additionally be
  * `repartition($"object")`-ed only if per-table output files must be
  * consolidated (a shuffle we avoid by default).
  */
object Ingest {

  val UnknownTableDir = "_dead_letter"

  /** Target rows per output file for routed batch appends (guide §6:
    * aim for ~100 MB-band files; CDC envelope rows parquet to a few
    * hundred bytes, so 2M rows ≈ a few hundred MB): at sf0.1 triggers it
    * coalesces KB-sized splits to one file, at cluster-scale triggers
    * rows/RecordsPerFile keeps the write as wide as the data warrants. */
  private val RecordsPerFile = 2000000L

  def readLines(spark: SparkSession, inputDir: String): DataFrame =
    spark.read.text(inputDir) // .gz handled transparently by the text source

  def parse(spark: SparkSession, inputDir: String): DataFrame =
    Envelope.parse(readLines(spark, inputDir))

  /** Route one parsed batch: per registry table an append, unknown objects
    * to the dead letter (reference drops-with-a-log at
    * `dataflow-cdc-stream.py:96-97`; we keep the data instead of stdout).
    *
    * Returns the bucket ids each `touched` bucketing's table holds in
    * this batch: the routed write of a table named there carries an
    * observed `collect_set` of [[BucketStore.bucketOf]] over the
    * bucketing's key, so the sets come out of the writes themselves, with
    * no Spark job of their own. A bucketing whose table the registry
    * lacks gets no entry (nothing is routed to it). */
  def appendBatch(parsed: DataFrame, registry: Map[String, TableSpec],
                  warehouseDir: String, batchId: Long,
                  partitionByDate: Boolean = false,
                  touched: Seq[BucketStore.Bucketing] = Nil)
      : Map[BucketStore.Bucketing, Seq[Int]] = {
    // the compacted partition holds MERGED history — an idempotent
    // batch overwrite targeting it would replace all of it with one
    // batch's rows; no legitimate caller appends at this id
    require(batchId != CompactedBatchId,
      s"batch id $batchId is reserved for compacted history")
    // one observation per routed table, one set per distinct bucketing
    val observed = touched.distinct.filter(b => registry.contains(b.table))
      .groupBy(_.table).map { case (t, bs) => t -> (Observation(), bs) }
    val cached = parsed.cache()
    try {
      // Materialize the cache at full parallelism ONCE and learn the
      // batch size: the routed writes below then COALESCE to a
      // row-count-sized file count instead of inheriting one file per
      // source split (guide §6 — output files in the ~100 MB band). A
      // micro-batch's text splits are unsplittable-gz-file-sized, so at
      // small triggers the old layout wrote dozens of KB-sized part
      // files per table per trigger, each costing a create+flush+rename
      // on the latency-bound commit path; at large triggers
      // rows/RecordsPerFile keeps the write wide.
      val (rows, srcParts) = materializeCounting(cached)
      val nFiles = math.max(1L, math.min(srcParts.toLong,
        (rows + RecordsPerFile - 1) / RecordsPerFile)).toInt
      // the per-table routed appends and the dead-letter append are
      // independent jobs to disjoint `batch=` dirs over ONE cached
      // parsed frame (block-level locks make a racing first
      // materialization compute-once) — overlap them so each table's
      // small write back-fills the cores the others leave idle (guide
      // §2.6); Par.all settles every write before the cache releases
      val tableWrites: Seq[() => Unit] = registry.toSeq.map { case (table, spec) =>
        () => {
          val projected = Envelope.project(cached, spec, withDatePartition = partitionByDate)
          val routed = observed.get(table).fold(projected) { case (obs, bs) =>
            val exprs = bs.indices.map(i =>
              collect_set(BucketStore.bucketOf(bs(i).key, bs(i).buckets)).as(s"b$i"))
            projected.observe(obs, exprs.head, exprs.tail: _*)
          }
          val writer = routed.coalesce(nFiles).write.mode("overwrite")
          // event-time date partitioning: asOf/changesBetween prune whole
          // directories before any shuffle at cluster scale
          // physical destination: the registry's `table_name` mapping
          // (reference data-stream.json:3, routed at dataflow-cdc-stream
          // .py:86-88) — logical name is the envelope key, physical the dir
          (if (partitionByDate) writer.partitionBy(Envelope.DtCol) else writer)
            .parquet(s"$warehouseDir/${spec.physicalName}/batch=$batchId")
        }
      }
      val deadWrite: () => Unit = () => {
        val known = registry.keySet.toSeq
        val dead = cached.filter(col("object").isNull || !col("object").isin(known: _*))
        // dead letter keeps the raw line — fully replayable once the
        // registry learns the table
        dead.select(col("object"), col("_raw"))
          .coalesce(nFiles).write.mode("overwrite")
          .parquet(s"$warehouseDir/$UnknownTableDir/batch=$batchId")
      }
      graft.core.Par.all(tableWrites :+ deadWrite)
    } finally cached.unpersist()
    // read only once every write has returned: a failed write raised
    // above, so no read waits on an observation that never completes
    observed.values.flatMap { case (obs, bs) =>
      val sets = obs.get
      bs.indices.map(i =>
        bs(i) -> sets(s"b$i").asInstanceOf[scala.collection.Seq[Int]].toSeq.sorted)
    }.toMap
  }

  /** Materialize a cached frame with ONE Spark job at full parallelism
    * and return its row count and partition count; the count is final
    * when the job returns. The job scans the cached relation with no
    * columns, so the cache is built whole but no row is decoded.
    * `Dataset.count()` costs three jobs here under AQE (the cached
    * relation as a stage of its own, then the aggregate's shuffle-map
    * and result jobs), and an `Observation` would make the caller wait
    * on an asynchronous listener event. */
  private[cdc] def materializeCounting(cached: DataFrame): (Long, Int) = {
    val rdd = cached.select(lit(1)).queryExecution.toRdd
    (rdd.count(), math.max(1, rdd.getNumPartitions))
  }

  /** One-shot batch ingest of a directory. */
  def ingestDir(spark: SparkSession, inputDir: String,
                registry: Map[String, TableSpec], warehouseDir: String,
                partitionByDate: Boolean = false): Unit =
    appendBatch(parse(spark, inputDir), registry, warehouseDir, batchId = 0L,
      partitionByDate = partitionByDate)

  /** Read back a versioned table written by `appendBatch` by its PHYSICAL
    * (directory) name. Partition columns (`batch`, `_dt`) are dropped
    * unless the caller wants them for pruning (see Versioned.asOfPruned).
    *
    * `mergeSchema` defaults ON: batch dirs written BEFORE a registry
    * schema change carry the narrower schema; the union schema (old rows
    * NULL in new columns) is the CDC warehouse contract. Cost is a Spark
    * job per read that reads every file's footer before the query's own
    * jobs run; pass false for hot paths on schema-stable tables. */
  def readTable(spark: SparkSession, warehouseDir: String, physicalName: String,
                keepPartitionCols: Boolean = false,
                mergeSchema: Boolean = true): DataFrame = {
    val df = spark.read.option("mergeSchema", mergeSchema)
      .parquet(s"$warehouseDir/$physicalName")
    if (keepPartitionCols) df else df.drop("batch").drop(Envelope.DtCol)
  }

  /** Table contents as written up to (and including) micro-batch
    * `maxBatchId` — batch-level time travel for replay debugging and
    * incremental consumers. `batch` is a partition column, so the cutoff
    * prunes whole directories at planning time. */
  def readTableAsOfBatch(spark: SparkSession, warehouseDir: String, physicalName: String,
                         maxBatchId: Long): DataFrame =
    readTable(spark, warehouseDir, physicalName, keepPartitionCols = true)
      .filter(col("batch") <= maxBatchId)
      .drop("batch").drop(Envelope.DtCol)

  /** Spec-aware read: resolves the registry's logical→physical mapping. */
  def readTable(spark: SparkSession, warehouseDir: String, spec: TableSpec,
                keepPartitionCols: Boolean): DataFrame =
    readTable(spark, warehouseDir, spec.physicalName, keepPartitionCols)

  def readTable(spark: SparkSession, warehouseDir: String, spec: TableSpec): DataFrame =
    readTable(spark, warehouseDir, spec.physicalName)

  /** Replay dead-lettered records after the registry learned new tables:
    * re-parse the raw lines and append every record whose `object` is now
    * registered (the reference loses these records forever — it only
    * `print`s them, `dataflow-cdc-stream.py:96-97`; keeping the raw line
    * makes "add table to registry, then backfill" a one-call operation).
    * Appends into `batch=<replayBatchId>`; pick an id disjoint from the
    * stream's (e.g. negative) so replays stay idempotent too. */
  def replayDeadLetter(spark: SparkSession, warehouseDir: String,
                       registry: Map[String, TableSpec],
                       replayBatchId: Long = ReplayBatchId): Unit = {
    val dead = spark.read.parquet(s"$warehouseDir/$UnknownTableDir")
      .select(col("_raw").as("value"))
    val parsed = Envelope.parse(dead)
    val nowKnown = registry.keySet.toSeq
    appendBatch(parsed.filter(col("object").isin(nowKnown: _*)),
      registry, warehouseDir, replayBatchId)
  }

  /** Reserved batch partition the IN-STREAM compactor merges history
    * into. Negative so it can never collide with a streaming batch id:
    * a replayed batch overwrites its own `batch=<id>` dir, and merging
    * history into a replayable id would let that overwrite destroy
    * other batches' rows (same invariant as DocStream.CompactedBatch). */
  val CompactedBatchId: Long = -1L

  /** Reserved id for [[replayDeadLetter]]'s default write. MUST differ
    * from [[CompactedBatchId]]: a replay writing `batch=-1` would
    * OVERWRITE the compacted partition of every table it routes to,
    * destroying the merged history (and the compacted dead letter).
    * −2 can never collide with a streaming batch id, and the next
    * compaction absorbs it like any other committed batch dir. */
  val ReplayBatchId: Long = -2L

  /** Completion marker + recovery manifest for [[compactBatches]]: written
    * INTO the tmp dir after the parquet write returns, listing the source
    * `batch=` dir names the compacted copy replaces. Underscore-prefixed,
    * so parquet scans ignore it wherever it travels. Its presence is the
    * commit point: tmp-with-manifest holds a complete copy and names
    * exactly what must be deleted before publish. */
  private[graft] val CompactManifest = "_GRAFT_COMPACT_MANIFEST"

  /** Merge every `batch <= upToBatch` directory (including a previous
    * `batch=-1`) into `batch=-1` and delete the merged dirs — the
    * small-file mitigation a long-running stream needs WITHOUT a
    * restart. Safe to call from inside the stream's own foreachBatch
    * (the stream is the only writer, and the checkpoint contract only
    * ever replays the last uncommitted batch, so merging ids strictly
    * below the in-flight one can never race a replay overwrite).
    * Preserves the `_dt` partitioning and the union schema across batch
    * dirs (the CDC warehouse contract). Every file of a `batch=` dir
    * comes from one Spark write, so the listing that finds the dirs also
    * gives the schema: one footer per data dir, read on the driver and
    * merged in batch-id order the way a `mergeSchema` scan merges them
    * (a type conflict fails the same way), with no Spark job of its own.
    * The merged copy is written as one file per
    * `spark.sql.files.maxPartitionBytes` of listed input (per `_dt`
    * value), not one per input split.
    *
    * Crash-safe: the write lands in `.__compact_tmp`, then a manifest of
    * the merged source dirs is committed inside it (the commit point),
    * then sources are deleted BEFORE the tmp→`batch=-1` rename
    * (duplication-free order — no instant has a row in both copies). A
    * crash in any window is healed on the next call by [[recoverCompaction]]:
    * manifest present → the copy is complete, finish the (idempotent)
    * delete+rename; manifest absent → the copy is partial and every
    * source still exists, discard tmp.
    *
    * `transform` rewrites the merged frame inside the SAME crash-safe
    * swap — the hook in-stream retention rides ([[Retention
    * .expireHistory]] is "compaction that also collapses old history").
    * With a transform the rewrite runs even when only one committed dir
    * exists (a transform can change rows; plain compaction of one dir is
    * a no-op). The transform must be deterministic for a given table
    * state: a crash-replayed run re-derives the same output. */
  def compactBatches(spark: SparkSession, warehouseDir: String,
                     physicalName: String, upToBatch: Long,
                     transform: Option[DataFrame => DataFrame] = None): Unit = {
    val dir = s"$warehouseDir/$physicalName"
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/.__compact_tmp")
    recoverCompaction(fs, dir, tmp)
    // in batch-id order: the merged schema's column order is the order
    // in which the dirs introduced the columns
    val mergeDirs = fs.listStatus(root).toSeq.flatMap { s =>
      val p = s.getPath
      if (!p.getName.startsWith("batch=")) None
      else scala.util.Try(p.getName.stripPrefix("batch=").toLong).toOption
        .filter(_ <= upToBatch).map(_ -> p)
    }.sortBy(_._1).map(_._2)
    // the files a scan of the dir reads (Spark's own rule: skip `.x` and
    // `_x` names, but not `_dt=` partition dirs). A batch dir can hold
    // ZERO data files (e.g. a dead-letter batch with no dead records: the
    // overwrite still creates the dir + _SUCCESS) — schema-less dirs can't
    // be read, but they still fold away: excluded from the merge read,
    // included in the manifest's delete list
    def dataFiles(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.flatMap { s =>
        val n = s.getPath.getName
        if (n.startsWith(".") || (n.startsWith("_") && !n.contains("="))) Nil
        else if (s.isDirectory) dataFiles(s.getPath)
        else Seq(s)
      }
    val dataDirs = mergeDirs.map(p => p -> dataFiles(p)).filter(_._2.nonEmpty)
    if (dataDirs.isEmpty) {
      // nothing readable to merge: just drop the empty husks (idempotent,
      // no manifest needed — deleting an empty dir can lose nothing)
      mergeDirs.foreach(p => fs.delete(p, true))
      return
    }
    if (mergeDirs.length <= 1 && transform.isEmpty)
      return // already compact (and no rewrite requested)
    val merged = spark.read
      .schema(mergedSchema(spark, dataDirs.map { case (_, files) => files.head }))
      .option("basePath", dir)
      .parquet(dataDirs.map { case (p, _) => p.toString }: _*)
    // one output file per maxPartitionBytes of input (per `_dt` value),
    // not one per input split
    val inputBytes = dataDirs.flatMap { case (_, files) => files.map(_.getLen) }.sum
    val maxBytes = spark.sessionState.conf.filesMaxPartitionBytes
    val nFiles = math.max(1L, (inputBytes + maxBytes - 1) / maxBytes)
    val hasDt = merged.columns.contains(Envelope.DtCol)
    val out = transform.foldLeft(merged.drop("batch"))((df, t) => t(df))
    val writer = out.coalesce(nFiles.toInt).write.mode("overwrite")
    (if (hasDt) writer.partitionBy(Envelope.DtCol) else writer).parquet(tmp.toString)
    // commit point: manifest names the dirs the tmp copy supersedes;
    // written atomically so a torn write can never look committed
    BucketStore.writeAtomic(spark.sessionState.newHadoopConf(),
      new org.apache.hadoop.fs.Path(tmp, CompactManifest),
      mergeDirs.map(_.getName).mkString("\n"))
    finishCompaction(fs, dir, tmp)
  }

  /** The union schema of parquet files that each stand for one Spark
    * write (a `batch=` dir), merged in the given order the way a
    * `mergeSchema` scan merges every file's: the footers are read on the
    * driver, with no Spark job, and a type conflict fails the same way. */
  private def mergedSchema(spark: SparkSession,
                           files: Seq[org.apache.hadoop.fs.FileStatus]): StructType = {
    import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
    import org.apache.parquet.hadoop.Footer
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
      ParquetFooterReader, ParquetToSparkSchemaConverter}
    val conf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConf()
    val converter = new ParquetToSparkSchemaConverter(conf)
    val schemas = files.map { f =>
      val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, hadoopConf),
        SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer), converter)
    }
    schemas.reduce(org.apache.spark.sql.graftbridge.Bridge.merge(_, _, conf.caseSensitiveAnalysis))
  }

  /** Publish step, idempotent: delete every source dir named in the tmp
    * manifest (including any previous `batch=-1` — so the rename target is
    * clear), rename tmp into `batch=-1`, drop the manifest. Re-runnable
    * from any crash point: deletes of already-deleted dirs are no-ops and
    * the rename happens last. */
  private def finishCompaction(fs: org.apache.hadoop.fs.FileSystem, dir: String,
                               tmp: org.apache.hadoop.fs.Path): Unit = {
    val manifest = new org.apache.hadoop.fs.Path(tmp, CompactManifest)
    val in = fs.open(manifest)
    val names =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).toList
      finally in.close()
    names.foreach(n => fs.delete(new org.apache.hadoop.fs.Path(dir, n), true))
    val dst = new org.apache.hadoop.fs.Path(s"$dir/batch=$CompactedBatchId")
    require(fs.rename(tmp, dst), s"compact rename failed: $dst")
    // cosmetic: scans skip underscore files anyway; a crash before this
    // delete leaves the manifest inside batch=-1, harmless
    fs.delete(new org.apache.hadoop.fs.Path(dst, CompactManifest), false): Unit
  }

  /** Heal a compaction interrupted by a crash (called on entry, and safe
    * to call any time the writer is quiescent). Manifest present → the
    * previous run's copy was complete but unpublished: finish it.
    * Manifest absent → the copy was partial and no source was touched:
    * discard it. Either way the table is consistent afterwards. */
  private[graft] def recoverCompaction(fs: org.apache.hadoop.fs.FileSystem,
                                       dir: String,
                                       tmp: org.apache.hadoop.fs.Path): Unit = {
    if (!fs.exists(tmp)) return
    if (fs.exists(new org.apache.hadoop.fs.Path(tmp, CompactManifest)))
      finishCompaction(fs, dir, tmp)
    else fs.delete(tmp, true): Unit
  }
}
