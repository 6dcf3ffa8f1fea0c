package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One frame of a generation-compacted store: the directory its
  * `batch=<id>` partitions and `compacted=<wm>` generations live in,
  * the columns readers select, and an optional fold transform applied
  * when generations are compacted (e.g. a global `distinct()` for
  * set-semantics frames, where duplicates across batch partitions are
  * read-harmless but pure store bloat). The transform must be
  * deterministic and must not change what readers compute — compaction
  * is storage maintenance, never a semantic step. */
final case class GenFrame(dir: String, cols: Seq[String],
                          transform: DataFrame => DataFrame = identity)

/** Reader-safe generational compaction for append-only streaming
  * stores — the shared discipline behind [[IndexStream]],
  * [[DecontamStream]], and [[PosIndexStream]].
  *
  * Store shape: each frame accumulates one `batch=<id>` dir per
  * micro-batch (overwrite-idempotent under replay, the
  * [[graft.cdc.Ingest]] pattern). [[compact]] periodically folds every
  * committed batch dir (plus the previous generation) into a NEW
  * `compacted=<upTo>` generation beside the live data, then COMMITS by
  * writing the watermark file — crash-safe by generations, nothing live
  * is deleted before the commit point.
  *
  * Reader safety (why this beats an in-place swap): readers resolve
  * paths under ONE watermark snapshot ([[withSnapshot]]); GC of a
  * superseded generation is DELAYED one full compaction cycle, so a
  * reader that resolved its paths just before a commit still finds its
  * files during the action; and a reader that loses the race anyway
  * (two compactions within one action) surfaces a vanished-file error
  * that [[withSnapshot]] detects (the watermark moved) and retries
  * under the new snapshot. The replay guard rides the same watermark: a
  * re-delivered batch at or below it is already inside the folded
  * generation and must be SKIPPED, not re-appended.
  */
object GenerationStore {

  private def watermarkPath(storeDir: String) =
    new Path(s"$storeDir/_compacted_watermark")

  /** Watermark file: line 1 = current generation, line 2 = the previous
    * one (-1 if none). The previous generation's dirs are still on disk
    * — GC is delayed one compaction cycle so in-flight readers that
    * resolved paths under the old watermark finish their action. */
  private def readWatermarks(spark: SparkSession, storeDir: String): (Long, Long) = {
    val p = watermarkPath(storeDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // on a local (checksummed) file system the commit's overwrite is not
    // one step: the old file is deleted, then the data file and its
    // `.crc` are renamed in one at a time. A read inside that window
    // finds no file, or new data against the old checksum: read again.
    def read(attempt: Int): Option[Array[String]] =
      try {
        if (!fs.exists(p)) None
        else {
          val in = fs.open(p)
          try Some(new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8).trim.split("\n"))
          finally in.close()
        }
      } catch {
        case _: org.apache.hadoop.fs.ChecksumException | _: java.io.FileNotFoundException
            if attempt < 100 =>
          Thread.sleep(5); read(attempt + 1)
      }
    read(0).fold((-1L, -1L)) { lines =>
      (lines(0).trim.toLong,
        if (lines.length > 1) lines(1).trim.toLong else -1L)
    }
  }

  def readWatermark(spark: SparkSession, storeDir: String): Long =
    readWatermarks(spark, storeDir)._1

  /** The dirs a reader trusts: the CURRENT compacted generation (named
    * by the watermark it absorbed) plus every batch partition ABOVE the
    * watermark. Partitions at or below it are pre-GC stragglers from a
    * crashed compaction — their rows already live in the generation
    * dir, so reading them would double-count. */
  private def liveDirs(spark: SparkSession, dir: String, wm: Long): Seq[String] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) Seq.empty
    else {
      val names = fs.listStatus(root).filter(_.isDirectory)
        .map(_.getPath.getName).toSeq
      val gen = names.filter(_ == s"compacted=$wm")
      val batches = names.filter(_.startsWith("batch="))
        .filter(n => scala.util.Try(n.stripPrefix("batch=").toLong)
          .toOption.exists(_ > wm))
      (gen ++ batches).map(n => s"$dir/$n")
    }
  }

  /** LAZY frame at one watermark snapshot — valid for ONE compaction
    * cycle (the delayed GC window). Throws on an empty store; use
    * [[frameAtOrEmpty]] where an empty store is a legitimate state. */
  def frameAt(spark: SparkSession, frame: GenFrame, wm: Long): DataFrame = {
    val dirs = liveDirs(spark, frame.dir, wm)
    require(dirs.nonEmpty, s"empty store frame: ${frame.dir}")
    spark.read.parquet(dirs: _*).selectExpr(frame.cols: _*)
  }

  /** [[frameAt]], except an empty store reads as an empty frame of
    * `schema` — for stores whose consumers treat "nothing registered
    * yet" as a no-op rather than an error. */
  def frameAtOrEmpty(spark: SparkSession, frame: GenFrame, wm: Long,
                     schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val dirs = liveDirs(spark, frame.dir, wm)
    if (dirs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.parquet(dirs: _*).selectExpr(frame.cols: _*)
  }

  /** A vanished-file failure, at any wrapping depth: path resolution
    * throws FileNotFound/AnalysisException directly, but a file swept
    * MID-SCAN surfaces as a SparkException whose cause chain carries
    * the FNF — both mean the same race and both must retry. */
  @scala.annotation.tailrec
  private def isFileGone(e: Throwable): Boolean = e match {
    case null => false
    case _: java.io.FileNotFoundException => true
    case _: org.apache.spark.sql.AnalysisException => true
    case other => isFileGone(other.getCause)
  }

  /** Run `f` against ONE watermark snapshot shared by every frame the
    * query reads — so a multi-frame read can never mix generations —
    * and retry when a concurrent [[compact]] committed between the
    * snapshot and the path resolution (detected: the selected dirs are
    * gone AND the watermark moved). GC keeps each superseded generation
    * alive for one extra compaction cycle, so a reader that resolved
    * its paths before the commit still finds its files during the
    * action. Results a caller hands out past its own action should be
    * MATERIALIZED inside `f` (localCheckpoint) — then the retry
    * genuinely covers the whole read. */
  def withSnapshot[T](spark: SparkSession, storeDir: String)(f: Long => T): T = {
    var attempts = 0
    while (true) {
      val wm = readWatermark(spark, storeDir)
      try return f(wm)
      catch {
        case e: Throwable if isFileGone(e) && attempts < 3 &&
            readWatermark(spark, storeDir) != wm =>
          attempts += 1 // compaction raced us — re-snapshot and retry
      }
    }
    sys.error("unreachable")
  }

  /** Fold every committed `batch=<id>` partition with id ≤ `upToBatch`
    * (plus the previous generation) into a NEW `compacted=<upTo>`
    * generation dir per frame — run periodically so reader-side file
    * listings stay bounded regardless of trigger count.
    *
    * Crash-safe by GENERATIONS, not in-place swaps: nothing live is
    * deleted before the commit point. The new generation is written
    * beside the live data; the COMMIT is the watermark write (readers
    * and the replay guard consult it); absorbed batch dirs and the old
    * generation are garbage-collected AFTER the commit, and a crash
    * anywhere leaves either the old state fully live (pre-commit) or
    * the new one with harmless stragglers the next GC sweep removes
    * (readers select by watermark, so stragglers are never read).
    *
    * `upToBatch = Long.MaxValue` folds everything on disk — only valid
    * with the stream quiesced; an in-stream caller passes `batchId − 1`
    * so the in-flight batch (whose checkpoint has not committed) can
    * never be folded and then replay-duplicated. Absorbable ids are
    * listed from the FIRST frame's dir (frames of one store share batch
    * ids by construction — a writer appends all frames or none). */
  def compact(spark: SparkSession, storeDir: String, frames: Seq[GenFrame],
              upToBatch: Long = Long.MaxValue): Unit = {
    require(frames.nonEmpty)
    val (wm0, prev0) = readWatermarks(spark, storeDir)
    val pRoot = new Path(frames.head.dir)
    val fs = pRoot.getFileSystem(spark.sessionState.newHadoopConf())
    // sweep only what the PREVIOUS generation superseded (one-cycle GC
    // delay): dirs the current generation superseded may still be held
    // by an in-flight reader that snapshotted before the last commit
    gc(spark, storeDir, frames, prev0)
    if (!fs.exists(pRoot)) return
    val absorbable = fs.listStatus(pRoot).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith("batch="))
      .flatMap(n => scala.util.Try(n.stripPrefix("batch=").toLong).toOption)
      .filter(b => b > wm0 && b <= upToBatch)
    if (absorbable.isEmpty) return
    val newWm = absorbable.max
    frames.foreach { frame =>
      // previous generation + the committed batches being absorbed;
      // batches ABOVE upToBatch (e.g. the in-flight one) stay live
      val selected = liveDirs(spark, frame.dir, wm0).filter { p =>
        val n = p.substring(p.lastIndexOf('/') + 1)
        !n.startsWith("batch=") ||
          n.stripPrefix("batch=").toLong <= upToBatch
      }
      val folded = frame.transform(
        spark.read.parquet(selected: _*).selectExpr(frame.cols: _*))
      // written BESIDE the live data — nothing is deleted pre-commit;
      // a crashed partial generation is invisible (watermark still old)
      // and overwritten by the next attempt
      folded.write.mode("overwrite").parquet(s"${frame.dir}/compacted=$newWm")
    }
    // COMMIT: the watermark flips readers and the replay guard to the
    // new generation; written atomically, so it is never torn, and a
    // failed commit keeps the old one (with none, readers would select
    // no generation at all)
    graft.cdc.BucketStore.writeAtomic(spark.sessionState.newHadoopConf(),
      watermarkPath(storeDir), s"$newWm\n$wm0")
    // delayed GC: sweep what the OLD watermark superseded; dirs this
    // commit superseded (gen wm0 + batches ≤ newWm) survive until the
    // next compaction so concurrent readers' resolved paths stay valid
    gc(spark, storeDir, frames, wm0)
  }

  /** Delete partitions the watermark has superseded: batch dirs ≤ wm
    * and compacted generations < wm. Pure garbage collection — readers
    * never select these — so a crash mid-sweep is harmless. */
  private def gc(spark: SparkSession, storeDir: String,
                 frames: Seq[GenFrame], wm: Long): Unit = {
    if (wm < 0) return
    frames.map(_.dir).foreach { dir =>
      val root = new Path(dir)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(root)) {
        fs.listStatus(root).filter(_.isDirectory).foreach { st =>
          val n = st.getPath.getName
          val stale =
            (n.startsWith("batch=") && scala.util.Try(
              n.stripPrefix("batch=").toLong).toOption.exists(_ <= wm)) ||
            (n.startsWith("compacted=") && scala.util.Try(
              n.stripPrefix("compacted=").toLong).toOption.exists(_ < wm))
          if (stale) fs.delete(st.getPath, true)
        }
      }
    }
  }
}
