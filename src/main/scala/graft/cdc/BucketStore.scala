package graft.cdc

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.functions.{col, hash, lit, pmod}
import org.apache.spark.sql.types.StructType

/** The shared bucket-partitioned store protocol behind every
  * incrementally-maintained table ([[SnapshotMaintainer]],
  * [[Scd2Maintainer]], [[AggMaintainer]], [[JoinMaintainer]],
  * [[graft.streaming.DedupStream]]): a store laid
  * out as `<dir>/__bucket=<n>/`, where a fold reads ONLY the buckets a
  * batch touches, re-derives their contents, stages the result, and
  * swaps each touched bucket individually — untouched buckets' files
  * are never listed, read, or rewritten, so per-trigger cost is
  * O(touched + batch) regardless of store size.
  *
  * Where the touched set comes from: inside a CDC stream, the routing
  * write itself observes it ([[Ingest.appendBatch]] attaches a
  * `collect_set` of [[bucketOf]] to each maintained table's append), so
  * the fold learns it without a Spark job of its own; every other
  * caller goes through [[withTouched]] ([[touchedBuckets]] over its
  * persisted keyed batch: one job, no shuffle).
  *
  * A fold is BUCKET-LOCAL: its input (the touched store rows plus the
  * keyed batch) is [[clustered]] by bucket once, and every per-key step
  * groups by (bucket, key…), which that clustering already satisfies.
  * The staged write's bucket repartition in [[stageAndSwap]] then
  * matches its child's partitioning and Spark drops it, so a fold
  * shuffles its store once.
  *
  * Publishing: every store directory the repo replaces in place goes
  * through ONE rename-aside [[swap]] and its [[recover]]: each touched
  * bucket of a fold ([[stageAndSwap]], [[deleteTouched]]), a new store's
  * whole dir ([[seedIfMissing]]), and the whole-dir stores of
  * [[graft.streaming.SampleStream]] and [[graft.streaming.DriftStream]].
  * Recovery runs on the writer path only, before the state a fold
  * starts from is read ([[readTouched]] per touched bucket; the two
  * whole-dir writers before their read); readers of a whole-dir store
  * read a crashed swap's aside in place ([[readable]]). The one commit
  * file write, [[writeAtomic]], lives here too.
  *
  * All directory manipulation goes through the Hadoop FileSystem API
  * (file:/, HDFS, object stores alike), and any fix to the protocol —
  * the staging layout, the swap ordering, rename failure handling —
  * lands HERE once instead of in every maintainer. */
object BucketStore {

  val BucketCol = "__bucket"

  /** THE bucket function of every store laid out here (the snapshot and
    * SCD2 pk buckets, the join-key buckets, the aggregate group
    * buckets): `pmod(hash(cols), n)`. Bucket ids are a storage format: a
    * touched set computed any other way would stage rows into buckets
    * the swap never publishes. */
  def bucketOf(cols: Seq[String], n: Int): Column = {
    require(n > 0, s"bucket count must be positive: $n")
    pmod(hash(cols.map(col): _*), lit(n))
  }

  /** `df` with `bucketCol` = [[bucketOf]]`(cols, n)`. */
  def bucketed(df: DataFrame, cols: Seq[String], n: Int,
               bucketCol: String = BucketCol): DataFrame =
    df.withColumn(bucketCol, bucketOf(cols, n))

  /** One maintained store's bucketing of a routed table: the store's
    * key columns and bucket count. [[Ingest.appendBatch]] observes one
    * touched set per distinct bucketing. */
  final case class Bucketing(table: String, key: Seq[String], buckets: Int)

  /** The distinct bucket ids a keyed batch touches, sorted: one Spark
    * job with no shuffle (each task returns its partition's set, the
    * driver merges them; a set never exceeds the bucket count). `keyed`
    * must carry an Int [[BucketCol]]. */
  def touchedBuckets(keyed: DataFrame,
                     bucketCol: String = BucketCol): Seq[Int] =
    keyed.select(col(bucketCol)).rdd
      .mapPartitions(rows => Iterator(rows.map(_.getInt(0)).toSet))
      .collect().reduceOption(_ ++ _).getOrElse(Set.empty[Int]).toSeq.sorted

  /** `fold` over `batch` keyed by [[bucketOf]]`(key, n)` and the buckets
    * it touches: the entry point of a direct (non-stream) fold, whose
    * touched set costs one Spark job with no shuffle. The keyed batch is
    * persisted across that job and the fold, so a caller's batch with
    * costly lineage (a union of scans, a filter) is computed once; the
    * fold may re-derive [[BucketCol]] over it, which reads the cache. */
  def withTouched[A](batch: DataFrame, key: Seq[String], n: Int)
                    (fold: (DataFrame, Seq[Int]) => A): A = {
    val keyed = bucketed(batch, key, n).persist()
    try fold(keyed, touchedBuckets(keyed)) finally keyed.unpersist(false)
  }

  /** `df` hash-partitioned by its bucket column: the ONE shuffle of a
    * bucket-local fold, and the one definition of the clustering every
    * staged write takes ([[stageAndSwap]], [[seedIfMissing]]). Grouping
    * or windowing by (bucket, key…) downstream needs no further
    * exchange, and the staged write's own clustering of an already
    * clustered fold is semantically equal to its child's, so Spark
    * drops it. */
  def clustered(df: DataFrame, bucketCol: String = BucketCol): DataFrame =
    df.repartition(col(bucketCol))

  /** Replace the directory `target` with `staged` — or remove it, when
    * nothing is staged — through the rename-aside `aside`: rename the
    * live dir aside, rename the staged dir in, delete the aside. Never
    * delete-then-rename: a crash between the two would lose the
    * pre-swap state, and the replay would rebuild the dir from its batch
    * alone. Every crash point leaves the pre-swap state (the live dir, or
    * its aside, which [[recover]] puts back) or the post-swap one (plus
    * a stale aside, which the next swap deletes). A crashed swap's aside
    * is put back first, so it is never taken for a stale one. */
  def swap(fs: FileSystem, target: Path, staged: Option[Path], aside: Path): Unit = {
    recover(fs, target, aside)
    fs.delete(aside, true)
    if (fs.exists(target))
      require(fs.rename(target, aside), s"rename-aside failed: $target")
    staged.foreach(s => require(fs.rename(s, target), s"swap failed: $target"))
    fs.delete(aside, true): Unit
  }

  /** Put back the aside copy of a [[swap]] that crashed between its
    * rename-aside and its rename-in: with `target` missing, `aside` IS
    * the pre-swap state. Idempotent. Writers run it before they read
    * the state they fold; readers use [[readable]] instead, which
    * renames nothing, so a read cannot race a live swap's rename-in. */
  def recover(fs: FileSystem, target: Path, aside: Path): Unit =
    if (!fs.exists(target) && fs.exists(aside))
      require(fs.rename(aside, target), s"swap recovery failed: $target")

  /** The aside of a whole-dir store: `<parent>/.__swap_<name>`. */
  def dirAside(target: Path): Path =
    new Path(target.getParent, s".__swap_${target.getName}")

  /** The dir a reader of the whole-dir store `target` reads: `target`,
    * or inside a swap's window (or after a crash in it) the aside copy,
    * read in place. */
  def readable(fs: FileSystem, target: Path): Path = {
    val aside = dirAside(target)
    if (!fs.exists(target) && fs.exists(aside)) aside else target
  }

  private def bucketPath(dir: String, b: Int, bucketCol: String) =
    new Path(dir, s"$bucketCol=$b")

  /** A bucket's aside: `<dir>/.__swap_<b>`. */
  private def bucketAside(dir: String, b: Int) = new Path(s"$dir/.__swap_$b")

  /** Current contents of the touched buckets, if the store has any —
    * read through `basePath` so [[BucketCol]] comes back as a column.
    * Each touched bucket is [[recover]]ed first, so a fold never reads
    * (and bakes in) a half-swapped store. With a declared `schema` the
    * files are read as that schema (a column a bucket lacks reads as
    * null); without one the bucket footers are merged (`mergeSchema`,
    * one extra Spark job), for a fold that must keep stored columns its
    * batch lacks. */
  def readTouched(spark: SparkSession, dir: String,
                  touched: Seq[Int],
                  bucketCol: String = BucketCol,
                  schema: Option[StructType] = None): Option[DataFrame] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) None
    else {
      touched.foreach(b => recover(fs, bucketPath(dir, b, bucketCol), bucketAside(dir, b)))
      val dirs = touched.map(bucketPath(dir, _, bucketCol)).filter(fs.exists)
      if (dirs.isEmpty) None
      // after a registry column add/remove the buckets can legitimately
      // carry different schemas (the fold rewrites only touched buckets)
      // — a strict single-footer read would fail the micro-batch
      else Some(schema.fold(spark.read.option("mergeSchema", "true"))(spark.read.schema)
        .option("basePath", dir).parquet(dirs.map(_.toString).toIndexedSeq: _*))
    }
  }

  /** Stage `folded` (which must carry [[BucketCol]]) and [[swap]] ONLY
    * the `touched` buckets into the store; a touched bucket the fold
    * emitted no rows for is removed. The pre-write repartition on the
    * bucket column is load-bearing: partitionBy writes one file per
    * (task × bucket-value) pair, so writing straight out of an
    * unclustered shuffle creates up to tasks×buckets tiny files per
    * trigger — and the NEXT trigger's touched-bucket read pays for all
    * of them; clustering by bucket first bounds the layout at one file
    * per touched bucket. For a [[clustered]] fold the child is already
    * partitioned that way and Spark removes the repartition. */
  def stageAndSwap(spark: SparkSession, dir: String, folded: DataFrame,
                   touched: Seq[Int],
                   bucketCol: String = BucketCol): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new Path(s"$dir/.__fold_tmp")
    clustered(folded, bucketCol)
      .write.mode("overwrite").partitionBy(bucketCol).parquet(tmp.toString)
    swapTouched(fs, dir, touched, bucketCol,
      b => Some(new Path(tmp, s"$bucketCol=$b")).filter(fs.exists))
    fs.delete(tmp, true): Unit
  }

  /** Remove the `touched` buckets: the swap of a fold that emitted no
    * rows for any of them. */
  def deleteTouched(spark: SparkSession, dir: String, touched: Seq[Int],
                    bucketCol: String = BucketCol): Unit =
    swapTouched(new Path(dir).getFileSystem(spark.sessionState.newHadoopConf()),
      dir, touched, bucketCol, _ => None)

  private def swapTouched(fs: FileSystem, dir: String, touched: Seq[Int],
                          bucketCol: String, staged: Int => Option[Path]): Unit =
    touched.foreach(b =>
      swap(fs, bucketPath(dir, b, bucketCol), staged(b), bucketAside(dir, b)))

  /** Create the store at `dir` from `rows` (which must carry
    * `bucketCol`) if it does not exist yet; true if it did. The rows are
    * staged in a sibling dir and [[swap]]ped in whole: a crash leaves
    * either no store (the replay seeds again) or the complete one, never
    * a partial store that a later fold would read as complete. */
  def seedIfMissing(spark: SparkSession, dir: String, rows: => DataFrame,
                    bucketCol: String = BucketCol): Boolean = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(root)) false
    else {
      val staged = new Path(root.getParent, s".__seed_${root.getName}")
      clustered(rows, bucketCol)
        .write.mode("overwrite").partitionBy(bucketCol).parquet(staged.toString)
      swap(fs, root, Some(staged), dirAside(root))
      true
    }
  }

  /** Write `text` as the file `path` through
    * [[CheckpointFileManager.createAtomic]]: a hidden temp file renamed
    * over `path`, so a reader never finds a torn file, and a failed
    * write or rename leaves the previous one. The write of every commit
    * file. (On HDFS the overwrite is one atomic rename; Hadoop's local
    * file system deletes the old file just before it renames.) */
  def writeAtomic(conf: Configuration, path: Path, text: String): Unit = {
    val out = CheckpointFileManager.create(path.getParent, conf)
      .createAtomic(path, overwriteIfPossible = true)
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => out.cancel(); throw e }
    out.close()
  }
}
