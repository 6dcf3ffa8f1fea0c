package graft.cdc

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * All directory manipulation goes through the Hadoop FileSystem API
  * (file:/, HDFS, object stores alike), and any fix to the protocol —
  * the staging layout, the swap ordering, rename failure handling —
  * lands HERE once instead of in every maintainer. */
object BucketStore {

  val BucketCol = "__bucket"

  /** `df` with `bucketCol = pmod(hash(cols), n)` — THE bucket function of
    * every store laid out here (the snapshot and SCD2 pk buckets, the
    * join-key buckets, the aggregate group buckets). Bucket ids are a
    * storage format: a touched set computed any other way would stage
    * rows into buckets the swap never publishes. */
  def bucketed(df: DataFrame, cols: Seq[String], n: Int,
               bucketCol: String = BucketCol): DataFrame =
    df.withColumn(bucketCol, pmod(hash(cols.map(col): _*), lit(n)))

  /** The distinct bucket ids a keyed batch touches — ≤ the bucket
    * count by construction, so the collect is driver-bounded. `keyed`
    * must carry an Int [[BucketCol]]. */
  def touchedBuckets(keyed: DataFrame,
                     bucketCol: String = BucketCol): Seq[Int] =
    keyed.select(bucketCol).distinct()
      .collect().map(_.getInt(0)).sorted.toSeq

  private def asidePath(dir: String, b: Int) = new Path(s"$dir/.__swap_$b")

  /** Restore a bucket whose previous swap crashed between the
    * rename-aside and the rename-in: if the bucket dir is missing but
    * its `.__swap_<b>` sibling exists, the sibling IS the pre-swap
    * state — rename it back. Idempotent; called on every touched-bucket
    * read so a fold can never observe (and bake in) a half-swapped
    * store. */
  private def recoverBucket(fs: org.apache.hadoop.fs.FileSystem,
                            dir: String, b: Int,
                            bucketCol: String): Unit = {
    val dst = new Path(s"$dir/$bucketCol=$b")
    val aside = asidePath(dir, b)
    if (!fs.exists(dst) && fs.exists(aside))
      require(fs.rename(aside, dst), s"bucket recovery failed: $dst")
  }

  /** Current contents of the touched buckets, if the store has any —
    * read through `basePath` so [[BucketCol]] comes back as a column.
    * Runs crash recovery per touched bucket first. With a declared
    * `schema` the files are read as that schema (a column a bucket lacks
    * reads as null); without one the bucket footers are merged
    * (`mergeSchema`, one extra Spark job), for a fold that must keep
    * stored columns its batch lacks. */
  def readTouched(spark: SparkSession, dir: String,
                  touched: Seq[Int],
                  bucketCol: String = BucketCol,
                  schema: Option[StructType] = None): Option[DataFrame] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) None
    else {
      touched.foreach(b => recoverBucket(fs, dir, b, bucketCol))
      val dirs = touched.map(b => s"$dir/$bucketCol=$b")
        .filter(p => fs.exists(new Path(p)))
      if (dirs.isEmpty) None
      // after a registry column add/remove the buckets can legitimately
      // carry different schemas (the fold rewrites only touched buckets)
      // — a strict single-footer read would fail the micro-batch
      else Some(schema.fold(spark.read.option("mergeSchema", "true"))(spark.read.schema)
        .option("basePath", dir).parquet(dirs.toIndexedSeq: _*))
    }
  }

  /** Stage `folded` (which must carry [[BucketCol]]) and swap ONLY the
    * `touched` buckets into the store. The pre-write repartition on the
    * bucket column is load-bearing: partitionBy writes one file per
    * (task × bucket-value) pair, so writing straight out of the fold's
    * shuffle creates up to tasks×buckets tiny files per trigger — and
    * the NEXT trigger's touched-bucket read pays for all of them;
    * clustering by bucket first bounds the layout at one file per
    * touched bucket. */
  def stageAndSwap(spark: SparkSession, dir: String, folded: DataFrame,
                   touched: Seq[Int],
                   deleteMissingTouched: Boolean = false,
                   bucketCol: String = BucketCol): Unit = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new Path(s"$dir/.__fold_tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    folded.repartition(col(bucketCol))
      .write.mode("overwrite").partitionBy(bucketCol).parquet(tmp.toString)
    touched.foreach { b =>
      val src = new Path(tmp, s"$bucketCol=$b")
      val dst = new Path(root, s"$bucketCol=$b")
      // RENAME-ASIDE, never delete-then-rename: a crash between a
      // delete and a rename would lose the bucket's pre-swap state,
      // and the replayed fold would rebuild it from the batch alone —
      // silently dropping every other key in the bucket. The aside
      // copy makes every crash point recoverable ([[recoverBucket]]);
      // the stale aside from a COMPLETED swap is deleted here first.
      val aside = asidePath(dir, b)
      if (fs.exists(src)) {
        if (fs.exists(aside)) fs.delete(aside, true)
        if (fs.exists(dst))
          require(fs.rename(dst, aside), s"bucket rename-aside failed: $dst")
        require(fs.rename(src, dst), s"bucket swap failed: $dst")
        fs.delete(aside, true)
      } else if (deleteMissingTouched) deleteBucket(fs, dir, b, bucketCol)
    }
    fs.delete(tmp, true)
  }

  /** Create the store at `dir` from `rows` (which must carry
    * `bucketCol`) if it does not exist yet; true if it did. The rows are
    * staged in a sibling dir and renamed in whole: a crash leaves either
    * no store (the replay seeds again) or the complete one, never a
    * partial store that a later fold would read as complete. */
  def seedIfMissing(spark: SparkSession, dir: String, rows: => DataFrame,
                    bucketCol: String = BucketCol): Boolean = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(root)) false
    else {
      val staged = new Path(root.getParent, s".__seed_${root.getName}")
      rows.repartition(col(bucketCol))
        .write.mode("overwrite").partitionBy(bucketCol).parquet(staged.toString)
      require(fs.rename(staged, root), s"store seed failed: $root")
      true
    }
  }

  /** Delete the `touched` buckets: the swap of a fold that emitted no
    * rows for any of them. */
  def deleteTouched(spark: SparkSession, dir: String, touched: Seq[Int],
                    bucketCol: String = BucketCol): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    touched.foreach(b => deleteBucket(fs, dir, b, bucketCol))
  }

  /** A touched bucket the fold emitted NO rows for (every group went to
    * zero / the join went empty) is deleted — through the same aside so
    * a crash mid-delete stays recoverable; a replay re-derives the empty
    * fold and deletes again (idempotent). */
  private def deleteBucket(fs: org.apache.hadoop.fs.FileSystem, dir: String,
                           b: Int, bucketCol: String): Unit = {
    val dst = new Path(dir, s"$bucketCol=$b")
    val aside = asidePath(dir, b)
    if (fs.exists(dst)) {
      if (fs.exists(aside)) fs.delete(aside, true)
      require(fs.rename(dst, aside), s"bucket rename-aside failed: $dst")
      fs.delete(aside, true)
    }
  }

  /** Crash-safe single-directory replace for non-bucketed stores (the
    * SampleStream reservoir, the DriftStream reference): rename the
    * live dir aside, rename the staged dir in, delete the aside — with
    * [[recoverDir]] restoring the aside if a crash hits the window.
    * delete-then-rename (the naive form) silently resets the store to
    * the next batch's contents on a mistimed crash. */
  def swapDir(fs: org.apache.hadoop.fs.FileSystem, target: Path,
              staged: Path): Unit = {
    val aside = new Path(target.getParent, s".__swap_${target.getName}")
    if (fs.exists(aside)) fs.delete(aside, true)
    if (fs.exists(target))
      require(fs.rename(target, aside), s"rename-aside failed: $target")
    require(fs.rename(staged, target), s"dir swap failed: $target")
    fs.delete(aside, true): Unit
  }

  /** Restore `target` from its aside copy if a previous [[swapDir]]
    * crashed mid-window; call before every read of the store. */
  def recoverDir(fs: org.apache.hadoop.fs.FileSystem, target: Path): Unit = {
    val aside = new Path(target.getParent, s".__swap_${target.getName}")
    if (!fs.exists(target) && fs.exists(aside))
      require(fs.rename(aside, target), s"dir recovery failed: $target")
  }
}
