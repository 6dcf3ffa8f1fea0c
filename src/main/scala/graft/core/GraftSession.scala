package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.StaticSQLConf

import graft.functions.VectorFunctions

/** The engine's one session factory: every main builds its session here.
  *
  * Defaults tuned for correctness-parity and local[N] execution: UTC
  * session timezone (oracle parity), AQE on (runtime broadcast/skew
  * re-planning — the 100 TB safety net), shuffle partitions sized to the
  * machine rather than Spark's default 200. The session loads
  * [[GraftExtensions]], so the native functions, the point-in-time TVFs
  * and the optimizer rules reach the pure-SQL surface too.
  */
object GraftSession {

  /** Size of Spark's generated-class cache (default 100 entries, LRU).
    * A fold trigger over snapshot, SCD2 and aggregate stores generates
    * about 130 distinct classes and a whole streaming run about 280, so
    * at the default every class is evicted before the next trigger needs
    * it and each trigger recompiles its plans with Janino. The cache is a
    * JVM-wide static, sized from the conf of the first session that
    * generates code, so [[create]] and every test session builder set
    * [[CodegenCacheConf]] to this value before the first query. */
  val CodegenCacheMaxEntries: Long = 2000L
  val CodegenCacheConf: String = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key

  /** Local core count: `SPARK_GRAFT_CPUS`, or every core when unset. */
  def localCpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .fold(Runtime.getRuntime.availableProcessors())(_.trim.toInt)

  def create(master: String = s"local[$localCpus]",
             appName: String = "graft",
             shufflePartitions: Int = localCpus): SparkSession =
    SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // JIT refuses methods > 8KB bytecode (DontCompileHugeMethods), so a
      // giant generated stage runs as INTERPRETED BYTECODE — measurably
      // slower than Spark's interpreted expressions. Fall back to
      // expression interpretation beyond that size instead.
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.ui.enabled", "false")
      .config(CodegenCacheConf, CodegenCacheMaxEntries)
      // scalar kernels AND the point-in-time TVFs (snapshot / as_of /
      // changes_between / scd2) — withExtensions only binds at session
      // construction, so it must happen here, not in enableSqlSurface
      .withExtensions(new GraftExtensions)
      .getOrCreate()

  /** Register the driver corpus as temp views + custom functions on an
    * existing session, enabling the `spark.sql(...)` query surface —
    * including the versioned CDC table `orders_v` (the q17 changelog),
    * so the point-in-time TVFs work out of the box:
    * `SELECT * FROM as_of('orders_v', TIMESTAMP '1998-01-01')`. */
  def enableSqlSurface(spark: SparkSession, dir: String): SparkSession = {
    // the session may have been built without GraftExtensions
    VectorFunctions.registerAll(spark)
    Tables.registerViews(spark, dir)
    graft.cdc.VersionedSql.register("orders_v",
      graft.cdc.Changelog.fromOrders(spark, dir), Seq("pk"))
    spark
  }
}
