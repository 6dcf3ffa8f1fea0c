package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftExtensions

/** The SQL face of the point-in-time operators: every TVF must produce
  * exactly the frame its Scala-API counterpart builds (q17/q18/q34/q35
  * semantics), on a session that only loaded GraftExtensions. */
class SqlSurfaceSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  // Fresh session with the extensions (clear the active/default registry
  // so getOrCreate can't hand back the shared test session; don't stop
  // it — local mode shares one SparkContext across sessions).
  private lazy val spark: SparkSession = {
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    SparkSession.builder()
      .master("local[4]")
      .appName("graft-sql-surface-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(graft.core.GraftSession.CodegenCacheConf, graft.core.GraftSession.CodegenCacheMaxEntries)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
  }

  private lazy val changelog: DataFrame = {
    val c = Changelog.fromOrders(spark, sf)
    VersionedSql.register("orders_v", c, Seq("pk"))
    c
  }

  private def rows(df: DataFrame) =
    df.select("pk", "action", "update_date", "totalprice", "status")
      .orderBy("pk", "update_date", "action").collect().toSeq

  test("as_of TVF equals Versioned.asOf (the q18 frame)") {
    changelog // force registration before the TVF resolves
    val ts = "1998-01-01 00:00:00"
    val viaSql = spark.sql(s"SELECT * FROM as_of('orders_v', TIMESTAMP '$ts')")
    val viaApi = Versioned.asOf(changelog, lit(ts).cast("timestamp"), Seq("pk"))
    assert(rows(viaSql) == rows(viaApi))
    assert(rows(viaSql).nonEmpty)
  }

  test("snapshot TVF equals Versioned.latestSnapshot (the q17 frame)") {
    changelog
    val viaSql = spark.sql("SELECT * FROM snapshot('orders_v')")
    assert(rows(viaSql) == rows(Versioned.latestSnapshot(changelog, Seq("pk"))))
  }

  test("changes_between TVF equals Versioned.changesBetween") {
    changelog
    val (t1, t2) = ("1997-01-01 00:00:00", "1998-01-01 00:00:00")
    val viaSql = spark.sql(
      s"SELECT * FROM changes_between('orders_v', TIMESTAMP '$t1', TIMESTAMP '$t2')")
    val viaApi = Versioned.changesBetween(changelog,
      lit(t1).cast("timestamp"), lit(t2).cast("timestamp"))
    assert(rows(viaSql) == rows(viaApi))
  }

  test("scd2 TVF equals Versioned.scd2") {
    changelog
    val cols = Seq("pk", "action", "valid_from", "valid_to", "is_current")
    val viaSql = spark.sql("SELECT * FROM scd2('orders_v')")
      .select(cols.map(col): _*).orderBy("pk", "valid_from", "action").collect().toSeq
    val viaApi = Versioned.scd2(changelog, Seq("pk"))
      .select(cols.map(col): _*).orderBy("pk", "valid_from", "action").collect().toSeq
    assert(viaSql == viaApi && viaSql.nonEmpty)
  }

  test("expire_history TVF equals Retention.expireHistory") {
    changelog
    val h = "1997-06-01 00:00:00"
    val viaSql = spark.sql(s"SELECT * FROM expire_history('orders_v', TIMESTAMP '$h')")
    val viaApi = Retention.expireHistory(changelog, lit(h).cast("timestamp"), Seq("pk"))
    assert(rows(viaSql) == rows(viaApi) && rows(viaSql).nonEmpty)
  }

  test("TVFs compose with the enclosing query (filters, aggregates, joins)") {
    changelog
    val n = spark.sql(
      """SELECT count(*) AS n FROM as_of('orders_v', TIMESTAMP '1998-01-01 00:00:00')
        |WHERE pk % 2 = 0""".stripMargin).head().getLong(0)
    val expected = Versioned.asOf(changelog,
        lit("1998-01-01 00:00:00").cast("timestamp"), Seq("pk"))
      .filter(col("pk") % 2 === 0).count()
    assert(n == expected && n > 0)
  }

  test("as_of on a date-partitioned registration routes through asOfPruned") {
    changelog
    val parted = changelog.withColumn("_dt", to_date(col("update_date")))
    VersionedSql.register("orders_vp", parted, Seq("pk"), dtCol = Some("_dt"))
    val ts = "1998-01-01 00:00:00"
    val viaSql = spark.sql(s"SELECT * FROM as_of('orders_vp', TIMESTAMP '$ts')")
    // pruned variant drops the partition column, so frames compare directly
    val viaApi = Versioned.asOfPruned(parted, lit(ts).cast("timestamp"), Seq("pk"))
    assert(rows(viaSql) == rows(viaApi) && rows(viaSql).nonEmpty)
    // and equals the unpartitioned answer (pruning is a pure optimization)
    assert(rows(viaSql) ==
      rows(Versioned.asOf(changelog, lit(ts).cast("timestamp"), Seq("pk"))))
    // the _dt <= date(t) predicate must be planted (visible pre-
    // optimization; over a real file-partitioned table it becomes the
    // directory-pruning filter — here the optimizer folds it into the
    // derived-column source predicates, which is equally correct)
    val planStr = viaSql.queryExecution.analyzed.toString
    assert(planStr.contains("_dt"), s"expected a _dt partition predicate:\n$planStr")
  }

  test("unregistered table name fails with a pointed error") {
    changelog // force registration of orders_v first
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM snapshot('nope_v')").collect()
    }
    assert(e.getMessage.contains("not a registered versioned table"))
  }

  test("two sessions registering one name do not cross-talk") {
    changelog // orders_v registered in `spark` with pk=Seq("pk")
    // a sibling session binds the SAME name to a differently-keyed
    // changelog: each session must resolve its OWN registration — under
    // the old JVM-global name->meta map the second register's metadata
    // silently applied to the first session's view
    val other = spark.newSession()
    val otherLog = Changelog.fromOrders(other, sf) // built IN `other`
      .withColumnRenamed("pk", "okey")
    VersionedSql.register("orders_v", otherLog, Seq("okey"))

    SparkSession.setActiveSession(spark)
    val mine = spark.sql("SELECT * FROM snapshot('orders_v')")
    assert(rows(mine) == rows(Versioned.latestSnapshot(changelog, Seq("pk"))))

    SparkSession.setActiveSession(other)
    val theirs = other.sql("SELECT * FROM snapshot('orders_v')")
    assert(theirs.columns.contains("okey"))
    assert(theirs.count() ==
      Versioned.latestSnapshot(otherLog, Seq("okey")).count())
    SparkSession.setActiveSession(spark)
  }

}
