package graft.core

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The conf every main gets from the one session factory. Builds a FRESH
  * session (clearing the active/default registry so getOrCreate can't
  * hand back the shared test session; not stopping it, since local mode
  * shares one SparkContext across sessions). */
class GraftSessionSpec extends AnyFunSuite {

  test("create applies the engine conf and loads the extensions") {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val spark = GraftSession.create("local[2]", "graft-session-test", 3)
      assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(spark.conf.get("spark.sql.codegen.hugeMethodLimit") == "8000")
      assert(spark.conf.get(GraftSession.CodegenCacheConf) ==
        GraftSession.CodegenCacheMaxEntries.toString)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "3")

      assert(spark.sql("SELECT size(minhash_signature(array('a', 'b'), 4, 7L))")
        .head().getInt(0) == 4)

      import spark.implicits._
      val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
      val t1 = Timestamp.valueOf("2024-01-02 00:00:00")
      graft.cdc.VersionedSql.register("graft_session_v",
        Seq((1L, "insert", t0, "a"), (1L, "update", t1, "b"))
          .toDF("pk", "action", "update_date", "v"), Seq("pk"))
      val asOf = spark.sql(
        "SELECT v FROM as_of('graft_session_v', TIMESTAMP '2024-01-01 12:00:00')")
      assert(asOf.as[String].collect().toSeq == Seq("a"))
    } finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
