package graft.core

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Extensions must work on a session that never called registerAll —
  * build a FRESH session (clearing the active/default registry so
  * getOrCreate can't hand back the shared test session; not stopping it,
  * since local mode shares one SparkContext across sessions). */
class GraftExtensionsSpec extends AnyFunSuite {

  test("functions injected via SparkSessionExtensions resolve in SQL") {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val spark = SparkSession.builder()
        .master("local[2]")
        .appName("graft-ext-test")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .config(GraftSession.CodegenCacheConf, GraftSession.CodegenCacheMaxEntries)
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val d = spark.sql(
        "SELECT dot_product(array(CAST(1.5 AS FLOAT), CAST(2.0 AS FLOAT)), " +
          "array(CAST(2.0 AS FLOAT), CAST(3.0 AS FLOAT)))").head().getDouble(0)
      assert(d == 9.0)
      val h1 = spark.sql("SELECT simhash64(array('a','b','c'))").head().getLong(0)
      val h2 = spark.sql("SELECT simhash64(array('a','b','c'))").head().getLong(0)
      assert(h1 == h2)
      assert(spark.sql(
        "SELECT cosine_similarity(array(CAST(1.0 AS FLOAT)), array(CAST(1.0 AS FLOAT)))")
        .head().getDouble(0) == 1.0)
    } finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
