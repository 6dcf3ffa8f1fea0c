package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftExtensions

/** The point-in-interval rewrite: plain SQL range joins plan as granule
  * equi-joins (no nested loop), results stay identical to the nested-
  * loop semantics — strict and inclusive bounds, extra conjuncts, and
  * the disable switch all covered. */
class RangeJoinRuleSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    SparkSession.builder()
      .master("local[4]")
      .appName("graft-range-rule-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(graft.core.GraftSession.CodegenCacheConf, graft.core.GraftSession.CodegenCacheMaxEntries)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
  }

  private def fixtures(): Unit = {
    import spark.implicits._
    val points = (0 until 400).map { i =>
      (i.toLong, f"2026-01-01T${i % 24}%02d:${(i * 7) % 60}%02d:00")
    }.toDF("p_id", "ts_s")
      .selectExpr("p_id", "CAST(ts_s AS TIMESTAMP) AS ts")
    val ivals = (0 until 30).map { i =>
      (100L + i, f"2026-01-01T${(i * 3) % 22}%02d:00:00",
        f"2026-01-01T${(i * 3) % 22 + 2}%02d:00:00")
    }.toDF("iv_id", "s_s", "e_s")
      .selectExpr("iv_id", "CAST(s_s AS TIMESTAMP) AS s", "CAST(e_s AS TIMESTAMP) AS e")
    points.createOrReplaceTempView("pts")
    ivals.createOrReplaceTempView("ivals")
  }

  private def rows(df: DataFrame): Set[(Long, Long)] = {
    import spark.implicits._
    df.select("p_id", "iv_id").as[(Long, Long)].collect().toSet
  }

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString()

  test("theta range join plans as granule equi-join with identical results") {
    fixtures()
    val q = "SELECT p_id, iv_id FROM pts JOIN ivals ON ts >= s AND ts < e"
    val rewritten = spark.sql(q)
    val p = plan(rewritten)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the rewrite must eliminate the nested loop\n$p")

    spark.conf.set("spark.graft.rangeJoin.granuleSeconds", "0")
    val reference = try rows(spark.sql(q))
    finally spark.conf.unset("spark.graft.rangeJoin.granuleSeconds")
    assert(rows(rewritten) == reference, "rewrite must preserve the result set")
    assert(reference.nonEmpty, "fixture must produce matches")
  }

  test("inclusive bounds (BETWEEN) and extra conjuncts keep exact semantics") {
    fixtures()
    val q = "SELECT p_id, iv_id FROM pts JOIN ivals " +
      "ON ts BETWEEN s AND e AND p_id % 2 = 0"
    val rewritten = spark.sql(q)
    val p = plan(rewritten)
    assert(!p.contains("BroadcastNestedLoopJoin"), s"BETWEEN must rewrite too\n$p")
    spark.conf.set("spark.graft.rangeJoin.granuleSeconds", "0")
    val reference = try rows(spark.sql(q))
    finally spark.conf.unset("spark.graft.rangeJoin.granuleSeconds")
    assert(rows(rewritten) == reference)
    assert(reference.nonEmpty)
  }

  test("equi-join with a range residual is left alone") {
    fixtures()
    val q = "SELECT p_id, iv_id FROM pts JOIN ivals " +
      "ON p_id % 10 = iv_id % 10 AND ts >= s AND ts < e"
    val p = plan(spark.sql(q))
    assert(!p.contains("__graft_g"),
      s"an equality conjunct means Spark already has a hash strategy\n$p")
  }

  test("q162 (the declared SQL range join) plans through the rewrite") {
    val df = graft.SparkEntry.queries("q162_range_join_sql")(
      spark, "/root/testdata/sf0.001")
    val p = plan(df)
    // the granule equi-join carries the work; the long-interval guard
    // branch stays in the plan (its filter empties it at runtime for
    // 7-day intervals) — assert the hybrid shape, not its absence
    assert(p.contains("__graft_g") && p.contains("Union"),
      s"the declared query must get the hybrid granule plan\n$p")
    val hashJoins = "BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).size
    assert(hashJoins >= 1, s"the short branch must be a hash join\n$p")
  }

  test("sentinel (open-ended) intervals take the nested-loop branch, results exact") {
    import spark.implicits._
    fixtures()
    // three interval classes: normal 2h, an open-ended sentinel
    // (9999-12-31 — would be ~70M granules if exploded), and null bounds
    val ivals = Seq(
      (1L, "2026-01-01T02:00:00", "2026-01-01T04:00:00"),
      (2L, "2026-01-01T00:00:00", "9999-12-31T00:00:00"),
      (3L, null.asInstanceOf[String], "2026-01-02T00:00:00"))
      .toDF("iv_id", "s_s", "e_s")
      .selectExpr("iv_id", "CAST(s_s AS TIMESTAMP) AS s", "CAST(e_s AS TIMESTAMP) AS e")
    ivals.createOrReplaceTempView("ivals2")
    val q = "SELECT p_id, iv_id FROM pts JOIN ivals2 ON ts >= s AND ts < e"
    val rewritten = spark.sql(q)
    val p = plan(rewritten)
    assert(p.contains("Union"), s"the hybrid split must be present\n$p")
    spark.conf.set("spark.graft.rangeJoin.granuleSeconds", "0")
    val reference = try rows(spark.sql(q))
    finally spark.conf.unset("spark.graft.rangeJoin.granuleSeconds")
    assert(rows(rewritten) == reference,
      "sentinel + null intervals must keep nested-loop semantics exactly")
    assert(reference.exists(_._2 == 2L), "the sentinel interval matches points")
    assert(!reference.exists(_._2 == 3L), "null bounds never match")
  }

  test("a reserved __graft_g column on an input bails the rewrite out safely") {
    import spark.implicits._
    fixtures()
    spark.sql("SELECT *, p_id AS __graft_g FROM pts").createOrReplaceTempView("pts_g")
    val q = "SELECT p_id, iv_id, __graft_g FROM pts_g JOIN ivals ON ts >= s AND ts < e"
    val df = spark.sql(q)
    assert(plan(df).contains("BroadcastNestedLoopJoin") ||
      plan(df).contains("CartesianProduct"),
      "collision must fall back to the vanilla plan, not clobber the column")
    val got = df.select("p_id", "__graft_g").as[(Long, Long)].collect()
    assert(got.forall(r => r._1 == r._2), "the user column must survive intact")
  }

  test("join sides sharing a column name still rewrite and stay exact") {
    // regression: unionByName threw COLUMN_ALREADY_EXISTS when both
    // sides carried e.g. `id` — the union is positional now
    fixtures()
    spark.sql("SELECT p_id AS id, ts FROM pts").createOrReplaceTempView("p2")
    spark.sql("SELECT iv_id AS id, s, e FROM ivals").createOrReplaceTempView("i2")
    val q = "SELECT p2.id, i2.id AS iid FROM p2 JOIN i2 ON ts >= s AND ts < e"
    val rewritten = spark.sql(q)
    val p = plan(rewritten)
    assert(p.contains("__graft_g"), s"shared names must not bail the rewrite\n$p")
    import spark.implicits._
    def pairs(df: DataFrame) = df.as[(Long, Long)].collect().toSet
    spark.conf.set("spark.graft.rangeJoin.granuleSeconds", "0")
    val reference = try pairs(spark.sql(q))
    finally spark.conf.unset("spark.graft.rangeJoin.granuleSeconds")
    assert(pairs(rewritten) == reference && reference.nonEmpty)
  }

  test("inverted intervals (s > e) are exact and never explode granules") {
    // regression: span < 0 passed the short-branch filter and
    // sequence(gs, ge) built a ~70M-element DESCENDING array → OOM.
    // s > e can match no point under any bound strictness, so those
    // rows are dropped from both branches.
    import spark.implicits._
    fixtures()
    val ivals = Seq(
      (1L, "2026-01-01T02:00:00", "2026-01-01T04:00:00"),
      (2L, "9999-12-31T00:00:00", "2026-01-01T00:00:00")) // inverted sentinel
      .toDF("iv_id", "s_s", "e_s")
      .selectExpr("iv_id", "CAST(s_s AS TIMESTAMP) AS s", "CAST(e_s AS TIMESTAMP) AS e")
    ivals.createOrReplaceTempView("ivals_inv")
    val q = "SELECT p_id, iv_id FROM pts JOIN ivals_inv ON ts >= s AND ts < e"
    val rewritten = spark.sql(q)
    assert(plan(rewritten).contains("__graft_g"))
    val got = rows(rewritten)
    assert(got.nonEmpty && got.forall(_._2 == 1L),
      "normal interval matches; the inverted one matches nothing")
    spark.conf.set("spark.graft.rangeJoin.granuleSeconds", "0")
    val reference = try rows(spark.sql(q))
    finally spark.conf.unset("spark.graft.rangeJoin.granuleSeconds")
    assert(got == reference)
  }

  test("the disable switch restores the nested loop") {
    fixtures()
    spark.conf.set("spark.graft.rangeJoin.granuleSeconds", "0")
    try {
      val p = plan(spark.sql(
        "SELECT p_id, iv_id FROM pts JOIN ivals ON ts >= s AND ts < e"))
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("CartesianProduct"))
    } finally spark.conf.unset("spark.graft.rangeJoin.granuleSeconds")
  }
}
