package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkJobs, SparkTestBase}
import graft.streaming.{CdcStream, CdcStreamConfig}

/** The touched buckets a CDC stream's folds take from the routing write
  * ([[Ingest.appendBatch]]'s observed sets): they must be exactly what
  * [[BucketStore.touchedBuckets]] finds in the written batch, per (table,
  * key, bucket count), and the stores folded from them must equal their
  * batch recomputation. A direct fold, which finds its own set, must
  * still compute its caller's batch once. */
class RoutedTouchedSpec extends SparkTestBase {
  import spark.implicits._

  // `acct` carries a second unique key, `code`, the SCD2 store's key: one
  // table, two bucketings. `line` has a composite key; `idle` gets no rows
  // on some triggers.
  private val reg = Registry.fromJson(
    """{
      |  "acct": {"table_name": "wh.acct", "schema": {"fields": [
      |    {"name": "acct_id", "type": "INT64"}, {"name": "code", "type": "STRING"},
      |    {"name": "bal", "type": "FLOAT"},
      |    {"name": "action", "type": "STRING"}, {"name": "update_date", "type": "TIMESTAMP"}]}},
      |  "sku": {"table_name": "wh.sku", "schema": {"fields": [
      |    {"name": "sku", "type": "STRING"}, {"name": "brand", "type": "STRING"},
      |    {"name": "price", "type": "FLOAT"},
      |    {"name": "action", "type": "STRING"}, {"name": "update_date", "type": "TIMESTAMP"}]}},
      |  "line": {"table_name": "wh.line", "schema": {"fields": [
      |    {"name": "order_id", "type": "INT64"}, {"name": "line_no", "type": "STRING"},
      |    {"name": "qty", "type": "INT64"},
      |    {"name": "action", "type": "STRING"}, {"name": "update_date", "type": "TIMESTAMP"}]}},
      |  "idle": {"table_name": "wh.idle", "schema": {"fields": [
      |    {"name": "id", "type": "INT64"}, {"name": "note", "type": "STRING"},
      |    {"name": "action", "type": "STRING"}, {"name": "update_date", "type": "TIMESTAMP"}]}}
      |}""".stripMargin)

  private val snapshotKeys = Map("acct" -> Seq("acct_id"), "sku" -> Seq("sku"),
    "line" -> Seq("order_id", "line_no"), "idle" -> Seq("id"))
  private val scd2Keys = Map("acct" -> Seq("code"), "line" -> Seq("order_id", "line_no"))
  private val byBrand = AggMaintainer.AggSpec("by_brand", Seq("brand"), Seq("price"))
  private val buckets = 16

  private def env(obj: String, hour: Int, ct: String, payload: String) =
    Fixtures.envelope(obj, f"2026-03-0${1 + hour / 24}T${hour % 24}%02d:00:00.000Z", ct, payload)
  private def acct(h: Int, ct: String, id: Int, bal: Double) =
    env("acct", h, ct, s"""{"acct_id":$id,"code":"a$id","bal":$bal}""")
  private def sku(h: Int, ct: String, s: String, brand: String, price: Double) =
    env("sku", h, ct, s"""{"sku":"$s","brand":"$brand","price":$price}""")
  private def line(h: Int, ct: String, o: Int, l: String, qty: Int) =
    env("line", h, ct, s"""{"order_id":$o,"line_no":"$l","qty":$qty}""")
  private def idle(h: Int, ct: String, id: Int) =
    env("idle", h, ct, s"""{"id":$id,"note":"n$id"}""")

  /** Three triggers, crossing a day boundary (two `_dt` partitions); the
    * second routes no `idle` rows. Deletes carry both acct keys. */
  private val triggers: Seq[Seq[String]] = Seq(
    (1 to 6).map(i => acct(10, "insert", i, i * 1.5)) ++
      (1 to 5).map(i => sku(10, "insert", s"s$i", s"b${i % 2}", i + 0.25)) ++
      (1 to 3).flatMap(o => Seq("x", "y").map(l => line(10, "insert", o, l, o))) ++
      Seq(idle(10, "insert", 1), idle(10, "insert", 2)),
    Seq(acct(23, "update", 2, 9.5), acct(23, "delete", 3, 0.0), acct(23, "insert", 7, 7.5),
      sku(23, "update", "s1", "b0", 3.5), sku(23, "delete", "s2", "b0", 0.0),
      line(23, "update", 1, "x", 11), line(23, "delete", 2, "y", 0),
      env("mystery", 23, "insert", """{"z":1}""")),
    Seq(acct(26, "update", 2, 4.5), acct(26, "insert", 8, 8.5),
      sku(26, "insert", "s6", "b1", 6.0), line(26, "insert", 4, "x", 4),
      idle(26, "delete", 1)))

  private val bucketings = (snapshotKeys.toSeq ++ scd2Keys.toSeq).map { case (t, k) =>
    BucketStore.Bucketing(t, k, buckets)
  }

  private def parsed(lines: Seq[String]): DataFrame = Envelope.parse(lines.toDF("value"))

  for (byDate <- Seq(false, true)) {
    test(s"the routing write observes the buckets its batch touches (partitionByDate = $byDate)") {
      val wh = tmpDir("routed-touched")
      // a bucketing whose table the registry lacks gets no set
      val absent = BucketStore.Bucketing("nope", Seq("id"), buckets)
      triggers.zipWithIndex.foreach { case (lines, b) =>
        val observed = Ingest.appendBatch(parsed(lines), reg, wh, b.toLong,
          partitionByDate = byDate, touched = bucketings :+ absent)
        assert(observed.keySet == bucketings.toSet, s"trigger $b")
        bucketings.foreach { bk =>
          val written = spark.read.schema(Envelope.projectedSchema(reg(bk.table)))
            .parquet(s"$wh/${reg(bk.table).physicalName}/batch=$b")
            .drop(Envelope.DtCol)
          val want = BucketStore.touchedBuckets(BucketStore.bucketed(written, bk.key, bk.buckets))
          assert(observed(bk) == want, s"trigger $b, $bk")
        }
        assert(observed(BucketStore.Bucketing("idle", Seq("id"), buckets)).isEmpty == (b == 1))
      }
      // the two keys of `acct` bucket its rows differently: one set per
      // bucketing, not per table
      val acctSets = Ingest.appendBatch(parsed(triggers.head), reg, wh, 9L,
        touched = bucketings.filter(_.table == "acct"))
      assert(acctSets.values.toSet.size == 2, acctSets.toString)
    }
  }

  /** The three triggers as three text files: one source split each. */
  private def inputDir(): String = {
    val in = tmpDir("routed-in")
    triggers.zipWithIndex.foreach { case (lines, i) =>
      Fixtures.writeLines(in, f"log-$i%03d.jsonl", lines, gzip = false)
    }
    in
  }

  for (byDate <- Seq(false, true)) {
    test(s"routing to N tables runs N + 2 Spark jobs (partitionByDate = $byDate)") {
      // one job materializes and counts the cached batch, then one write
      // per registry table and one for the dead letter; the observed
      // touched sets add none
      val parsed = Ingest.parse(spark, inputDir())
      val (observed, jobs) = SparkJobs.count(spark) {
        Ingest.appendBatch(parsed, reg, tmpDir("routed-jobs"), 0L,
          partitionByDate = byDate, touched = bucketings)
      }
      assert(observed.keySet == bucketings.toSet)
      assert(jobs == reg.size + 2, s"appendBatch ran $jobs Spark jobs for ${reg.size} tables")
    }
  }

  test("one job materializes the cached batch and counts its rows") {
    val cached = Ingest.parse(spark, inputDir()).cache()
    try {
      val ((rows, parts), jobs) = SparkJobs.count(spark)(Ingest.materializeCounting(cached))
      // the count is the job's result: final when the job returns
      assert(jobs == 1 && rows == triggers.map(_.size).sum && parts == triggers.size,
        s"$jobs jobs, $rows rows, $parts partitions")
    } finally cached.unpersist()
  }

  test("an empty batch observes an empty set for every bucketing") {
    // a no-data micro-batch (e.g. one that only advances a watermark)
    val observed = Ingest.appendBatch(parsed(Nil), reg, tmpDir("routed-empty"), 0L,
      touched = bucketings)
    assert(observed.keySet == bucketings.toSet && observed.values.forall(_.isEmpty))
  }

  test("touchedBuckets is the set of distinct bucket ids for Int, Long, String and composite keys") {
    val df = (1 to 40).map(i => (i, i.toLong * 7919L, s"k${i % 13}", i % 3)).toDF("i", "l", "s", "m")
    for (key <- Seq(Seq("i"), Seq("l"), Seq("s"), Seq("s", "m"), Seq("i", "s"))) {
      val keyed = BucketStore.bucketed(df.filter(col("i") % 5 =!= 0), key, buckets)
      val want = keyed.select(BucketStore.BucketCol).distinct()
        .collect().map(_.getInt(0)).sorted.toSeq
      assert(BucketStore.touchedBuckets(keyed) == want, key.toString)
    }
    assert(BucketStore.touchedBuckets(BucketStore.bucketed(df.limit(0), Seq("i"), buckets)).isEmpty)
  }

  test("a direct fold computes its caller's batch lineage once") {
    // the public entry points find their touched set with a job of their
    // own; a batch with lineage (here a filter) must not run again for
    // the fold
    val wh = tmpDir("direct-once")
    val src = s"${tmpDir("direct-src")}/rows"
    (1 to 12).map(i => (i.toLong, "insert", "2026-01-01T10:00:00", 100L + i % 3, s"n$i"))
      .toDF("id", "action", "update_date", "jk", "note").write.parquet(src)
    val evaluated = spark.sparkContext.longAccumulator("batch-rows")
    val counted = udf { (_: Long) => evaluated.add(1); true }.asNondeterministic()
    def batch = spark.read.parquet(src).filter(counted(col("id")))
    def once(name: String, rows: Long = 12L)(fold: => Unit): Unit = {
      evaluated.reset()
      fold
      assert(evaluated.value == rows, s"$name evaluated ${evaluated.value} batch rows")
    }
    once("snapshot")(SnapshotMaintainer.update(spark, wh, "s", batch, Seq("id"),
      buckets = buckets))
    once("scd2")(Scd2Maintainer.update(spark, wh, "s", batch, Seq("id"), buckets = buckets))
    once("agg")(AggMaintainer.foldAndMaintain(spark, wh, "a", batch, Seq("id"),
      Seq(AggMaintainer.AggSpec("by_jk", Seq("jk"))), snapshotBuckets = buckets))
    // two join sides over (differently planned) frames of the batch,
    // each computed once
    once("join", 24L)(JoinMaintainer.foldAndMaintain(spark, wh, "v", "jk",
      JoinMaintainer.Side("ja", Seq("id"), Some(batch)),
      JoinMaintainer.Side("jb", Seq("id"), Some(batch.filter(col("id") =!= 0L))),
      snapshotBuckets = buckets))
  }

  test("stores folded from the observed sets equal their recomputation") {
    val (in, wh, ck) = (tmpDir("rt-in"), tmpDir("rt-wh"), tmpDir("rt-ck"))
    val cfg = CdcStreamConfig(in, wh, ck, reg, partitionByDate = true,
      snapshotKeys = snapshotKeys, scd2Keys = scd2Keys,
      aggSpecs = Map("sku" -> Seq(byBrand)), snapshotBuckets = buckets)
    triggers.zipWithIndex.foreach { case (lines, b) =>
      Fixtures.writeLines(in, f"log-$b%03d.jsonl", lines, gzip = false)
      CdcStream.runOnce(spark, cfg)
    }

    def canon(df: DataFrame, cols: Seq[String]) =
      df.select(cols.map(col): _*).collect().map(_.toSeq.map(String.valueOf)).toSet
    def history(t: String) = Ingest.readTable(spark, wh, reg(t))
    for ((t, pk) <- snapshotKeys) {
      val cols = reg(t).schema.fieldNames.toSeq
      val want = Versioned.latestSnapshot(
          history(t).withColumn("__v", col("update_date").cast("timestamp")), pk,
          versionCol = "__v")
        .filter(col("action") =!= Versioned.DeleteAction)
      assert(canon(SnapshotMaintainer.read(spark, wh, t), cols) == canon(want, cols),
        s"snapshot($t)")
    }
    for ((t, key) <- scd2Keys) {
      val cols = reg(t).schema.fieldNames.toSeq ++ Seq("valid_from", "valid_to", "is_current")
      val got = canon(Scd2Maintainer.read(spark, wh, t), cols)
      assert(got.nonEmpty && got == canon(Versioned.scd2(history(t), key), cols), s"scd2($t)")
    }
    val aggCols = Seq("brand", "n_rows", "sum_price")
    val aggWant = SnapshotMaintainer.read(spark, wh, "sku").groupBy("brand")
      .agg(count(lit(1)).as("n_rows"), sum(col("price").cast("decimal(38,8)")).as("sum_price"))
    assert(canon(AggMaintainer.read(spark, wh, "sku", "by_brand"), aggCols) ==
      canon(aggWant, aggCols))
    assert(canon(SnapshotMaintainer.read(spark, wh, "idle"), Seq("id")) == Set(Seq("2")))
  }
}
