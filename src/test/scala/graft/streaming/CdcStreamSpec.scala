package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.cdc.{Fixtures, Ingest, Versioned}

class CdcStreamSpec extends SparkTestBase {
  import spark.implicits._

  private def freshDirs() = (tmpDir("cdc-in"), tmpDir("cdc-wh"), tmpDir("cdc-ck"))

  test("streaming ingest == batch ingest over the same gzipped JSONL files") {
    val (in, whStream, ck) = freshDirs()
    val whBatch = tmpDir("cdc-whb")
    Fixtures.writeLines(in, "log-000.jsonl.gz", Fixtures.lines.take(4), gzip = true)
    Fixtures.writeLines(in, "log-001.jsonl", Fixtures.lines.drop(4), gzip = false)

    CdcStream.runOnce(spark, CdcStreamConfig(in, whStream, ck, Fixtures.registry))
    Ingest.ingestDir(spark, in, Fixtures.registry, whBatch)

    for (t <- Seq("products", "users")) {
      val a = Ingest.readTable(spark, whStream, Fixtures.registry(t))
      val b = Ingest.readTable(spark, whBatch, Fixtures.registry(t))
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, s"table $t streaming/batch mismatch")
    }
  }

  test("unknown table dead-lettered, not dropped and not fatal") {
    val (in, wh, ck) = freshDirs()
    Fixtures.writeLines(in, "log.jsonl", Fixtures.lines, gzip = false)
    CdcStream.runOnce(spark, CdcStreamConfig(in, wh, ck, Fixtures.registry))
    val dead = spark.read.parquet(s"$wh/${Ingest.UnknownTableDir}")
    assert(dead.filter($"object" === "mystery").count() == 1)
  }

  test("restart with checkpoint: already-processed files are not re-appended") {
    val (in, wh, ck) = freshDirs()
    Fixtures.writeLines(in, "log-000.jsonl", Fixtures.lines.take(4), gzip = false)
    CdcStream.runOnce(spark, CdcStreamConfig(in, wh, ck, Fixtures.registry))
    val n1 = Ingest.readTable(spark, wh, Fixtures.registry("products")).count()

    // restart with the same checkpoint: no new files -> no growth
    CdcStream.runOnce(spark, CdcStreamConfig(in, wh, ck, Fixtures.registry))
    assert(Ingest.readTable(spark, wh, Fixtures.registry("products")).count() == n1)

    // add one new file -> only its rows appear
    Fixtures.writeLines(in, "log-001.jsonl", Fixtures.lines.drop(4), gzip = false)
    CdcStream.runOnce(spark, CdcStreamConfig(in, wh, ck, Fixtures.registry))
    assert(Ingest.readTable(spark, wh, Fixtures.registry("products")).count() == n1)
    assert(Ingest.readTable(spark, wh, Fixtures.registry("users")).count() == 2)
  }

  test("duplicate records across files: dedup-within-watermark drops them") {
    val (in, wh, ck) = freshDirs()
    Fixtures.writeLines(in, "log-000.jsonl", Fixtures.lines.take(2), gzip = false)
    Fixtures.writeLines(in, "log-dup.jsonl", Fixtures.lines.take(2), gzip = false) // same content again
    CdcStream.runOnce(spark, CdcStreamConfig(in, wh, ck, Fixtures.registry,
      dedupWithinWatermark = Some("1 hour")))
    assert(Ingest.readTable(spark, wh, Fixtures.registry("products")).count() == 2)
  }

  test("maintained snapshot: incremental fold across micro-batches == full-history window") {
    val (in, wh, ck) = freshDirs()
    val cfg = CdcStreamConfig(in, wh, ck, Fixtures.registry,
      snapshotKeys = Map("products" -> Seq("product_id")))
    // two separate runs = two micro-batches folding into the snapshot
    Fixtures.writeLines(in, "log-000.jsonl", Fixtures.lines.take(3), gzip = false)
    CdcStream.runOnce(spark, cfg)
    Fixtures.writeLines(in, "log-001.jsonl", Fixtures.lines.drop(3), gzip = false)
    CdcStream.runOnce(spark, cfg)

    val maintained = graft.cdc.SnapshotMaintainer.read(spark, wh, "products")
      .select("product_id", "category")
    val recomputed = Versioned.latestSnapshot(
        Ingest.readTable(spark, wh, Fixtures.registry("products"))
          .withColumn("__v", col("update_date").cast("timestamp")),
        Seq("product_id"), versionCol = "__v")
      .select("product_id", "category")
    val expectedRows = recomputed.collect().toSet // materialize BEFORE replay rewrites files
    assert(maintained.collect().toSet == expectedRows)
    // p1 deleted -> absent from the read view, p2 alive
    assert(maintained.select("product_id").as[String].collect().toSet == Set("p2"))

    // replaying the same files (fresh checkpoint) must not corrupt the fold
    CdcStream.runOnce(spark, cfg.copy(checkpointDir = tmpDir("ck2")))
    val replayed = graft.cdc.SnapshotMaintainer.read(spark, wh, "products")
      .select("product_id", "category")
    assert(replayed.collect().toSet == expectedRows)
  }

  test("maintained SCD2: per-trigger interval folds == batch scd2 over full history") {
    val (in, wh, ck) = freshDirs()
    val cfg = CdcStreamConfig(in, wh, ck, Fixtures.registry,
      scd2Keys = Map("products" -> Seq("product_id")))
    Fixtures.writeLines(in, "log-000.jsonl", Fixtures.lines.take(3), gzip = false)
    CdcStream.runOnce(spark, cfg)
    Fixtures.writeLines(in, "log-001.jsonl", Fixtures.lines.drop(3), gzip = false)
    CdcStream.runOnce(spark, cfg)

    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("product_id"), col("action"), col("update_date"),
        col("valid_from"), col("valid_to"), col("is_current"))
      .collect().map(_.toSeq.map(String.valueOf)).toSet
    val maintained = canon(graft.cdc.Scd2Maintainer.read(spark, wh, "products"))
    val recomputed = canon(Versioned.scd2(
      Ingest.readTable(spark, wh, Fixtures.registry("products")),
      Seq("product_id")))
    assert(maintained == recomputed,
      "interval folds must equal the full-history window")
    assert(maintained.nonEmpty)

    // replay with a fresh checkpoint: duplicate versions collapse
    CdcStream.runOnce(spark, cfg.copy(checkpointDir = tmpDir("ck2")))
    assert(canon(graft.cdc.Scd2Maintainer.read(spark, wh, "products")) == recomputed)
  }

  test("maintained aggregate: per-batch deltas == GROUP BY over the final snapshot") {
    val (in, wh, ck) = freshDirs()
    val spec = graft.cdc.AggMaintainer.AggSpec(
      "by_category", Seq("category"), Seq("weight_g"))
    val cfg = CdcStreamConfig(in, wh, ck, Fixtures.registry,
      snapshotKeys = Map("products" -> Seq("product_id")),
      aggSpecs = Map("products" -> Seq(spec)))
    // two runs = two micro-batches, spanning insert/update/delete
    Fixtures.writeLines(in, "log-000.jsonl", Fixtures.lines.take(3), gzip = false)
    CdcStream.runOnce(spark, cfg)
    Fixtures.writeLines(in, "log-001.jsonl", Fixtures.lines.drop(3), gzip = false)
    CdcStream.runOnce(spark, cfg)

    val maintained = graft.cdc.AggMaintainer.read(spark, wh, "products", "by_category")
      .select("category", "n_rows", "sum_weight_g")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2))).toSet
    val recomputed = graft.cdc.SnapshotMaintainer.read(spark, wh, "products")
      .groupBy("category")
      .agg(count(lit(1)).as("n"), sum(col("weight_g").cast("decimal(38,8)")).as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2))).toSet
    assert(maintained == recomputed, s"maintained $maintained != $recomputed")
    // p1 was deleted; only p2 (null category) remains
    assert(maintained.map(_._1) == Set(null))
  }

  test("maintained join view: per-trigger delta joins == join over final snapshots") {
    val (in, wh, ck) = freshDirs()
    val reg = graft.cdc.Registry.fromJson(
      """{
        |  "orders": {
        |    "table_name": "warehouse.orders_cdc",
        |    "schema": { "fields": [
        |      {"name": "order_id", "type": "INT64"},
        |      {"name": "cust", "type": "INT64"},
        |      {"name": "amount", "type": "FLOAT"},
        |      {"name": "action", "type": "STRING"},
        |      {"name": "update_date", "type": "TIMESTAMP"}
        |    ]}
        |  },
        |  "customers": {
        |    "table_name": "warehouse.customers_cdc",
        |    "schema": { "fields": [
        |      {"name": "cust_id", "type": "INT64"},
        |      {"name": "cust", "type": "INT64"},
        |      {"name": "name", "type": "STRING"},
        |      {"name": "action", "type": "STRING"},
        |      {"name": "update_date", "type": "TIMESTAMP"}
        |    ]}
        |  }
        |}""".stripMargin)
    val cfg = CdcStreamConfig(in, wh, ck, reg,
      snapshotKeys = Map("orders" -> Seq("order_id"),
        "customers" -> Seq("cust_id")),
      joinViews = Seq(JoinViewSpec("ord_cust", "cust", "orders", "customers")))
    def env(obj: String, ts: String, ct: String, payload: String) =
      Fixtures.envelope(obj, ts, ct, payload)
    // trigger 1: two orders for cust 1, one customer
    Fixtures.writeLines(in, "log-000.jsonl", Seq(
      env("orders", "2026-01-01T10:00:00.000Z", "insert",
        """{"order_id":1,"cust":1,"amount":5.0}"""),
      env("orders", "2026-01-01T10:00:00.000Z", "insert",
        """{"order_id":2,"cust":1,"amount":7.0}"""),
      env("customers", "2026-01-01T10:00:00.000Z", "insert",
        """{"cust_id":10,"cust":1,"name":"alice"}""")), gzip = false)
    CdcStream.runOnce(spark, cfg)
    def view() = graft.cdc.JoinMaintainer.read(spark, wh, "ord_cust")
      .select("cust", "a_order_id", "b_name")
      .as[(Long, Long, String)].collect().toSet
    assert(view() == Set((1L, 1L, "alice"), (1L, 2L, "alice")))
    // trigger 2: order 2 moves to cust 2 (new customer), order 1 deleted
    Fixtures.writeLines(in, "log-001.jsonl", Seq(
      env("customers", "2026-01-01T11:00:00.000Z", "insert",
        """{"cust_id":20,"cust":2,"name":"bob"}"""),
      env("orders", "2026-01-01T11:00:00.000Z", "update",
        """{"order_id":2,"cust":2,"amount":7.5}"""),
      env("orders", "2026-01-01T11:00:00.000Z", "delete",
        """{"order_id":1}""")), gzip = false)
    CdcStream.runOnce(spark, cfg)
    assert(view() == Set((2L, 2L, "bob")),
      "jk-moving update and delete must leave no stale join rows")
    // the maintained view equals the from-scratch join of the snapshots
    val oracle = graft.cdc.JoinMaintainer.rebuild(spark, wh, "ord_cust", "cust",
        graft.cdc.JoinMaintainer.Side("orders", Seq("order_id"), None),
        graft.cdc.JoinMaintainer.Side("customers", Seq("cust_id"), None))
      .select("cust", "a_order_id", "b_name")
      .as[(Long, Long, String)].collect().toSet
    assert(view() == oracle)
    // trigger 3: orders only — the customers side folds an empty batch
    Fixtures.writeLines(in, "log-002.jsonl", Seq(
      env("orders", "2026-01-01T12:00:00.000Z", "insert",
        """{"order_id":3,"cust":2,"amount":1.0}"""),
      env("orders", "2026-01-01T12:00:00.000Z", "update",
        """{"order_id":2,"cust":2,"amount":8.0}""")), gzip = false)
    CdcStream.runOnce(spark, cfg)
    val got = graft.cdc.JoinMaintainer.read(spark, wh, "ord_cust")
    val want = graft.cdc.JoinMaintainer.rebuild(spark, wh, "ord_cust", "cust",
      graft.cdc.JoinMaintainer.Side("orders", Seq("order_id"), None),
      graft.cdc.JoinMaintainer.Side("customers", Seq("cust_id"), None))
    assert(!got.columns.exists(_.endsWith("___bucket")), got.columns.mkString(","))
    assert(got.columns.toSet == want.columns.toSet)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(want.columns.toIndexedSeq.map(col): _*).collect().map(_.toSeq).toSet
    assert(rows(got) == rows(want))
    assert(view() == Set((2L, 2L, "bob"), (2L, 3L, "bob")))
  }

  test("stream-static enrichment sees snapshot state as of EACH trigger") {
    val wh = tmpDir("enrich-wh")
    val in = tmpDir("enrich-in")
    val ck = tmpDir("enrich-ck")
    def fold(rows: (String, String, String, String)*): Unit =
      graft.cdc.SnapshotMaintainer.update(spark, wh, "dims",
        rows.toSeq.toDF("k", "action", "update_date", "label"), Seq("k"))
    fold(("a", "insert", "2026-01-01T10:00:00", "A1"))

    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String)]
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.StringType)))
    def feed(n: Int, rows: Seq[(Long, String)]): Unit =
      rows.toDF("event_id", "k").coalesce(1)
        .write.mode("overwrite").parquet(s"$in/feed$n")
    feed(0, Seq((1L, "a")))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$in/*")
    val q = EventStream.enrichWithSnapshot(stream, wh, "dims", Seq("k"),
        (df, _) => collected.synchronized {
          collected ++= df.select("event_id", "k", "label")
            .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        })
      .option("checkpointLocation", ck).start()
    try {
      q.processAllAvailable()
      // dimension changes BETWEEN triggers; the next batch must see it
      fold(("a", "update", "2026-01-01T11:00:00", "A2"),
           ("b", "insert", "2026-01-01T11:00:00", "B1"))
      feed(1, Seq((2L, "a"), (3L, "b"), (4L, "missing")))
      q.processAllAvailable()
    } finally q.stop()

    val got = collected.synchronized(collected.toSet)
    assert(got == Set((1L, "a", "A1"), // trigger-1 state
      (2L, "a", "A2"), (3L, "b", "B1"), // trigger-2 state
      (4L, "missing", null))) // left join keeps unmatched events
  }

  test("dead-letter replay: registry learns a table, records backfill from _raw") {
    val (in, wh, ck) = freshDirs()
    Fixtures.writeLines(in, "log.jsonl", Fixtures.lines, gzip = false)
    val partial = Fixtures.registry.view.filterKeys(_ == "products").toMap
    CdcStream.runOnce(spark, CdcStreamConfig(in, wh, ck, partial))
    // users records (2) + mystery (1) are dead-lettered, users table absent
    assert(spark.read.parquet(s"$wh/${Ingest.UnknownTableDir}").count() == 3)
    assert(!new java.io.File(s"$wh/users").exists())

    Ingest.replayDeadLetter(spark, wh, Fixtures.registry)
    val users = Ingest.readTable(spark, wh, Fixtures.registry("users"))
    assert(users.count() == 2)
    assert(users.filter($"action" === "update").select("email").as[String].head() == "b@x.io")
    // idempotent: replaying again overwrites the same replay batch
    Ingest.replayDeadLetter(spark, wh, Fixtures.registry)
    assert(Ingest.readTable(spark, wh, Fixtures.registry("users")).count() == 2)
  }

  test("StreamMetrics listener captures per-batch rows and durations") {
    val (in, wh, ck) = freshDirs()
    Fixtures.writeLines(in, "log-000.jsonl", Fixtures.lines.take(4), gzip = false)
    Fixtures.writeLines(in, "log-001.jsonl", Fixtures.lines.drop(4), gzip = false)
    val m = StreamMetrics.attach(spark)
    try {
      CdcStream.runOnce(spark, CdcStreamConfig(in, wh, ck, Fixtures.registry,
        maxFilesPerTrigger = 1)) // force >= 2 micro-batches
      // listener delivery is async; wait briefly for the progress events
      val deadline = System.currentTimeMillis() + 15000
      while (m.summary._2 < Fixtures.lines.length && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val (nBatches, rows, rate, p95) = m.summary
      assert(rows == Fixtures.lines.length, s"expected all rows metered, got $rows")
      assert(nBatches >= 2, s"expected >=2 row-carrying batches, got $nBatches")
      assert(rate > 0 && p95 > 0)
    } finally StreamMetrics.detach(spark, m)
  }

  test("end-to-end: streamed versioned table answers latestSnapshot correctly") {
    val (in, wh, ck) = freshDirs()
    Fixtures.writeLines(in, "log.jsonl", Fixtures.lines, gzip = false)
    CdcStream.runOnce(spark, CdcStreamConfig(in, wh, ck, Fixtures.registry))

    val products = Ingest.readTable(spark, wh, Fixtures.registry("products"))
      .withColumn("update_ts", col("update_date").cast("timestamp"))
    val snap = Versioned.latestSnapshot(products, Seq("product_id"), versionCol = "update_ts")
    // p1 was deleted at 13:00 -> absent; p2 alive
    assert(snap.select("product_id").as[String].collect().toSet == Set("p2"))

    val asOf = Versioned.asOf(products, lit("2026-01-01 11:30:00").cast("timestamp"),
      Seq("product_id"), versionCol = "update_ts")
    assert(asOf.filter($"product_id" === "p1").select("category").as[String].head() == "health")
  }
  test("kafka-shaped frames feed the identical envelope pipeline") {
    // no broker in this environment: the wire-schema frame is file-backed,
    // exercising everything downstream of the source exactly as a
    // format("kafka") load would deliver it
    val wh = tmpDir("kafka-wh"); val whText = tmpDir("kafka-wht")
    val kafkaFrame = Fixtures.lines.zipWithIndex.map { case (line, i) =>
      (Array.emptyByteArray, line.getBytes("UTF-8"), "cdc-log", 0, i.toLong,
        new java.sql.Timestamp(1700000000000L + i), 0)
    }.toDF("key", "value", "topic", "partition", "offset", "timestamp", "timestampType")

    val parsed = graft.cdc.Envelope.parse(CdcStream.kafkaLines(kafkaFrame))
    Ingest.appendBatch(parsed, Fixtures.registry, wh, batchId = 0L)

    val in = tmpDir("kafka-in")
    Fixtures.writeLines(in, "log.jsonl", Fixtures.lines, gzip = false)
    Ingest.ingestDir(spark, in, Fixtures.registry, whText)
    for (t <- Seq("products", "users")) {
      val a = Ingest.readTable(spark, wh, Fixtures.registry(t))
      val b = Ingest.readTable(spark, whText, Fixtures.registry(t))
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, s"table $t kafka/text mismatch")
    }
  }

  test("registry refresh: a table added mid-stream routes without restart") {
    val (in, wh, ck) = freshDirs()
    val regPath = tmpDir("cdc-reg") + "/data-stream.json"
    def usersOnly: String = {
      // users entry only: products is UNKNOWN in phase 1
      val j = org.json4s.jackson.JsonMethods.parse(Fixtures.registryJson)
      org.json4s.jackson.JsonMethods.compact(
        org.json4s.JObject(j.asInstanceOf[org.json4s.JObject].obj.filter(_._1 == "users")))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(regPath), usersOnly)
    val cfg = CdcStreamConfig(in, wh, ck, registry = Map.empty,
      registryPath = Some(regPath))

    // phase 1: products records dead-letter (not registered yet)
    Fixtures.writeLines(in, "log-000.jsonl", Fixtures.lines, gzip = false)
    CdcStream.runOnce(spark, cfg)
    assert(Ingest.readTable(spark, wh, Fixtures.registry("users")).count() == 2)
    assert(!new java.io.File(
      s"$wh/${Fixtures.registry("products").physicalName}").exists())

    // phase 2: registry file gains products; the SAME config (no restart
    // of anything config-side) now routes new products records
    java.nio.file.Files.writeString(java.nio.file.Paths.get(regPath), Fixtures.registryJson)
    Fixtures.writeLines(in, "log-001.jsonl", Seq(Fixtures.envelope(
      "products", "2026-01-02T10:00:00.000Z", "insert",
      """{"product_id":"p9","category":"toys","weight_g":10.0,"photos_qty":3}""")),
      gzip = false)
    CdcStream.runOnce(spark, cfg)
    val products = Ingest.readTable(spark, wh, Fixtures.registry("products"))
    assert(products.count() == 1)

    // phase 3: the phase-1 dead letters replay into the now-known table
    Ingest.replayDeadLetter(spark, wh, graft.cdc.Registry.load(regPath))
    assert(Ingest.readTable(spark, wh, Fixtures.registry("products")).count() == 5)
  }

  test("registry type flip mid-stream: rejected, stream keeps old schema, table stays readable") {
    val (in, wh, ck) = freshDirs()
    val regPath = tmpDir("cdc-tflip") + "/data-stream.json"
    val v1 = """{"items": {"table_name": "items_cdc", "schema": {"fields": [
      {"name": "item_id", "type": "INT64"},
      {"name": "price", "type": "FLOAT"},
      {"name": "action", "type": "STRING"},
      {"name": "update_date", "type": "TIMESTAMP"}]}}}"""
    // price FLOAT -> STRING: the incompatible edit (mergeSchema cannot
    // reconcile a DOUBLE batch dir with a STRING one — poisoned table)
    val v2 = v1.replace("""{"name": "price", "type": "FLOAT"}""",
      """{"name": "price", "type": "STRING"}""")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(regPath), v1)
    val cfg = CdcStreamConfig(in, wh, ck, registry = Map.empty, registryPath = Some(regPath),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))

    Fixtures.writeLines(in, "log-000.jsonl", Seq(Fixtures.envelope(
      "items", "2026-01-01T10:00:00.000Z", "insert",
      """{"item_id":1,"price":9.99}""")), gzip = false)
    val q = CdcStream.start(spark, cfg)
    try {
      q.processAllAvailable()
      // live edit with the type flip, then more records: the refresh hook
      // must reject the flip and keep routing with the previous schema
      java.nio.file.Files.writeString(java.nio.file.Paths.get(regPath), v2)
      Fixtures.writeLines(in, "log-001.jsonl", Seq(Fixtures.envelope(
        "items", "2026-01-02T10:00:00.000Z", "insert",
        """{"item_id":2,"price":5.25}""")), gzip = false)
      q.processAllAvailable()
      assert(q.isActive, "stream must survive the rejected registry edit")
    } finally q.stop()

    val t = Ingest.readTable(spark, wh, "items_cdc")
    assert(t.schema("price").dataType == org.apache.spark.sql.types.DoubleType,
      s"price must keep the pre-flip type, got ${t.schema("price").dataType}")
    val rows = t.select("item_id", "price").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows == Map(1L -> 9.99, 2L -> 5.25), s"got $rows")
  }

  test("registry schema evolution: added column appears; old rows read as NULL") {
    val (in, wh, ck) = freshDirs()
    val regPath = tmpDir("cdc-sevo") + "/data-stream.json"
    val v1 = """{"items": {"table_name": "items_cdc", "schema": {"fields": [
      {"name": "item_id", "type": "INT64"},
      {"name": "price", "type": "FLOAT"},
      {"name": "action", "type": "STRING"},
      {"name": "update_date", "type": "TIMESTAMP"}]}}}"""
    val v2 = """{"items": {"table_name": "items_cdc", "schema": {"fields": [
      {"name": "item_id", "type": "INT64"},
      {"name": "price", "type": "FLOAT"},
      {"name": "currency", "type": "STRING"},
      {"name": "action", "type": "STRING"},
      {"name": "update_date", "type": "TIMESTAMP"}]}}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(regPath), v1)
    val cfg = CdcStreamConfig(in, wh, ck, registry = Map.empty, registryPath = Some(regPath))

    Fixtures.writeLines(in, "log-000.jsonl", Seq(Fixtures.envelope(
      "items", "2026-01-01T10:00:00.000Z", "insert",
      """{"item_id":1,"price":9.99}""")), gzip = false)
    CdcStream.runOnce(spark, cfg)

    // registry gains `currency`; running stream picks it up (refresh hook)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(regPath), v2)
    Fixtures.writeLines(in, "log-001.jsonl", Seq(Fixtures.envelope(
      "items", "2026-01-02T10:00:00.000Z", "insert",
      """{"item_id":2,"price":5.00,"currency":"EUR"}""")), gzip = false)
    CdcStream.runOnce(spark, cfg)

    val t = Ingest.readTable(spark, wh, "items_cdc")
    assert(t.columns.contains("currency"), s"union schema expected, got ${t.columns.toSeq}")
    val rows = t.select("item_id", "currency").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(rows == Map(1L -> None, 2L -> Some("EUR")))
  }

  test("cleanSource=archive bounds input listing to O(new files), results intact") {
    // the listing-cost policy the reference's Pub/Sub notification hop
    // exists for: processed input files MOVE to the archive dir, so a
    // long stream's per-trigger input listing covers only unprocessed
    // files — not every file ever landed
    val (in, wh, ck) = freshDirs()
    val archive = tmpDir("cdc-archive")
    def inputFiles(): Seq[String] = {
      val d = new java.io.File(in)
      Option(d.listFiles()).map(_.filter(_.isFile).map(_.getName).toSeq)
        .getOrElse(Seq.empty)
    }
    def archivedFiles(): Long = {
      def rec(f: java.io.File): Long =
        if (f.isFile) 1L
        else Option(f.listFiles()).map(_.map(rec).sum).getOrElse(0L)
      rec(new java.io.File(archive))
    }
    Fixtures.writeLines(in, "log-000.jsonl", Fixtures.lines.take(4), gzip = false)
    Fixtures.writeLines(in, "log-001.jsonl", Fixtures.lines.drop(4), gzip = false)
    // maxFilesPerTrigger = 1 → one file per batch. A batch's files are
    // cleaned when the batch COMMITS, i.e. when the NEXT batch starts —
    // so archival lags processing by one batch (the documented bound:
    // the input listing is O(unprocessed + last batch), not O(ever)).
    val cfg = CdcStreamConfig(in, wh, ck, Fixtures.registry,
      maxFilesPerTrigger = 1,
      cleanSource = "archive", sourceArchiveDir = Some(archive))
    CdcStream.runOnce(spark, cfg)
    // batch 1's start committed batch 0 → its file archives (async: poll)
    val deadline = System.currentTimeMillis() + 30000
    while (archivedFiles() < 1 && System.currentTimeMillis() < deadline)
      Thread.sleep(200)
    assert(archivedFiles() >= 1 && inputFiles().size <= 1,
      s"committed batches' files must leave the input dir: ${inputFiles()}")
    // results are complete despite the moves
    assert(Ingest.readTable(spark, wh, Fixtures.registry("products")).count() == 4)

    // a SECOND wave: the restart replays/commits the prior batch, so
    // its file archives too; afterwards the input dir holds at most the
    // final batch's file — O(new), never O(files ever landed)
    Fixtures.writeLines(in, "log-002.jsonl", Fixtures.lines.take(2), gzip = false)
    CdcStream.runOnce(spark, cfg)
    val deadline2 = System.currentTimeMillis() + 30000
    while (archivedFiles() < 2 && System.currentTimeMillis() < deadline2)
      Thread.sleep(200)
    assert(archivedFiles() >= 2 && inputFiles().size <= 1,
      s"input dir must not accumulate processed files: ${inputFiles()}")
    assert(Ingest.readTable(spark, wh, Fixtures.registry("products")).count() == 6)
  }

  test("cleanSource=archive requires an archive dir") {
    val (in, wh, ck) = freshDirs()
    intercept[IllegalArgumentException] {
      CdcStream.start(spark, CdcStreamConfig(in, wh, ck, Fixtures.registry,
        cleanSource = "archive"))
    }
  }

  test("expire policy for a table absent from a static registry fails start") {
    val (in, wh, ck) = freshDirs()
    val e = intercept[IllegalArgumentException] {
      CdcStream.start(spark, CdcStreamConfig(in, wh, ck, Fixtures.registry,
        expireEveryNBatches = 1,
        expire = Map("no_such_table" -> ExpirePolicy("1 day", Seq("id")))))
    }
    assert(e.getMessage.contains("no_such_table"))
  }

  test("full streaming loop: every maintainer engaged concurrently + archive, stores == from-scratch") {
    // the deployment shape: ONE stream with snapshot + aggregate + SCD2 +
    // join-view maintenance all on and the input-listing bound engaged.
    // q167-q180 drive the maintainers via direct processBatch/update
    // calls; this is the end-to-end micro-batch loop over a file source,
    // with the concurrency the gate queries can't exercise — shared
    // batch reads across maintainers, a table that is BOTH a join-view
    // member and SCD2-maintained, folds for three tables per trigger.
    val (in, wh, ck) = freshDirs()
    val archive = tmpDir("all-archive")
    val reg = graft.cdc.Registry.fromJson(
      """{
        |  "orders": {
        |    "table_name": "warehouse.orders_cdc",
        |    "schema": { "fields": [
        |      {"name": "order_id", "type": "INT64"},
        |      {"name": "cust", "type": "INT64"},
        |      {"name": "amount", "type": "FLOAT"},
        |      {"name": "action", "type": "STRING"},
        |      {"name": "update_date", "type": "TIMESTAMP"}
        |    ]}
        |  },
        |  "customers": {
        |    "table_name": "warehouse.customers_cdc",
        |    "schema": { "fields": [
        |      {"name": "cust_id", "type": "INT64"},
        |      {"name": "cust", "type": "INT64"},
        |      {"name": "name", "type": "STRING"},
        |      {"name": "action", "type": "STRING"},
        |      {"name": "update_date", "type": "TIMESTAMP"}
        |    ]}
        |  },
        |  "items": {
        |    "table_name": "warehouse.items_cdc",
        |    "schema": { "fields": [
        |      {"name": "item_id", "type": "STRING"},
        |      {"name": "category", "type": "STRING"},
        |      {"name": "qty", "type": "INT64"},
        |      {"name": "action", "type": "STRING"},
        |      {"name": "update_date", "type": "TIMESTAMP"}
        |    ]}
        |  }
        |}""".stripMargin)
    val cfg = CdcStreamConfig(in, wh, ck, reg,
      cleanSource = "archive", sourceArchiveDir = Some(archive),
      snapshotKeys = Map(
        "orders" -> Seq("order_id"), "customers" -> Seq("cust_id"),
        "items" -> Seq("item_id")),
      aggSpecs = Map("items" -> Seq(graft.cdc.AggMaintainer.AggSpec(
        "by_category", Seq("category"), Seq("qty")))),
      // orders is a join member AND SCD2-maintained — the fold-sharing case
      scd2Keys = Map("items" -> Seq("item_id"), "orders" -> Seq("order_id")),
      joinViews = Seq(JoinViewSpec("ord_cust", "cust", "orders", "customers")))
    def env(obj: String, ts: String, ct: String, payload: String) =
      Fixtures.envelope(obj, ts, ct, payload)
    // trigger 1: base population
    Fixtures.writeLines(in, "log-000.jsonl", Seq(
      env("items", "2026-01-01T10:00:00.000Z", "insert",
        """{"item_id":"i1","category":"A","qty":5}"""),
      env("items", "2026-01-01T10:00:00.000Z", "insert",
        """{"item_id":"i2","category":"A","qty":7}"""),
      env("orders", "2026-01-01T10:00:00.000Z", "insert",
        """{"order_id":1,"cust":1,"amount":5.0}"""),
      env("orders", "2026-01-01T10:00:00.000Z", "insert",
        """{"order_id":2,"cust":1,"amount":7.0}"""),
      env("customers", "2026-01-01T10:00:00.000Z", "insert",
        """{"cust_id":10,"cust":1,"name":"alice"}""")), gzip = false)
    CdcStream.runOnce(spark, cfg)
    // trigger 2: updates (incl. a join-key move), a delete, new rows
    Fixtures.writeLines(in, "log-001.jsonl", Seq(
      env("items", "2026-01-01T11:00:00.000Z", "update",
        """{"item_id":"i1","category":"B","qty":6}"""),
      env("items", "2026-01-01T11:00:00.000Z", "insert",
        """{"item_id":"i3","category":"A","qty":1}"""),
      env("customers", "2026-01-01T11:00:00.000Z", "insert",
        """{"cust_id":20,"cust":2,"name":"bob"}"""),
      env("orders", "2026-01-01T11:00:00.000Z", "update",
        """{"order_id":2,"cust":2,"amount":7.5}"""),
      env("orders", "2026-01-01T11:00:00.000Z", "delete",
        """{"order_id":1}""")), gzip = false)
    CdcStream.runOnce(spark, cfg)
    // trigger 3: a delete on the aggregated table, one more order
    Fixtures.writeLines(in, "log-002.jsonl", Seq(
      env("items", "2026-01-01T12:00:00.000Z", "delete",
        """{"item_id":"i2"}"""),
      env("orders", "2026-01-01T12:00:00.000Z", "insert",
        """{"order_id":3,"cust":2,"amount":9.0}"""),
      env("customers", "2026-01-01T12:00:00.000Z", "update",
        """{"cust_id":10,"cust":1,"name":"alice2"}""")), gzip = false)
    CdcStream.runOnce(spark, cfg)

    def canon(df: org.apache.spark.sql.DataFrame, cols: String*) =
      df.select(cols.head, cols.tail: _*)
        .collect().map(_.toSeq.map(String.valueOf)).toSet

    // 1) maintained snapshots == latestSnapshot over the full history
    for ((t, pk) <- Seq(("items", "item_id"), ("orders", "order_id"),
                        ("customers", "cust_id"))) {
      val full = Ingest.readTable(spark, wh, reg(t))
        .withColumn("__v", col("update_date").cast("timestamp"))
      val want = canon(Versioned.latestSnapshot(full, Seq(pk),
        versionCol = "__v"), pk, "action")
      val got = canon(graft.cdc.SnapshotMaintainer.read(spark, wh, t),
        pk, "action")
      assert(got == want, s"snapshot($t): $got != $want")
    }
    assert(canon(graft.cdc.SnapshotMaintainer.read(spark, wh, "items"),
      "item_id", "category") ==
      Set(Seq("i1", "B"), Seq("i3", "A"))) // i2 deleted, i1 moved to B

    // 2) maintained aggregate == GROUP BY over the maintained snapshot
    val aggGot = graft.cdc.AggMaintainer.read(spark, wh, "items", "by_category")
      .select("category", "n_rows", "sum_qty")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2).longValue())).toSet
    val aggWant = graft.cdc.SnapshotMaintainer.read(spark, wh, "items")
      .groupBy("category")
      .agg(count(lit(1)).as("n"), sum(col("qty").cast("decimal(38,8)")).as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2).longValue())).toSet
    assert(aggGot == aggWant && aggGot == Set(("B", 1L, 6L), ("A", 1L, 1L)))

    // 3) maintained SCD2 == batch scd2 over full history — for the
    // standalone table AND the join-member one
    for (t <- Seq("items", "orders")) {
      val pk = if (t == "items") "item_id" else "order_id"
      val got = canon(graft.cdc.Scd2Maintainer.read(spark, wh, t),
        pk, "action", "valid_from", "valid_to", "is_current")
      val want = canon(Versioned.scd2(
        Ingest.readTable(spark, wh, reg(t)), Seq(pk)),
        pk, "action", "valid_from", "valid_to", "is_current")
      assert(got == want, s"scd2($t) diverged from batch derivation")
      assert(got.nonEmpty)
    }

    // 4) maintained join view == from-scratch join of the final snapshots
    val viewGot = canon(graft.cdc.JoinMaintainer.read(spark, wh, "ord_cust"),
      "cust", "a_order_id", "b_name")
    val viewWant = canon(graft.cdc.JoinMaintainer.rebuild(spark, wh,
        "ord_cust", "cust",
        graft.cdc.JoinMaintainer.Side("orders", Seq("order_id"), None),
        graft.cdc.JoinMaintainer.Side("customers", Seq("cust_id"), None)),
      "cust", "a_order_id", "b_name")
    assert(viewGot == viewWant)
    assert(viewGot == Set(Seq("2", "2", "bob"), Seq("2", "3", "bob")),
      s"jk-moving update + delete must leave exactly bob's orders: $viewGot")

    // 5) the listing bound held: triggers 1-2 committed, so their files
    // archived (async, poll); the input dir holds at most the last file
    def archivedFiles(): Long = {
      def rec(f: java.io.File): Long =
        if (f.isFile) 1L
        else Option(f.listFiles()).map(_.map(rec).sum).getOrElse(0L)
      rec(new java.io.File(archive))
    }
    val deadline = System.currentTimeMillis() + 30000
    while (archivedFiles() < 2 && System.currentTimeMillis() < deadline)
      Thread.sleep(200)
    val left = Option(new java.io.File(in).listFiles())
      .map(_.filter(_.isFile).map(_.getName).toSeq).getOrElse(Seq.empty)
    assert(archivedFiles() >= 2 && left.size <= 1,
      s"processed files must leave the input dir: $left")

    // 6) restart on the same checkpoint: no new files -> every store
    // unchanged (idempotent replay across ALL maintainers at once)
    CdcStream.runOnce(spark, cfg)
    assert(canon(graft.cdc.JoinMaintainer.read(spark, wh, "ord_cust"),
      "cust", "a_order_id", "b_name") == viewWant)
    assert(graft.cdc.AggMaintainer.read(spark, wh, "items", "by_category")
      .select("category", "n_rows", "sum_qty")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2).longValue()))
      .toSet == aggWant)
  }
}
