package graft.tools

import org.apache.spark.sql.functions._

import graft.cdc.{Ingest, Registry, Versioned}
import graft.core.GraftSession
import graft.streaming.{CdcStream, CdcStreamConfig}

/** CLI usage example: stream a directory of Datastream-style JSONL change
  * logs into versioned parquet tables, then print each table's latest
  * snapshot.
  *
  * usage: CdcDemo <registry.json> <inputDir> <warehouseDir> <checkpointDir> [pkCol]
  */
object CdcDemo {
  def main(args: Array[String]): Unit = {
    if (args.length < 4) {
      System.err.println(
        "usage: CdcDemo <registry.json> <inputDir> <warehouseDir> <checkpointDir> [pkCol]")
      sys.exit(2)
    }
    val Array(registryPath, inputDir, warehouseDir, checkpointDir, rest @ _*) = args: @unchecked
    val pkCol = rest.headOption

    val spark = GraftSession.create(
      sys.env.getOrElse("SPARK_MASTER", s"local[${GraftSession.localCpus}]"), "graft-cdc-demo")
    spark.sparkContext.setLogLevel("WARN")

    val registry = Registry.load(registryPath)
    // tables carrying the pk column get an incrementally-maintained
    // current-state snapshot alongside the versioned history
    val snapshotKeys = pkCol.map(pk =>
      registry.collect { case (t, spec) if spec.schema.fieldNames.contains(pk) =>
        t -> Seq(pk)
      }).getOrElse(Map.empty)
    CdcStream.runOnce(spark, CdcStreamConfig(inputDir, warehouseDir, checkpointDir, registry,
      snapshotKeys = snapshotKeys))

    registry.keys.toSeq.sorted.foreach { table =>
      val df = Ingest.readTable(spark, warehouseDir, registry(table))
      println(s"== $table: ${df.count()} versioned rows ==")
      pkCol.filter(df.columns.contains) match {
        case Some(pk) =>
          val versioned = df.withColumn("_v", col("update_date").cast("timestamp"))
          val snap = Versioned.latestSnapshot(versioned, Seq(pk), versionCol = "_v").drop("_v")
          println(s"-- latest snapshot (${snap.count()} live rows) --")
          snap.show(20, truncate = false)
        case None => df.show(20, truncate = false)
      }
      if (snapshotKeys.contains(table)) {
        println(s"-- maintained snapshot (incremental fold) --")
        graft.cdc.SnapshotMaintainer.read(spark, warehouseDir, table).show(20, truncate = false)
      }
    }
    spark.stop()
  }
}
