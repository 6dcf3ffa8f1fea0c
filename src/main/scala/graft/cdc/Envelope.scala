package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Datastream change-event envelope parsing.
  *
  * Input contract (reference `dataflow-cdc-stream.py:64-69`, FIXTURES.md §1):
  * JSONL (optionally gzipped) where each line is
  * `{object, source_timestamp, source_metadata:{change_type}, payload:{...}}`.
  *
  * The payload is kept as a RAW JSON string at the envelope level and only
  * re-parsed with the registry schema per table — schemas are declared, not
  * inferred (reference `dataflow-cdc-stream.py:76`), and one micro-batch can
  * carry many tables with different schemas.
  *
  * Null semantics: the reference strips null-valued keys before write
  * (`dataflow-cdc-stream.py:68`) so the sink fills NULL; `from_json` maps
  * both null-valued and missing payload keys to SQL NULL — observably
  * identical (SURVEY.md §1.3).
  */
object Envelope {

  /** Envelope-level schema; `payload` stays a raw JSON string (Spark's
    * JSON parser returns the unparsed subtree text for StringType). */
  val schema: StructType = StructType(Seq(
    StructField("object", StringType),
    StructField("source_timestamp", StringType),
    StructField("source_metadata", StructType(Seq(StructField("change_type", StringType)))),
    StructField("payload", StringType)))

  /** Parse raw JSONL lines (a one-column `value` DataFrame — batch
    * `spark.read.text` or streaming `spark.readStream.text`) into envelope
    * columns. Malformed lines survive as all-null rows with `_raw` set, so
    * they can be dead-lettered instead of killing the job. */
  def parse(lines: DataFrame): DataFrame =
    lines
      .withColumn("_env", from_json(col("value"), schema))
      .select(
        col("_env.object").as("object"),
        col("_env.source_metadata.change_type").as("action"),
        col("_env.source_timestamp").as("source_timestamp"),
        col("_env.payload").as("payload"),
        col("value").as("_raw"))

  /** Event-time date partition column name for versioned tables. */
  val DtCol = "_dt"

  /** The schema [[project]] emits for `spec` (without [[DtCol]]): the
    * declared payload fields, then `action` and `update_date`. */
  def projectedSchema(spec: TableSpec): StructType =
    StructType(spec.payloadSchema.fields.toSeq :+
      StructField("action", StringType) :+
      StructField("update_date", spec.updateDateType))

  /** Registry-driven projection of parsed envelopes to one table's rows:
    * payload fields with declared types + the two synthetic columns
    * (`action`, `update_date` — reference `dataflow-cdc-stream.py:66-67`).
    * `update_date` is cast per the registry's declared type for THIS table
    * (the reference registry declares STRING for one table and TIMESTAMP
    * for another — `data-stream.json:17,31`).
    */
  def project(parsed: DataFrame, spec: TableSpec, withDatePartition: Boolean = false): DataFrame = {
    val updateDate: Column = spec.updateDateType match {
      case TimestampType => col("source_timestamp").cast(TimestampType)
      case StringType    => col("source_timestamp")
      case other         => col("source_timestamp").cast(other)
    }
    val payloadCols =
      spec.payloadSchema.fields.map(f => col(s"_p.${f.name}").as(f.name)).toSeq
    val base = payloadCols :+ col("action").as("action") :+ updateDate.as("update_date")
    // _dt always derives from the envelope timestamp (update_date may be
    // STRING per registry — the partition column must stay a real date)
    val cols = if (withDatePartition)
      base :+ to_date(col("source_timestamp").cast(TimestampType)).as(DtCol)
    else base
    parsed
      .filter(col("object") === spec.logicalName)
      .withColumn("_p", from_json(col("payload"), spec.payloadSchema))
      .select(cols: _*)
  }
}
