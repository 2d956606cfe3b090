package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Keyed event emission — the engine analog of the reference's Kafka
  * publish (TxaKafkaItemWriter.java:37-79: key = externalReferenceUuid,
  * value = camelCase JSON with epoch-millis timestamps, flush barrier
  * before the watermark commit).
  *
  * No kafka connector jar exists offline (SURVEY.md §7.1), so
  * [[EventSink.publish]] appends to a keyed parquet event log with
  * identical (key, value) semantics; in production the same DataFrame
  * writes through `format("kafka")` unchanged.
  */
object EventSink {

  /** Durably append (key, value, topic) rows to `<root>/events/<topic>`;
    * must complete before the caller commits its watermark (the flush
    * barrier). */
  def publish(events: DataFrame, root: String, topic: String): Unit =
    events.withColumn("topic", lit(topic))
      .write.mode("append").parquet(s"$root/events/$topic")

  /** Wire format: camelCase field names, timestamps as epoch millis,
    * nulls preserved — pinned by the reference's serializer goldens
    * (DocumentSerializerTest.java:30-73). */
  def keyedEvents(extracted: DataFrame): DataFrame =
    extracted.select(
      col("conv_id").as("key"),
      to_json(struct(
        col("conv_id").as("convId"),
        col("turn_idx").as("turnIdx"),
        col("role"),
        col("tool"),
        unix_millis(col("ts").cast("timestamp")).as("ts"),
        col("payload_kind").as("payloadKind"),
        col("extracted_text").as("extractedText")
      )).as("value"))

  /** Delete-mode tombstones: key + minimal JSON (no payload). */
  def tombstones(selected: DataFrame): DataFrame =
    selected.select(
      col("conv_id").as("key"),
      to_json(struct(
        col("conv_id").as("convId"),
        col("turn_idx").as("turnIdx"),
        unix_millis(col("ts").cast("timestamp")).as("deletedTs")
      )).as("value"))

  def readTopic(spark: SparkSession, root: String, topic: String): DataFrame =
    spark.read.parquet(s"$root/events/$topic")
}
