package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JSON decoding of the reference's edit-event payload.
  *
  * Reference: JsonNodeDeserializationSchema.java:24-37 hand-parses
  * each Kafka value with Jackson into an `EditEvent` POJO. Spark-first
  * equivalent: a declarative `from_json` with an explicit schema —
  * codegen'd, columnar, and identical for batch and streaming inputs.
  * Malformed records become nulls (PERMISSIVE) instead of killing the
  * job, matching an at-least-once ingest posture.
  */
object EditEvents {

  /** Schema of the Wikipedia edit JSON (reference EditEvent.java:3-13).
    * `id` kept as string: the reference deserializer calls asText()
    * (JsonNodeDeserializationSchema.java:27).
    */
  val schema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("domain", StringType),
    StructField("namespace", StringType),
    StructField("title", StringType),
    StructField("timestamp", StringType),
    StructField("user_name", StringType),
    StructField("user_type", StringType),
    StructField("old_length", LongType),
    StructField("new_length", LongType)))

  /** Decode a column of JSON strings into typed edit-event columns.
    * `timestamp` is parsed from the feed's ISO-8601 form
    * (e.g. 2023-11-27T19:19:29Z) into a TimestampType `ts`.
    */
  def decode(json: Column): Column =
    from_json(json, schema)

  /** From a DataFrame with a string `value` column (Kafka-shaped frame:
    * Kafka sources expose `value: binary` — callers cast to string),
    * produce the typed edit-event DataFrame with an event-time `ts`.
    *
    * Each value is decoded exactly once. The decoded struct is split
    * into columns by `inline` of a one-element array, a Generate that a
    * downstream filter on its output cannot be pushed below: split by a
    * plain projection, Catalyst pushes the reference job's
    * user-type/namespace filter under it and inlines `from_json` into
    * each predicate, parsing every value three times. Rows and values
    * are those of the projection form (a null or malformed value gives
    * a row of nulls).
    */
  def fromJson(frames: DataFrame, valueCol: String = "value"): DataFrame =
    frames
      .select(inline(array(decode(col(valueCol).cast(StringType)))))
      .withColumn("ts", to_timestamp(col("timestamp")))
}
