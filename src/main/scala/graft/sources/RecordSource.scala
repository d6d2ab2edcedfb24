package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.fs.LocalFs
import graft.ingest.{EventCodec, Fanout, SyntheticOrders}

/** Source adapters for the reference's entry point — a stream of wire
  * records (`terraform/` wires REST API → Kinesis;
  * `lambda_kinesis_consumer/lambda_function.py:24-27` consumes
  * `record['kinesis']['data']` base64 payloads keyed by partition key).
  *
  * Every adapter normalizes to ONE record shape, the least common
  * denominator of Kinesis records (partitionKey / data /
  * approximateArrivalTimestamp) and Kafka records (key / value /
  * timestamp):
  *
  *   partition_key STRING, data STRING (base64 payload), arrival_ts TIMESTAMP
  *
  * Downstream (EventCodec.decode → Fanout → sinks) is pure
  * DataFrame-to-DataFrame and never sees the source choice — swapping
  * file → Kafka → Kinesis changes exactly one line of pipeline setup.
  * The connector-backed adapters bind the PUBLIC Spark data-source
  * names; their jars are not in this sandbox (zero egress), so the
  * `.format(...).load()` line is compile-checked, while everything
  * else each binding owns — the normalization from the connector's
  * fixed output schema to the record shape — IS runtime-proven:
  * SourcesSpec streams records staged in each connector's documented
  * schema through `normalize` → decode → fan-out and matches the
  * file-replay adapter on the same records.
  */
trait RecordSource {

  /** Streaming DataFrame in the normalized record shape. */
  def stream(s: SparkSession): DataFrame

  /** The decoded order-event stream (shared by every adapter). Every live
    * query starts here, so a session graft did not build gets the
    * fork-free local file system ([[graft.fs.LocalFs.install]]) before its
    * first checkpoint write.
    */
  final def events(s: SparkSession): DataFrame = {
    LocalFs.install(s)
    EventCodec.decode(stream(s))
  }
}

/** File-backed source for tests and backfills: reads wire-format
  * records previously staged with [[FileRecordSource.stage]]. A real
  * deployment uses this same adapter to REPLAY an S3 archive of raw
  * records through the identical pipeline — the batch/stream parity
  * the unified transforms exist for.
  */
final case class FileRecordSource(dir: String) extends RecordSource {
  def stream(s: SparkSession): DataFrame =
    s.readStream
      .schema("partition_key STRING, data STRING, arrival_ts TIMESTAMP")
      .parquet(dir)
}

object FileRecordSource {

  /** Produce the wire records the reference's producer would put on the
    * stream (`python_post_producer/python_producer.py:104-113`: base64
    * JSON, partition-keyed by customer), from the flat test tables.
    */
  def wireRecords(s: SparkSession, sfDir: String): DataFrame = {
    val nested = SyntheticOrders.nested(s, sfDir)
    // key, payload, and timestamp all come from ONE select over the same
    // row — never zip two evaluations of a shuffle-produced frame back
    // together by position
    nested.select(
      col("customer_id").as("partition_key"),
      EventCodec.encodeCol(nested).as("data"),
      Fanout.eventTs.as("arrival_ts"))
  }

  def stage(s: SparkSession, sfDir: String, outDir: String): Unit =
    wireRecords(s, sfDir).write.mode("overwrite").parquet(outDir)
}

/** JSONL-archive source: newline-delimited JSON wire records — the
  * usual raw-archive layout for an S3 landing bucket (one JSON object
  * per line, one file per delivery batch; the reference's producer
  * already emits JSON, `python_post_producer/python_producer.py:104-113`).
  * Unlike the connector bindings this adapter is FULLY runtime-proven:
  * the json source is built into Spark, so SourcesSpec streams a staged
  * JSONL archive end-to-end and matches the parquet file-replay
  * adapter. Schema is declared, not inferred — streaming json refuses
  * inference, and an archive replay should fail loudly on drift rather
  * than silently widen types.
  */
final case class JsonlRecordSource(dir: String) extends RecordSource {
  def stream(s: SparkSession): DataFrame =
    s.readStream
      .schema("partition_key STRING, data STRING, arrival_ts TIMESTAMP")
      .json(dir)
}

object JsonlRecordSource {

  /** Land the producer's wire records as a JSONL archive. */
  def stage(s: SparkSession, sfDir: String, outDir: String): Unit =
    FileRecordSource.wireRecords(s, sfDir)
      .write.mode("overwrite").json(outDir)
}

/** Kafka binding: the built-in `kafka` data source
  * (spark-sql-kafka connector), records normalized from
  * key/value/timestamp. Binary key/value cast to the wire's string
  * base64 payload.
  *
  * The connector jar is not in this sandbox (zero egress, not in
  * /opt/spark/jars), so `.load()` itself cannot execute here; the
  * normalization below IS runtime-proven — SourcesSpec streams records
  * staged in [[KafkaRecordSource.connectorSchema]] (the connector's
  * fixed, documented output shape) through [[KafkaRecordSource.normalize]]
  * → decode → fan-out and matches the file-replay adapter on the same
  * records. The only compile-checked-only line left is the format
  * binding itself.
  */
final case class KafkaRecordSource(bootstrapServers: String, topic: String,
    startingOffsets: String = "latest") extends RecordSource {
  def stream(s: SparkSession): DataFrame =
    KafkaRecordSource.normalize(
      s.readStream
        .format("kafka")
        .option("kafka.bootstrap.servers", bootstrapServers)
        .option("subscribe", topic)
        .option("startingOffsets", startingOffsets)
        .load())
}

object KafkaRecordSource {

  /** The kafka source's FIXED output schema (it is not user-definable —
    * every spark-sql-kafka release emits exactly these columns), which
    * is what makes the normalization provable without the broker.
    */
  val connectorSchema: String =
    "key BINARY, value BINARY, topic STRING, partition INT, " +
      "offset BIGINT, timestamp TIMESTAMP, timestampType INT"

  /** Connector output → normalized record shape. Total function of the
    * input frame: safe on batch or streaming frames in connectorSchema.
    */
  def normalize(records: DataFrame): DataFrame =
    records.select(
      col("key").cast("string").as("partition_key"),
      col("value").cast("string").as("data"),
      col("timestamp").as("arrival_ts"))
}

/** Kinesis binding: the public Spark Kinesis connector's `aws-kinesis`
  * data source, records normalized from partitionKey / data /
  * approximateArrivalTimestamp — the exact fields
  * `lambda_kinesis_consumer` reads from the Kinesis event payload.
  */
final case class KinesisRecordSource(streamName: String, region: String,
    initialPosition: String = "latest") extends RecordSource {
  def stream(s: SparkSession): DataFrame =
    KinesisRecordSource.normalize(
      s.readStream
        .format("aws-kinesis")
        .option("kinesis.streamName", streamName)
        .option("kinesis.region", region)
        .option("kinesis.startingposition", initialPosition)
        .load())
}

object KinesisRecordSource {

  /** The `aws-kinesis` source's record shape (its documented output
    * columns) — like Kafka's, fixed by the connector, so the
    * normalization is provable without AWS.
    */
  val connectorSchema: String =
    "partitionKey STRING, data BINARY, streamName STRING, " +
      "sequenceNumber STRING, approximateArrivalTimestamp TIMESTAMP"

  /** Connector output → normalized record shape. */
  def normalize(records: DataFrame): DataFrame =
    records.select(
      col("partitionKey").cast("string").as("partition_key"),
      col("data").cast("string").as("data"),
      col("approximateArrivalTimestamp").as("arrival_ts"))
}
