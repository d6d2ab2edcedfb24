package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Codec for the reference's wire format: a nested JSON order event,
  * base64-encoded into a Kinesis record's `data` field
  * (`/root/reference/python_post_producer/python_producer.py:47-100`
  * produces it; `/root/reference/lambda_kinesis_consumer/lambda_function.py:27`
  * decodes with `json.loads(base64.b64decode(...))`).
  *
  * Spark-first: `unbase64` + `from_json` with an EXPLICIT schema — both
  * are codegen'd catalyst expressions, so decode runs inside
  * WholeStageCodegen with no UDF boundary and scales linearly with
  * executors. Schema-on-read instead of the reference's per-record
  * Python dict walking.
  */
object EventCodec {

  /** The record column carrying the base64 payload (Kinesis' name). */
  final val DataCol = "data"

  /** The producer's document schema, verbatim — including the
    * reference's `purchaise_details` spelling
    * (`python_producer.py:66`).
    */
  val orderEventSchema: StructType = StructType(Seq(
    StructField("customer_id", StringType),
    StructField("order_id", StringType),
    StructField("order_date", StringType), // ISO-8601 with trailing Z
    StructField("status", StringType),
    StructField("shipping_address", StructType(Seq(
      StructField("street", StringType),
      StructField("city", StringType),
      StructField("state", StringType),
      StructField("zip", StringType),
      StructField("country", StringType)))),
    StructField("purchaise_details", StructType(Seq(
      StructField("payment_type", StringType),
      StructField("amount", DoubleType),
      StructField("currency", StringType),
      StructField("instalments", IntegerType)))),
    StructField("product_details", ArrayType(StructType(Seq(
      StructField("product_id", StringType),
      StructField("name", StringType),
      StructField("quantity", IntegerType),
      StructField("line_number", IntegerType),
      StructField("item_details", StructType(Seq(
        StructField("color", StringType),
        StructField("size", StringType))))))))))

  /** The wire parse: base64 `data` → the event struct. try_to_binary
    * makes malformed base64 a null row instead of a task failure — one
    * poison record must not kill a 100 TB ingest job — and from_json
    * yields an all-null struct on malformed JSON.
    */
  private[graft] def parseWire(data: Column): Column =
    from_json(try_to_binary(data, lit("base64")).cast(StringType),
      orderEventSchema)

  /** base64 `data` column → typed event columns. Works identically on
    * batch and streaming DataFrames (pure narrow projection).
    */
  def decode(records: DataFrame): DataFrame =
    records.withColumn("_evt", parseWire(col(DataCol))).select(col("_evt.*"))

  /** Decode with dead-letter routing (the Firehose error-prefix analog:
    * failed records land in an S3 error output instead of vanishing).
    * Returns (decoded-good, raw-bad); bad = records whose base64 or JSON
    * failed to parse. One pass over the data per side, both narrow.
    */
  def decodeWithDlq(records: DataFrame): (DataFrame, DataFrame) = {
    val parsed = records.withColumn("_evt", parseWire(col(DataCol)))
    // from_json yields an all-null struct on malformed input; order_id is
    // non-null in every real event, so it is the validity sentinel
    val good = parsed.filter(col("_evt.order_id").isNotNull).select(col("_evt.*"))
    val bad = parsed.filter(col("_evt.order_id").isNull).select(col(DataCol))
    (good, bad)
  }

  /** Inverse: typed event columns → base64 JSON `data` (the producer's
    * encoding, `python_producer.py:104-113`). Used to round-trip-test
    * the codec and to feed the streaming ingest specs.
    */
  def encode(events: DataFrame): DataFrame =
    events.select(encodeCol(events).as(DataCol))

  /** The encode expression as a Column, for callers that must attach the
    * payload alongside other columns of the SAME row (zipping two
    * independently-evaluated frames back together by position is not
    * deterministic over shuffle-produced inputs).
    */
  def encodeCol(events: DataFrame): Column =
    // Spark's base64 is MIME-chunked (CRLF every 76 chars) unless the
    // legacy conf says otherwise; the wire format (python b64encode)
    // is continuous — strip the line breaks so one record = one line.
    regexp_replace(
      base64(to_json(struct(events.columns.map(col).toIndexedSeq: _*))),
      "[\\r\\n]", "")
}
