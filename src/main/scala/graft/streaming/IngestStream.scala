package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.ingest.Fanout

/** The Kinesis→Firehose→S3 pipeline as Structured Streaming
  * (SURVEY §2 A10–A11).
  *
  * The reference's topology (`/root/reference/README.md`): one stream of
  * base64 JSON order events fans out to four partitioned parquet tables,
  * each through its own Lambda projection. Here the SAME `Fanout`
  * transforms used in batch are applied to a `readStream` DataFrame —
  * Spark's unified batch/stream semantics replace the four separate
  * Lambda deployments, and Firehose's buffering becomes micro-batch
  * triggers.
  *
  * A real deployment would swap the file source for the Kinesis/Kafka
  * connector (`spark.readStream.format("kinesis")...`) — source choice
  * is orthogonal to the transforms, which is the point of keeping them
  * pure DataFrame => DataFrame.
  */
object IngestStream {

  /** Fan a decoded event stream out to the four Firehose-analog parquet
    * sinks, each dynamic-partitioned by its derived time keys (plus
    * `country` for addresses, mirroring
    * `lambda_shipping_addresses_transformation:25-30`).
    * Returns the started queries so callers control their lifecycle.
    */
  def startFanout(events: DataFrame, outBase: String, checkpointBase: String)
      : Seq[org.apache.spark.sql.streaming.StreamingQuery] = {
    // derive partition keys ONCE from the raw event (like each lambda's
    // partitionKeys block), then let every projection pass them through
    val keyed = Fanout.withPartitionKeys(events, Fanout.eventTs)
    val timeKeys = Seq("year", "month", "day", "hour")
    // shuffle each micro-batch ON its partition keys before the write —
    // without it every micro-batch task opens a writer per partition
    // value it holds (tasks × values splinter files per TRIGGER, which
    // compounds far faster than the batch case); same co-location fix
    // as ingest.PartitionedSink
    def sink(df: DataFrame, name: String, partitions: Seq[String]) =
      df.repartition(partitions.map(col): _*)
        .writeStream
        .format("parquet")
        .option("path", s"$outBase/$name")
        .option("checkpointLocation", s"$checkpointBase/$name")
        .partitionBy(partitions: _*)
        .trigger(Trigger.AvailableNow())
        .start()
    Seq(
      sink(Fanout.orders(keyed, timeKeys), "orders", timeKeys),
      sink(Fanout.productDetails(keyed, timeKeys), "product_details", timeKeys),
      sink(Fanout.purchaseDetails(keyed, timeKeys), "purchase_details", timeKeys),
      sink(Fanout.shippingAddresses(keyed, timeKeys), "shipping_addresses",
        "country" +: timeKeys))
  }

  /** Stream-stream join: re-join two fan-out streams on order_id (the
    * streaming analog of the reference's Athena join
    * `OrderAndClientDetails.sql` / `TotalSalesPerCountry.sql` over the
    * fanned-out tables). Both sides carry an event-time column +
    * watermark so the join state is bounded: a row is dropped from state
    * once no match can arrive anymore.
    */
  def joinOrdersWithAddresses(events: DataFrame,
      watermark: String = "2 hours"): DataFrame = {
    val keyed = events.withColumn("event_ts", Fanout.eventTs)
    val orders = Fanout.orders(keyed, Seq("event_ts"))
      .withWatermark("event_ts", watermark)
    val addrs = Fanout.shippingAddresses(keyed, Seq("event_ts"))
      .withColumnRenamed("order_id", "a_order_id")
      .withColumnRenamed("event_ts", "a_event_ts")
      .withWatermark("a_event_ts", watermark)
    orders.join(addrs,
      col("order_id") === col("a_order_id") &&
        col("a_event_ts") === col("event_ts"))
      .select("customer_id", "order_id", "order_date", "status",
        "country", "state", "city")
  }

  /** A11 — watermarked tumbling-window aggregation over the event-time
    * column: per-hour order volume per status. Late events beyond the
    * watermark are dropped instead of growing state forever — the knob
    * that makes this viable on an unbounded 100 TB/day stream.
    */
  def windowedVolume(events: DataFrame, watermark: String = "2 hours",
      window_ : String = "1 hour"): DataFrame =
    events
      .withColumn("event_ts", Fanout.eventTs)
      .withWatermark("event_ts", watermark)
      .groupBy(window(col("event_ts"), window_), col("status"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("purchaise_details.amount")).as("volume"))
      .select(col("window.start").as("window_start"), col("status"),
        col("n_orders"), col("volume"))
}
