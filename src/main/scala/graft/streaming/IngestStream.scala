package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.Materialize
import graft.Materialize.CutOps
import graft.ingest.Fanout

/** The Kinesis→Firehose→S3 pipeline as Structured Streaming
  * (SURVEY §2 A10–A11).
  *
  * The reference's topology (`/root/reference/README.md`): one stream of
  * base64 JSON order events fans out to four partitioned parquet tables,
  * each through its own Lambda projection. Here the SAME `Fanout`
  * transforms used in batch are applied to each micro-batch of one
  * `readStream` query — the reference decodes a Kinesis record once and
  * hands it to four Firehose streams, and so does [[startFanout]];
  * Firehose's buffering becomes micro-batch triggers.
  *
  * A real deployment would swap the file source for the Kinesis/Kafka
  * connector (`spark.readStream.format("kinesis")...`) — source choice
  * is orthogonal to the transforms, which is the point of keeping them
  * pure DataFrame => DataFrame.
  */
object IngestStream {

  private val timeKeys = Seq("year", "month", "day", "hour")

  /** The four Firehose-analog sinks: name, partition columns (plus
    * `country` for addresses, mirroring
    * `lambda_shipping_addresses_transformation:25-30`) and the `Fanout`
    * projection, which passes the time keys through.
    */
  private val sinks: Seq[(String, Seq[String], DataFrame => DataFrame)] = Seq(
    ("orders", timeKeys, Fanout.orders(_, timeKeys)),
    ("product_details", timeKeys, Fanout.productDetails(_, timeKeys)),
    ("purchase_details", timeKeys, Fanout.purchaseDetails(_, timeKeys)),
    ("shipping_addresses", "country" +: timeKeys, Fanout.shippingAddresses(_, timeKeys)))

  /** Fan a decoded event stream out to the four parquet sinks
    * `$outBase/<sink>`, each dynamic-partitioned by its derived time
    * keys. ONE `foreachBatch` query, checkpointed at
    * `$checkpointBase/fanout`, reads and decodes every record once; the
    * returned `Seq` holds that one query, so callers control its
    * lifecycle.
    *
    * Each micro-batch is shuffled once on the time keys and cut once
    * ([[Materialize.cut]]; locally a `localCheckpoint`, which keeps the
    * nested rows as UnsafeRows). Hash-partitioning on the hour already
    * puts every partition value of every sink in one task — the
    * addresses' country × hour refines the hour — so each sink writes
    * one file per partition value per batch with no exchange of its
    * own. The four sinks then write the cut concurrently, one thread
    * each, and the cut is released once all four have returned.
    *
    * Exactly-once: each sink is Spark's own `FileStreamSink`, the sink
    * `writeStream.format("parquet")` uses, so the on-disk layout and its
    * `_spark_metadata` commit log are the same as a per-sink query's.
    * `addBatch` skips a batch id the sink's log already holds, so a
    * batch replayed after a crash rewrites only the sinks that had not
    * committed it. A sink is built by the first batch that writes it,
    * on that sink's thread: a sink that cannot be created fails its
    * own write, and the other three still commit.
    *
    * The query reports three in-band counts per batch under the
    * observation `ingest` (`StreamingQueryProgress.observedMetrics`):
    * `decoded_rows`, `undecodable_rows` (a null `order_id`: the codec's
    * all-null row for a payload it cannot parse) and `product_rows`
    * (the rows the product_details sink gets). The batch is computed
    * once, by the cut, so the counts are exact.
    *
    * Throws `IllegalStateException` naming the sink when a sink's log
    * holds a batch the checkpoint never planned — sinks written under
    * another checkpoint (such as the per-sink checkpoints of earlier
    * versions), whose batch ids `addBatch` would silently skip.
    */
  def startFanout(events: DataFrame, outBase: String, checkpointBase: String)
      : Seq[StreamingQuery] = {
    val spark = events.sparkSession
    val checkpoint = s"$checkpointBase/fanout"
    val planned = latestBatch(spark, s"$checkpoint/offsets")
    sinks.foreach { case (name, _, _) =>
      val logged = latestBatch(spark, s"$outBase/$name/${FileStreamSink.metadataDir}")
      if (logged > planned)
        throw new IllegalStateException(
          s"sink $name ($outBase/$name) has committed batch $logged, but the " +
            s"checkpoint $checkpoint has planned batches only up to $planned; " +
            "the sink was written under another checkpoint")
    }
    val writers = sinks.map { case (name, partitions, project) =>
      val path = s"$outBase/$name"
      lazy val sink = new FileStreamSink(spark, path, new ParquetFileFormat,
        partitions, Map.empty)
      name -> ((cut: DataFrame, batchId: Long) => sink.addBatch(batchId, project(cut)))
    }
    val writeBatch: (DataFrame, Long) => Unit = { (batch, batchId) =>
      val cut = batch.repartition(timeKeys.map(col): _*).cutLineage()
      try concurrently(writers.map { case (name, write) =>
        s"fanout-$name-$batchId" -> (() => write(cut, batchId))
      })
      finally Materialize.release(cut)
    }
    // derive partition keys ONCE from the raw event (like each lambda's
    // partitionKeys block), then let every projection pass them through
    val keyed = Fanout.withPartitionKeys(events, Fanout.eventTs)
      .observe("ingest",
        count(lit(1)).as("decoded_rows"),
        count_if(col("order_id").isNull).as("undecodable_rows"),
        sum(when(col("product_details").isNotNull, size(col("product_details"))))
          .as("product_rows"))
    Seq(keyed.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(writeBatch)
      .start())
  }

  /** The highest batch id in a metadata log directory (an offsets log or
    * a file sink's `_spark_metadata`), or -1 when it holds none.
    */
  private def latestBatch(spark: SparkSession, dir: String): Long = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.isDirectory(path)) -1L
    else fs.listStatus(path)
      .flatMap(_.getPath.getName.stripSuffix(".compact").toLongOption)
      .maxOption.getOrElse(-1L)
  }

  /** Runs each named task on a thread of its own, waits for all of them,
    * and rethrows the first failure in task order (the others attached
    * as suppressed). The threads are started here, so they inherit the
    * caller's Spark local properties: the SQL execution id, the job
    * group (a stopped query cancels their jobs too) and any caller tags.
    */
  private def concurrently(tasks: Seq[(String, () => Unit)]): Unit = {
    val failures = new Array[Throwable](tasks.size)
    val threads = tasks.zipWithIndex.map { case ((name, task), i) =>
      val t = new Thread(() => try task() catch { case e: Throwable => failures(i) = e }, name)
      t.setDaemon(true)
      t.start()
      t
    }
    try threads.foreach(_.join())
    catch { case e: InterruptedException => threads.foreach(_.interrupt()); throw e }
    failures.filter(_ != null) match {
      case Array(first, rest @ _*) => rest.foreach(first.addSuppressed); throw first
      case _ => ()
    }
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
