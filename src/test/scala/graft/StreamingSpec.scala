package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{EventCodec, SyntheticOrders}
import graft.streaming.{IngestStream, LatestKV}

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("checkpoint restart resumes exactly-once: no loss, no duplicates") {
    // the ops property a 100 TB ingest lives on: kill the query, add
    // input, restart from the SAME checkpoint — every record lands in
    // the sink exactly once
    import spark.implicits._
    val inDir = Files.createTempDirectory("graft-ck-in").toString
    val outDir = Files.createTempDirectory("graft-ck-out").toString + "/sink"
    val ckDir = Files.createTempDirectory("graft-ck-ck").toString

    def runOnce(): Unit = {
      val q = spark.readStream
        .schema("id LONG, v STRING")
        .parquet(inDir)
        .writeStream
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckDir)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }

    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(inDir)
    runOnce()
    // second batch arrives while the query is DOWN; restart resumes
    // from the checkpointed offset — batch 1 must not be re-emitted
    Seq((3L, "c"), (4L, "d")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(inDir)
    runOnce()

    val got = spark.read.parquet(outDir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).sorted.toSeq
    assert(got == Seq(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"),
      s"exactly-once violated: $got")
  }

  test("stateful dedup state survives a checkpoint restart") {
    // restart-resume for STATE, not just offsets: a duplicate arriving
    // after the restart must still be dropped, which only works if the
    // dedup state store was restored from the checkpoint
    import spark.implicits._
    val inDir = Files.createTempDirectory("graft-st-in").toString
    val outDir = Files.createTempDirectory("graft-st-out").toString + "/sink"
    val ckDir = Files.createTempDirectory("graft-st-ck").toString

    def runOnce(): Unit = {
      val q = spark.readStream
        .schema("id LONG, v STRING")
        .parquet(inDir)
        .dropDuplicates("id")
        .writeStream
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckDir)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }

    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(inDir)
    runOnce()
    // id=2 is a DUPLICATE from before the restart; id=3 is new
    Seq((2L, "dup"), (3L, "c")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(inDir)
    runOnce()

    val got = spark.read.parquet(outDir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).sorted.toSeq
    assert(got == Seq(1L -> "a", 2L -> "b", 3L -> "c"),
      s"restored dedup state violated: $got")
  }

  test("streaming fanout writes the same rows as the batch transforms") {
    import spark.implicits._
    // wire-encode the synthetic events, feed them as a file stream
    val enc = EventCodec.encode(SyntheticOrders.nested(spark, sf))
    val inDir = Files.createTempDirectory("graft-stream-in").toString
    enc.coalesce(1).write.mode("overwrite").text(inDir)
    val outBase = Files.createTempDirectory("graft-stream-out").toString
    val ckBase = Files.createTempDirectory("graft-stream-ck").toString

    val raw = spark.readStream.text(inDir).withColumnRenamed("value", "data")
    val events = EventCodec.decode(raw)
    val queries = IngestStream.startFanout(events, outBase, ckBase)
    queries.foreach(_.awaitTermination(120000))

    val batchEvents = EventCodec.decode(enc)
    val streamedOrders = spark.read.parquet(s"$outBase/orders")
    assert(streamedOrders.count() == batchEvents.count())
    val streamedProducts = spark.read.parquet(s"$outBase/product_details")
    val expectedProducts =
      batchEvents.agg(sum(size(col("product_details")))).head.getLong(0)
    assert(streamedProducts.count() == expectedProducts)
    // dynamic partitioning materialized (firehose-style layout)
    assert(new java.io.File(s"$outBase/orders").list().exists(_.startsWith("year=")))
    assert(new java.io.File(s"$outBase/shipping_addresses").list()
      .exists(_.startsWith("country=")))
  }

  test("windowed volume agg with watermark runs on a stream") {
    import spark.implicits._
    val enc = EventCodec.encode(SyntheticOrders.nested(spark, sf))
    val inDir = Files.createTempDirectory("graft-win-in").toString
    enc.coalesce(1).write.mode("overwrite").text(inDir)
    val raw = spark.readStream.text(inDir).withColumnRenamed("value", "data")
    val agg = IngestStream.windowedVolume(EventCodec.decode(raw))
    val q = agg.writeStream.format("memory").queryName("winvol")
      .outputMode("append").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // append mode emits only watermark-closed windows; with a static file
    // the final watermark closes all but the newest — expect most windows
    val got = spark.table("winvol")
    assert(got.columns.toSeq ==
      Seq("window_start", "status", "n_orders", "volume"))
  }

  test("latest-per-key state: last write wins across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[LatestKV.KV]
    val q = LatestKV.latest(input.toDS())
      .writeStream.format("memory").queryName("kv")
      .outputMode(OutputMode.Update()).start()
    input.addData(LatestKV.KV("k1", 1, "v1"), LatestKV.KV("k2", 1, "w1"))
    q.processAllAvailable()
    input.addData(LatestKV.KV("k1", 3, "v3"))
    q.processAllAvailable()
    input.addData(LatestKV.KV("k1", 2, "v2-stale")) // late, must NOT win
    q.processAllAvailable()
    val state = spark.table("kv").groupBy("key")
      .agg(last("value").as("value"), max("seq").as("seq"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    q.stop()
    assert(state("k1") == "v3")
    assert(state("k2") == "w1")
  }

  test("stream-stream join re-links fanned-out orders and addresses") {
    import java.nio.file.Files
    val enc = EventCodec.encode(SyntheticOrders.nested(spark, sf))
    val inDir = Files.createTempDirectory("graft-ssj-in").toString
    enc.coalesce(1).write.mode("overwrite").text(inDir)
    val raw = spark.readStream.text(inDir).withColumnRenamed("value", "data")
    val joined = IngestStream.joinOrdersWithAddresses(
      EventCodec.decode(raw))
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("ssj")
    // every order must re-link to exactly one address
    assert(got.count() == EventCodec.decode(enc).count())
    assert(got.filter(col("country").isNull).count() == 0)
  }

  test("streaming exact dedup drops replayed records within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[LatestKV.KV]
    val q = input.toDS().toDF()
      .dropDuplicates("key") // state-backed streaming dedup on the key
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    input.addData(LatestKV.KV("a", 1, "v1"), LatestKV.KV("b", 1, "w1"))
    q.processAllAvailable()
    input.addData(LatestKV.KV("a", 2, "v1-replay"), LatestKV.KV("c", 1, "x1"))
    q.processAllAvailable()
    q.stop()
    val keys = spark.table("dedup_stream").select("key")
      .collect().map(_.getString(0)).sorted
    assert(keys.toSeq == Seq("a", "b", "c"), "replayed key must appear once")
  }

  test("stateful sessionizer closes sessions on gap and keeps the open one") {
    import spark.implicits._
    import graft.streaming.StreamSessions
    implicit val sqlCtx = spark.sqlContext
    val m = 60L * 1000000L // one minute in micros
    val input = MemoryStream[StreamSessions.Evt]
    val q = StreamSessions.sessionize(input.toDS(), gapSeconds = 1800)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    // user 7: two events 10 min apart (one session), then a 2 h jump
    input.addData(
      StreamSessions.Evt(7, 0, 1.0),
      StreamSessions.Evt(7, 10 * m, 2.0))
    q.processAllAvailable()
    // an out-of-order event still inside the open session's gap must
    // merge without regressing the session end
    input.addData(StreamSessions.Evt(7, 130 * m, 5.0),
      StreamSessions.Evt(7, 125 * m, 1.0))
    q.processAllAvailable()
    q.stop()
    val closed = spark.table("sessions").as[StreamSessions.Session].collect()
    assert(closed.length == 1, s"expected 1 closed session, got ${closed.toSeq}")
    assert(closed.head.n_events == 2 && closed.head.session_value == 3.0)
    assert(closed.head.start_us == 0 && closed.head.end_us == 10 * m)
  }

  test("batch latest-per-key agrees with streaming semantics") {
    import spark.implicits._
    val ds = Seq(
      LatestKV.KV("a", 1, "x"), LatestKV.KV("a", 5, "y"),
      LatestKV.KV("b", 2, "z")).toDS()
    val got = LatestKV.latestBatch(ds).collect().map(k => k.key -> k.value).toMap
    assert(got == Map("a" -> "y", "b" -> "z"))
  }
}
