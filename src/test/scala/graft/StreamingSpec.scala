package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.fs.{FileContext, Path}
import graft.fs.LocalFs
import graft.ingest.{EventCodec, Fanout, SyntheticOrders}
import graft.sources.FileRecordSource
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

  private val fanoutSinks =
    Seq("orders", "product_details", "purchase_details", "shipping_addresses")

  /** Lands wire records (one `data` column) as a text directory. */
  private def landWire(records: DataFrame): String = {
    val dir = Files.createTempDirectory("graft-fan-in").toString
    records.coalesce(1).write.mode("overwrite").text(dir)
    dir
  }

  private def decodedStream(inDir: String): DataFrame =
    EventCodec.decode(spark.readStream.text(inDir).withColumnRenamed("value", "data"))

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** Runs the fan-out over `inDir` to completion. */
  private def fanout(inDir: String, outBase: String, ckBase: String): Unit =
    IngestStream.startFanout(decodedStream(inDir), outBase, ckBase)
      .foreach(q => assert(q.awaitTermination(120000), "fanout did not finish"))

  /** Batch `Fanout` over decoded events, by sink name. */
  private def batchFanout(decoded: DataFrame): Map[String, DataFrame] = {
    val keys = Seq("year", "month", "day", "hour")
    val keyed = Fanout.withPartitionKeys(decoded, Fanout.eventTs)
    Map("orders" -> Fanout.orders(keyed, keys),
      "product_details" -> Fanout.productDetails(keyed, keys),
      "purchase_details" -> Fanout.purchaseDetails(keyed, keys),
      "shipping_addresses" -> Fanout.shippingAddresses(keyed, keys))
  }

  /** A sink's committed rows, read with `like`'s schema and column order
    * (partition values stay strings, as the projections produce them).
    */
  private def readSink(dir: String, like: DataFrame): DataFrame =
    spark.read.schema(like.schema).parquet(dir).select(like.columns.map(col): _*)

  private def assertSameRows(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.count() == want.count(), s"$what: row counts differ")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      s"$what: row multisets differ")
  }

  private def dataFiles(dir: java.io.File): Int =
    Option(dir.listFiles()).toSeq.flatten.map { f =>
      if (f.isDirectory) { if (f.getName.startsWith("_")) 0 else dataFiles(f) }
      else if (f.getName.endsWith(".parquet")) 1 else 0
    }.sum

  test("streaming fanout writes the same rows as the batch transforms") {
    val enc = EventCodec.encode(SyntheticOrders.nested(spark, sf))
    val inDir = landWire(enc)
    val outBase = tmp("graft-stream-out")
    val queries = IngestStream.startFanout(decodedStream(inDir), outBase,
      tmp("graft-stream-ck"))
    assert(queries.size == 1, "the fan-out must be one query")
    queries.foreach(q => assert(q.awaitTermination(120000)))

    val expected = batchFanout(EventCodec.decode(enc))
    fanoutSinks.foreach { s =>
      assertSameRows(readSink(s"$outBase/$s", expected(s)), expected(s), s)
      assert(new java.io.File(s"$outBase/$s/_spark_metadata").isDirectory,
        s"$s has no commit log")
    }
    // dynamic partitioning materialized (firehose-style layout)
    assert(new java.io.File(s"$outBase/orders").list().exists(_.startsWith("year=")))
    assert(new java.io.File(s"$outBase/shipping_addresses").list()
      .exists(_.startsWith("country=")))
  }

  test("fanout reports in-band ingest counts that match the batch") {
    // one truncated payload: the codec decodes it to an all-null row
    val enc = EventCodec.encode(SyntheticOrders.nested(spark, sf))
    val wire = enc.limit(1).select(substring(col("data"), 1, 16).as("data"))
      .union(enc)
    val inDir = landWire(wire)
    val outBase = tmp("graft-obs-out")
    val q = IngestStream.startFanout(decodedStream(inDir), outBase,
      tmp("graft-obs-ck")).head
    assert(q.awaitTermination(120000))
    val observed = q.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get("ingest")))
    assert(observed.nonEmpty, "no batch reported the ingest observation")
    def total(name: String): Long = observed.map(_.getAs[Long](name)).sum

    val decoded = EventCodec.decode(spark.read.text(inDir).withColumnRenamed("value", "data"))
    val undecodable = decoded.filter(col("order_id").isNull).count()
    assert(undecodable == 1)
    assert(total("decoded_rows") == decoded.count())
    assert(total("undecodable_rows") == undecodable)
    assert(total("product_rows") ==
      batchFanout(decoded)("product_details").count())
    assert(total("product_rows") ==
      spark.read.parquet(s"$outBase/product_details").count())
  }

  /** `file` and its `.crc` exist, and a checksummed read of `file`
    * passes. Spark reads checkpoint entries with the one-argument
    * `FileContext.open`, which skips the `.crc` (FilterFs hands it to the
    * raw file system), so the verification is made here.
    */
  private def assertChecksummed(file: String): Unit = {
    val f = new java.io.File(file)
    assert(f.isFile && new java.io.File(f.getParent, s".${f.getName}.crc").isFile,
      s"$file has no .crc beside it")
    val in = FileContext.getFileContext(spark.sessionState.newHadoopConf())
      .open(new Path(f.toURI), 4096)
    try in.readAllBytes() finally in.close()
  }

  test("the test session resolves graft's local file system for file:") {
    val conf = spark.sessionState.newHadoopConf()
    assert(new Path("file:///").getFileSystem(conf).isInstanceOf[LocalFs.Checksummed])
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.isInstanceOf[LocalFs.Context])
  }

  test("RecordSource.events installs LocalFs on a session graft did not build, and keeps a user's file system") {
    // a session without graft's keys: newSession copies the context's
    // SparkConf, which the test session's builder filled, so unset them
    def bare() = {
      val s = spark.newSession()
      LocalFs.conf.keys.foreach(s.conf.unset)
      s
    }
    val source = FileRecordSource(tmp("graft-install-src"))
    val plain = bare()
    assert(LocalFs.conf.keys.forall(plain.conf.getOption(_).isEmpty))
    source.events(plain)
    LocalFs.conf.foreach { case (k, v) => assert(plain.conf.getOption(k).contains(v), k) }
    val stock = classOf[org.apache.hadoop.fs.LocalFileSystem].getName
    val own = bare()
    own.conf.set("fs.file.impl", stock)
    source.events(own)
    assert(own.conf.get("fs.file.impl") == stock)
    assert((LocalFs.conf.keySet - "fs.file.impl").forall(k => own.conf.getOption(k).isEmpty))
  }

  test("a fanout batch replayed after one sink failed lands every row once") {
    val inDir = landWire(EventCodec.encode(SyntheticOrders.nested(spark, sf)))
    val refOut = tmp("graft-replay-ref")
    fanout(inDir, refOut, tmp("graft-replay-refck"))

    val (outBase, ckBase) = (tmp("graft-replay-out"), tmp("graft-replay-ck"))
    // a regular file where the addresses sink's directory belongs fails
    // that sink's write; the other three commit batch 0 first
    val blocker = new java.io.File(s"$outBase/shipping_addresses")
    assert(blocker.createNewFile())
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      fanout(inDir, outBase, ckBase))
    fanoutSinks.init.foreach(s =>
      assert(new java.io.File(s"$outBase/$s/_spark_metadata/0").isFile,
        s"$s did not commit batch 0 before the failure"))
    // the failed run logged batch 0's offsets (the entry the restart
    // replays) beside its .crc, and the entry verifies against it
    assertChecksummed(s"$ckBase/fanout/offsets/0")
    assert(blocker.delete())
    fanout(inDir, outBase, ckBase)
    Seq("offsets/0", "commits/0").foreach(e => assertChecksummed(s"$ckBase/fanout/$e"))

    fanoutSinks.foreach { s =>
      val ref = spark.read.parquet(s"$refOut/$s")
      assertSameRows(readSink(s"$outBase/$s", ref), ref, s)
      // a second copy of batch 0 would show as extra files on disk
      assert(dataFiles(new java.io.File(s"$outBase/$s")) ==
        dataFiles(new java.io.File(s"$refOut/$s")), s"$s holds extra files")
      assert(new java.io.File(s"$outBase/$s/_spark_metadata").list()
        .filterNot(_.startsWith(".")).toSeq == Seq("0"))
    }
  }

  test("fanout refuses a sink whose log holds batches its checkpoint never planned") {
    val inDir = landWire(EventCodec.encode(SyntheticOrders.nested(spark, sf)))
    val outBase = tmp("graft-stale-out")
    // the orders sink written by a query with its own checkpoint
    Fanout.orders(decodedStream(inDir)).writeStream
      .format("parquet")
      .option("path", s"$outBase/orders")
      .option("checkpointLocation", tmp("graft-stale-oldck"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination(120000)
    val e = intercept[IllegalStateException](
      IngestStream.startFanout(decodedStream(inDir), outBase, tmp("graft-stale-ck")))
    assert(e.getMessage.contains("sink orders"), e.getMessage)
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
