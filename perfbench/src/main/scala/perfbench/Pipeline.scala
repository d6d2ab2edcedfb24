package perfbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import graft.ingest.{EventCodec, Fanout}
import graft.sources.FileRecordSource
import graft.streaming.{IngestStream, LatestKV}

/** The reference pipeline as production runs it, one delivery at a time:
  * wire files land under a `FileRecordSource` directory, then
  * `IngestStream.startFanout` runs its four AvailableNow sink queries and
  * `LatestKV.latest` runs as a fifth query over the same source, feeding
  * an upsert view kept in the client (the DynamoDB table analog). */
final class Pipeline(spark: SparkSession, trace: Trace, base: String,
    staging: String) {
  import Pipeline._

  val sourceDir = s"$base/source"
  val sinkBase = s"$base/sinks"
  private val ckptBase = s"$base/checkpoints"
  new File(sourceDir).mkdirs()

  /** The upsert view: key → latest (seq, status) seen by the fifth query. */
  val view = new ConcurrentHashMap[String, LatestKV.KV]()

  /** Per delivery, the sink files it added: sink → file paths. */
  val addedFiles = scala.collection.mutable.Map[Int, Map[String, Seq[File]]]()
  private var known: Map[String, Set[File]] = sinks.map(_ -> Set.empty[File]).toMap

  /** Moves delivery `d`'s staged files into the source directory; a rename
    * is atomic, so a query sees all of the delivery or none of it. */
  def land(d: Int): Int = {
    val files = Option(new File(s"$staging/delivery=$d").listFiles())
      .getOrElse(Array.empty[File]).filter(_.getName.endsWith(".parquet"))
    require(files.nonEmpty, s"delivery $d has no staged files")
    files.foreach(f => require(f.renameTo(new File(sourceDir, f"d$d%05d-${f.getName}")),
      s"landing $f failed"))
    files.length
  }

  private def startLatest(): StreamingQuery = {
    implicit val kvEnc = org.apache.spark.sql.Encoders.product[LatestKV.KV]
    val kvs: Dataset[LatestKV.KV] = kvOf(FileRecordSource(sourceDir).events(spark)).as[LatestKV.KV]
    val upsert: (Dataset[LatestKV.KV], Long) => Unit =
      (b, _) => b.collect().foreach(kv => view.put(kv.key, kv))
    LatestKV.latest(kvs).writeStream
      .outputMode("update")
      .option("checkpointLocation", s"$ckptBase/latest")
      .trigger(Trigger.AvailableNow())
      .foreachBatch(upsert)
      .start()
  }

  /** One delivery: land, start the four sink queries and (unless
    * `upsertView` is off) the upsert view's query, and wait until each has
    * committed. Latency runs from the landing to the last termination. */
  def deliver(d: Int, records: Long, upsertView: Boolean = true): Delivery =
      trace.span("delivery") {
    val t0 = System.nanoTime()
    trace.span("land")(land(d))
    val startMs = scala.collection.mutable.Map[String, Double]()
    def timedStart[T](name: String)(body: => T): T = {
      val s0 = System.nanoTime()
      val r = trace.span(s"start.$name")(body)
      startMs(name) = (System.nanoTime() - s0) / 1e6
      r
    }
    val fan = timedStart("fanout")(IngestStream.startFanout(
      FileRecordSource(sourceDir).events(spark), sinkBase, ckptBase))
    val queries = sinks.zip(fan) ++
      (if (upsertView) Seq("latest" -> timedStart("latest")(startLatest())) else Nil)
    queries.foreach { case (name, q) =>
      trace.span(s"await.$name")(q.awaitTermination())
    }
    val latency = (System.nanoTime() - t0) / 1e9
    Delivery(d, records, latency, queries.map { case (n, q) => n -> q.runId }.toMap,
      startMs.toMap)
  }

  /** Records which sink files delivery `d` added (call after it commits). */
  def recordAdded(d: Int): Map[String, Seq[File]] = {
    val now = sinks.map(s => s -> dataFiles(new File(s"$sinkBase/$s")).toSet).toMap
    val added = sinks.map(s => s -> (now(s) -- known(s)).toSeq.sortBy(_.getPath)).toMap
    known = now
    addedFiles(d) = added
    added
  }

  /** Sinks that differ from batch `Fanout` over every landed record, and
    * whether the upsert view equals `LatestKV.latestBatch` over them; the
    * records are decoded once, by graft's codec. */
  def check(): (Seq[String], Boolean) = {
    val decoded = EventCodec.decode(spark.read.parquet(sourceDir)).cache()
    try {
      val expected = projections(Fanout.withPartitionKeys(decoded, eventTs),
        Seq("year", "month", "day", "hour")).toMap
      val (actual, wanted) = Workload.inParallel(sinks) { s =>
        (Stats.fingerprint(spark.read.parquet(s"$sinkBase/$s")), Stats.fingerprint(expected(s)))
      }.unzip
      implicit val kvEnc = org.apache.spark.sql.Encoders.product[LatestKV.KV]
      val latest = LatestKV.latestBatch(kvOf(decoded).as[LatestKV.KV]).collect()
        .map(kv => kv.key -> kv).toMap
      (mismatched(sinks.zip(actual).toMap, sinks.zip(wanted).toMap),
        view.asScala.toMap == latest)
    } finally decoded.unpersist()
  }

  /** Delivery `d`'s wire files, once landed. */
  def landedFiles(d: Int): Seq[String] =
    Option(new File(sourceDir).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith(f"d$d%05d-")).map(_.getPath).sorted

  /** Delivery `d`'s wire records, once landed. */
  def landed(d: Int): DataFrame = spark.read.parquet(landedFiles(d): _*)

  /** Codec and each fan-out projection re-run alone over delivery `d`,
    * into the noop sink, outside any delivery span. */
  def probe(d: Int): Probe = {
    val wire = landed(d)
    val (_, decS, decW) = trace.measure(trace.span("probe.codec") {
      EventCodec.decode(wire).write.format("noop").mode("overwrite").save()
    })
    val decoded = Fanout.withPartitionKeys(EventCodec.decode(wire), eventTs).cache()
    val n = decoded.count().toDouble
    val nulls = decoded.filter(col("order_id").isNull).count().toDouble
    val proj = projections(decoded, Seq("year", "month", "day", "hour")).map { case (s, df) =>
      val (_, _, w) = trace.measure(trace.span(s"probe.fanout.$s") {
        df.write.format("noop").mode("overwrite").save()
      })
      (s, w.cpuS, df.count() / n)
    }
    decoded.unpersist(blocking = true)
    Probe(decS, decW.cpuS, nulls / n, proj.map(_._2).sum, proj.map(p => p._1 -> p._3).toMap)
  }

  /** The sources, codec, fanout, sink and streaming layer metrics of
    * `all` deliveries, of which `traced` kept their streaming progress. */
  def deliveryLayers(all: Seq[Delivery], traced: Seq[Delivery], probes: Seq[Probe],
      out: Outcome): Unit = {
    val med = (xs: Seq[Double]) => if (xs.isEmpty) Double.NaN else Stats.median(xs)
    val prog = traced.map(d => trace.progressOf(d.runIds.values.toSet))
    def perDel(f: StreamingQueryProgress => Double) = med(prog.map(_.map(f).sum))
    def dur(p: StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    out.layer("sources.scans_per_record", med(traced.zip(prog).map { case (d, ps) =>
      ps.map(_.numInputRows).sum.toDouble / d.records }), "ratio")
    out.layer("sources.list_ms", perDel(p => dur(p, "latestOffset") + dur(p, "getBatch")), "ms")
    out.layer("codec.decode_s", med(probes.map(_.decodeS)), "s")
    out.layer("codec.decode_cpu_s", med(probes.map(_.decodeCpuS)), "CPU-s")
    out.layer("codec.null_frac", med(probes.map(_.nullFrac)), "ratio")
    out.layer("fanout.project_cpu_s", med(probes.map(_.projectCpuS)), "CPU-s")
    sinks.foreach(s => out.layer(s"fanout.rows_per_record.$s",
      med(probes.map(_.rowsPerRecord(s))), "ratio"))
    val added = all.map(d => addedFiles(d.d).values.flatten.toSeq)
    val bytes = added.map(_.map(_.length).sum.toDouble)
    out.layer("sink.files_per_delivery", med(added.map(_.size.toDouble)), "count")
    out.layer("sink.partitions_per_delivery", med(added.map(fs => partitionsOf(fs).toDouble)), "count")
    out.layer("sink.mean_file_kb", bytes.sum / 1024 / math.max(1, added.map(_.size).sum), "KB")
    out.layer("sink.bytes_per_record", bytes.sum / all.map(_.records).sum, "B")
    out.layer("streaming.queries_per_delivery", med(prog.map(_.map(_.runId).distinct.size.toDouble)), "count")
    out.layer("streaming.start_ms", med(traced.map(_.startMs.values.sum)), "ms")
    out.layer("streaming.planning_ms", perDel(dur(_, "queryPlanning")), "ms")
    out.layer("streaming.add_batch_ms", perDel(dur(_, "addBatch")), "ms")
    out.layer("streaming.wal_commit_ms", perDel(dur(_, "walCommit")), "ms")
    out.layer("streaming.commit_offsets_ms", perDel(dur(_, "commitOffsets")), "ms")
  }
}

object Pipeline {
  final case class Delivery(d: Int, records: Long, latencyS: Double,
      runIds: Map[String, java.util.UUID], startMs: Map[String, Double])

  final case class Probe(decodeS: Double, decodeCpuS: Double, nullFrac: Double,
      projectCpuS: Double, rowsPerRecord: Map[String, Double])

  def partitionsOf(files: Seq[File]): Int = files.map(_.getParentFile.getPath).distinct.size

  val sinks: Seq[String] = Seq("orders", "product_details", "purchase_details",
    "shipping_addresses")

  private[perfbench] def eventTs =
    to_timestamp(regexp_replace(col("order_date"), "Z$", ""))

  /** The upsert view's input: key (customer_id, order_id), seq = the
    * event's order_date in epoch seconds, value = status. */
  def kvOf(events: DataFrame): DataFrame =
    events.select(concat_ws("|", col("customer_id"), col("order_id")).as("key"),
      unix_timestamp(eventTs).as("seq"), col("status").as("value"))

  /** Sinks whose committed rows differ from the expected rows. */
  def mismatched(actual: Map[String, Stats.Fingerprint],
      expected: Map[String, Stats.Fingerprint]): Seq[String] =
    sinks.filter(s => actual.get(s) != expected.get(s))

  /** The four fan-out projections, by sink name, passing `keys` through. */
  def projections(events: DataFrame, keys: Seq[String]): Seq[(String, DataFrame)] =
    Seq("orders" -> Fanout.orders(events, keys),
      "product_details" -> Fanout.productDetails(events, keys),
      "purchase_details" -> Fanout.purchaseDetails(events, keys),
      "shipping_addresses" -> Fanout.shippingAddresses(events, keys))

  def dataFiles(dir: File): Seq[File] =
    if (!dir.exists()) Nil
    else Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) { if (f.getName.startsWith("_")) Nil else dataFiles(f) }
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    }
}
