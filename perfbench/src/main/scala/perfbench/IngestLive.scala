package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** `ingest_live`: one closed-loop client delivering wire-record slices to
  * the live pipeline (sources, codec, fanout, sink, streaming, state).
  * Each operation is one delivery; its latency runs from landing until
  * all five queries have committed. */
final class IngestLive(spark: SparkSession, trace: Trace, seed: Long)
    extends Workload(spark, trace, seed) {
  import IngestLive._

  private var pipe: Pipeline = _
  private var records: IndexedSeq[Gen.WireRecord] = _
  private var perDelivery: Map[Int, Long] = Map.empty
  private val deliveries = mutable.ArrayBuffer[(Pipeline.Delivery, Boolean)]()
  private val probes = mutable.ArrayBuffer[Pipeline.Probe]()

  def measuredOps: Int = MeasuredDeliveries

  /** Generates the wire records once; `prepare` stages them. */
  override def land(dir: String): Unit = {
    records = Gen.orders(seed, shape)
    perDelivery = records.groupBy(_.delivery).map { case (d, rs) => d -> rs.length.toLong }
  }

  def prepare(dir: String): Unit = {
    Gen.stageWire(spark, records, FilesPerDelivery, s"$dir/staging")
    pipe = new Pipeline(spark, trace, s"$dir/live", s"$dir/staging")
    deliveries.clear()
  }

  def warmUp(): Unit = (0 until Warmups).foreach { d =>
    pipe.deliver(d, perDelivery(d))
    pipe.recordAdded(d)
  }

  def loop(deadlineNs: Long): Unit = {
    var i = 0
    while (another(i, deadlineNs) && Warmups + i < shape.deliveries) {
      val d = Warmups + i
      val on = traceOp(i)
      val (del, _, work) = trace.measure(pipe.deliver(d, perDelivery(d)))
      trace.recording = false
      pipe.recordAdded(d)
      out.ops += Op(del.latencyS, work, del.records, on)
      deliveries += ((del, on))
      if (on) {
        trace.recording = true
        probes += pipe.probe(d)
        trace.recording = false
      }
      i += 1
    }
    out.notes("loop_ended_by") =
      if (Warmups + i >= shape.deliveries) "staged deliveries exhausted" else "deadline"
    val measured = deliveries.map(_._1.d).toSet
    val recs = records.filter(r => measured(r.delivery))
    val late = recs.count(_.late).toDouble
    val upd = recs.count(_.update).toDouble
    out.inputs ++= Seq("records" -> recs.length, "deliveries" -> measured.size,
      "orders_per_delivery" -> shape.ordersPerDelivery,
      "delivery_event_span_s" -> shape.deliverySpanS,
      "late_share" -> late / math.max(1, recs.length),
      "late_lag_s" -> s"${shape.lateMinS}-${shape.lateMaxS}",
      "update_share" -> upd / math.max(1, recs.length),
      "files_per_delivery_landed" -> FilesPerDelivery,
      "partitions_touched_per_delivery" -> Stats.median(deliveries.map { case (d, _) =>
        Pipeline.partitionsOf(pipe.addedFiles(d.d)("orders")).toDouble }.toSeq),
      "warmup_deliveries" -> Warmups)
    val ops = out.ops.take(measuredOps).toSeq
    val lat = ops.map(_.latencyS)
    val committed = ops.map(_.items).sum.toDouble
    out.named("ingest_records_per_s") = (committed / lat.sum, "rec/s")
    out.named("delivery_p50_s") = (Stats.median(lat), "s")
    Stats.tail(out.ops.map(_.latencyS).toSeq).foreach(t => out.named("delivery_tail_s") = (t.value, "s"))
    out.named("ingest_cpu_s_per_krec") = (ops.map(_.work.cpuS).sum / committed * 1000, "CPU-s")
  }

  /** Each sink must hold exactly batch `Fanout` over every delivered
    * record, and the upsert view must equal `LatestKV.latestBatch` over
    * them. The sinks and the view accumulate, so a mismatch fails every
    * measured delivery. */
  def verify(): Unit = {
    val (badSinks, viewOk) = pipe.check()
    out.notes("sinks_match_batch_fanout") = badSinks.isEmpty
    out.notes("upsert_view_matches_latestBatch") = viewOk
    if (badSinks.nonEmpty || !viewOk) {
      out.failed = deliveries.length
      out.notes("mismatched_sinks") = badSinks.mkString(",")
    }
  }

  def layers(): Unit = {
    val lat = deliveries.map(_._1.latencyS).toSeq
    val q = math.max(1, lat.length / 4)
    pipe.deliveryLayers(deliveries.map(_._1).toSeq, deliveries.filter(_._2).map(_._1).toSeq,
      probes.toSeq, out)
    val state = deliveries.filter(_._2).flatMap(d =>
      trace.progressOf(d._1.runIds.values.toSet)).flatMap(_.stateOperators)
    state.lastOption.foreach { st =>
      out.layer("streaming.state_rows", st.numRowsTotal.toDouble, "count")
      out.layer("streaming.state_mb", st.memoryUsedBytes / 1048576.0, "MB")
    }
    if (state.nonEmpty)
      out.layer("streaming.state_commit_ms", Stats.median(state.map(_.commitTimeMs.toDouble).toSeq), "ms")
    out.layer("streaming.latency_drift",
      Stats.median(lat.takeRight(q)) / Stats.median(lat.take(q)), "ratio")
  }
}

object IngestLive {
  /** The first delivery runs cold; three bring the JIT most of the way to
    * the per-delivery cost of later ones. */
  val Warmups = 3
  /** Five deliveries give a median that rests on its middle three. */
  val MeasuredDeliveries = 5
  /** Deliveries of ten simulated minutes each, 5% of events an hour or
    * more late and 10% re-sent orders; `perfbench/README.md` gives the
    * basis of each value. One more delivery is staged than a run
    * measures, for a host fast enough to send it before the deadline. */
  val shape: Gen.OrderShape = Gen.OrderShape(
    deliveries = Warmups + MeasuredDeliveries + 1,
    ordersPerDelivery = 1000, deliverySpanS = 600, lateShare = 0.05,
    updateShare = 0.10)
  val FilesPerDelivery = 4
}
