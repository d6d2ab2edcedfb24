package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One timed operation of a workload's closed loop. */
final case class Op(latencyS: Double, work: Work, items: Long,
    traced: Boolean)

/** What a workload reports: its operations, failures, input properties,
  * its own end-to-end figures by their workload-specific names, and (in
  * a traced run) its per-layer metrics. */
final class Outcome {
  val ops = mutable.ArrayBuffer[Op]()
  var failed = 0
  val inputs = mutable.LinkedHashMap[String, Any]()
  val named = mutable.LinkedHashMap[String, (Double, String)]()
  val layers = mutable.LinkedHashMap[String, (Double, String)]()
  val notes = mutable.LinkedHashMap[String, Any]()

  def layer(name: String, value: Double, unit: String): Unit =
    layers(name) = (value, unit)
}

/** A workload. Set-up is `land` once (inputs too costly to repeat, such
  * as ingesting through the live pipeline), then `prepare` several times
  * into fresh directories (the last instance is measured), then `warmUp`
  * once. `loop` runs the closed loop until the deadline, `verify` makes
  * the output checks that need the whole run, and `layers` derives the
  * per-layer metrics from the trace. */
abstract class Workload(val spark: SparkSession, val trace: Trace,
    val seed: Long) {
  val out = new Outcome

  def land(dir: String): Unit = ()
  def prepare(dir: String): Unit
  def warmUp(): Unit
  def loop(deadlineNs: Long): Unit
  def verify(): Unit
  def layers(): Unit

  /** Operations every run measures, whatever the host's speed: the loop
    * runs until the deadline and at least this long, and the end-to-end
    * metrics are taken over exactly the first this many operations, so
    * their sample never depends on how many fit into the run. */
  def measuredOps: Int

  /** Whether the loop starts operation `i`. */
  protected def another(i: Int, deadlineNs: Long): Boolean =
    i < measuredOps || System.nanoTime() < deadlineNs

  /** Starts operation `i` and says whether it is traced. In a traced run
    * operations pair up, (0, 1), (2, 3), …, one of each pair traced and
    * the traced one first in every other pair (traced, untraced,
    * untraced, traced, …), so `trace.overhead_frac` is not biased by a
    * drift along the run. */
  protected def traceOp(i: Int): Boolean = {
    val on = trace.enabled && Workload.tracedInPair(i)
    trace.recording = on
    trace.beginOp(i)
    on
  }
}

object Workload {
  /** `f` over `xs`, four at a time, results in order. */
  def inParallel[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try xs.map(x => pool.submit(() => f(x))).map(_.get())
    finally pool.shutdown()
  }

  def tracedInPair(i: Int): Boolean = (i % 2 == 0) == ((i / 2) % 2 == 0)

  /** The traced operations' summed latency over the untraced ones', minus
    * one, over the complete pairs of `ops`. */
  def overheadFrac(ops: Seq[Op]): Double = {
    val paired = ops.take(ops.length / 2 * 2)
    paired.filter(_.traced).map(_.latencyS).sum /
      paired.filterNot(_.traced).map(_.latencyS).sum - 1
  }
}
