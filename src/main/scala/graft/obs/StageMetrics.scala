package graft.obs

import scala.collection.immutable.SortedMap
import scala.jdk.CollectionConverters._
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** Executor work of one measurement window, broken down by stage id,
  * plus the per-phase `durationMs` of every streaming micro-batch that
  * reported progress inside the window.
  *
  * Wall time alone cannot separate "the host stretched this query" from
  * "this query did more work"; task CPU can. A throttled run burns the
  * same CPU over a longer wall, a real regression burns more, and the
  * stage rows say which stage did. Listener delivery is asynchronous, so
  * a caller drains the bus (`GraftSparkBridge.drainListeners`) before
  * [[reset]] and before [[snapshot]]; otherwise a late task-end event of
  * one window lands in the next.
  */
final class StageMetrics extends SparkListener {
  import StageMetrics._

  private var stages = SortedMap.empty[Int, Stage]
  private var names = Map.empty[Int, String]
  private var batches = 0L
  private var phasesMs = SortedMap.empty[String, Long]

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized { names += e.stageInfo.stageId -> e.stageInfo.name }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      val row = Stage.of(m)
      synchronized {
        stages += e.stageId -> stages.get(e.stageId).fold(row)(_ + row)
      }
    }

  /** The streaming half; [[StageMetrics.attach]] registers both. */
  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      StageMetrics.this.synchronized {
        batches += 1
        e.progress.durationMs.asScala.foreach { case (phase, ms) =>
          phasesMs += phase -> (phasesMs.getOrElse(phase, 0L) + ms)
        }
      }
  }

  def reset(): Unit = synchronized {
    stages = SortedMap.empty; names = Map.empty; batches = 0L; phasesMs = SortedMap.empty
  }

  def snapshot(): Window = synchronized {
    Window(stages.map { case (id, s) => id -> s.copy(name = names.getOrElse(id, "")) },
      batches, phasesMs)
  }
}

object StageMetrics {

  /** Summed task metrics of one stage. `spillBytes` is the disk spill;
    * records in are input plus shuffle-read records, records out are
    * output plus shuffle-write records.
    */
  final case class Stage(name: String, tasks: Long, cpuNs: Long, runMs: Long,
      inputBytes: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
      spillBytes: Long, recordsIn: Long, recordsOut: Long) {
    def +(o: Stage): Stage = Stage(name, tasks + o.tasks, cpuNs + o.cpuNs,
      runMs + o.runMs, inputBytes + o.inputBytes, shuffleReadBytes + o.shuffleReadBytes,
      shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
      recordsIn + o.recordsIn, recordsOut + o.recordsOut)
  }

  object Stage {
    def of(m: TaskMetrics): Stage = Stage("", 1L, m.executorCpuTime,
      m.executorRunTime, m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
      m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead,
      m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten)
  }

  final case class Window(stages: SortedMap[Int, Stage], batches: Long,
      phasesMs: SortedMap[String, Long]) {
    /** Executor CPU of the window: by construction the sum of its stages. */
    def cpuSec: Double = stages.values.map(_.cpuNs).sum / 1e9

    def stagesJson: String = stages.map { case (id, s) =>
      def mb(b: Long) = fmt(b / 1048576.0, 3)
      s""""$id":{"name":"${s.name.replace("\\", "\\\\").replace("\"", "\\\"")}",""" +
        s""""tasks":${s.tasks},"cpu_s":${fmt(s.cpuNs / 1e9, 6)},""" +
        s""""run_s":${fmt(s.runMs / 1e3, 3)},"input_mb":${mb(s.inputBytes)},""" +
        s""""shuffle_read_mb":${mb(s.shuffleReadBytes)},""" +
        s""""shuffle_write_mb":${mb(s.shuffleWriteBytes)},"spill_mb":${mb(s.spillBytes)},""" +
        s""""records_in":${s.recordsIn},"records_out":${s.recordsOut}}"""
    }.mkString("{", ",", "}")

    /** `None` when no streaming query progressed inside the window. */
    def streamJson: Option[String] =
      if (batches == 0L) None
      else Some(s"""{"batches":$batches,"duration_ms":""" +
        phasesMs.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}") + "}")
  }

  private def fmt(v: Double, decimals: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(v))

  /** A listener registered on both buses of `spark`. */
  def attach(spark: SparkSession): StageMetrics = {
    val m = new StageMetrics
    spark.sparkContext.addSparkListener(m)
    spark.streams.addListener(m.streaming)
    m
  }
}
