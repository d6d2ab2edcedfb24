package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Executor work summed over tasks: the engine layer's counters. */
final case class Work(cpuNs: Long = 0, gcMs: Long = 0,
    shuffleWriteBytes: Long = 0, spillBytes: Long = 0, tasks: Long = 0,
    jobs: Long = 0) {
  def +(o: Work): Work = Work(cpuNs + o.cpuNs, gcMs + o.gcMs,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
    tasks + o.tasks, jobs + o.jobs)
  def -(o: Work): Work = Work(cpuNs - o.cpuNs, gcMs - o.gcMs,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    tasks - o.tasks, jobs - o.jobs)
  def cpuS: Double = cpuNs / 1e9
}

/** One traced interval: a call into a layer made by the benchmark. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long)

/** Spans, task counters and streaming progress for one benchmark run.
  *
  * The task counter and the streaming progress are always kept: the
  * end-to-end CPU metrics read the counter, as Bench's single task-end
  * accumulator does. Spans, and the attribution of jobs and tasks to
  * them, exist only while `recording` is on, which a traced run turns on
  * for the operations it traces; otherwise `span` just runs its body.
  *
  * One client thread opens spans. Jobs inherit the innermost open span
  * through a SparkContext local property, which streaming query threads
  * copy from the thread that started them. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val sc: SparkContext = spark.sparkContext
  private val SpanProp = "perfbench.span"

  private val lock = new Object
  private var total = Work()
  private val bySpan = mutable.Map[Int, Work]()
  private val stageSpan = mutable.Map[Int, Int]()
  private val progress = mutable.ArrayBuffer[StreamingQueryProgress]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      total = total.copy(jobs = total.jobs + 1)
      val sp = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
      sp.foreach { s =>
        val id = s.toInt
        e.stageIds.foreach(st => stageSpan(st) = id)
        bySpan(id) = bySpan.getOrElse(id, Work()).copy(
          jobs = bySpan.getOrElse(id, Work()).jobs + 1)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val w = Work(m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, 1, 0)
        total = total + w
        stageSpan.get(e.stageId).foreach(id =>
          bySpan(id) = bySpan.getOrElse(id, Work()) + w)
      }
    }
  }
  sc.addSparkListener(listener)

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized(progress += e.progress)
  }
  spark.streams.addListener(streamListener)

  /** Blocks until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Executor work so far (call `drain` first for a settled reading). */
  def work: Work = lock.synchronized(total)

  /** Runs `body` and returns it with its wall seconds and executor work. */
  def measure[T](body: => T): (T, Double, Work) = {
    drain()
    val w0 = work
    val t0 = System.nanoTime()
    val r = body
    val wall = (System.nanoTime() - t0) / 1e9
    drain()
    (r, wall, work - w0)
  }

  // ---- spans ----
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[(Int, Long)] = Nil
  private var nextId = 1
  private var currentOp = 0

  /** Starts operation `op`: spans opened until the next call belong to it. */
  def beginOp(op: Int): Unit = currentOp = op

  /** Whether spans are recorded now; only a traced run turns it on. */
  @volatile var recording: Boolean = false

  def span[T](name: String)(body: => T): T =
    if (!recording) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(0)
      val prevProp = sc.getLocalProperty(SpanProp)
      stack = (id, System.nanoTime()) :: stack
      sc.setLocalProperty(SpanProp, id.toString)
      try body
      finally {
        val (_, start) = stack.head
        stack = stack.tail
        sc.setLocalProperty(SpanProp, prevProp)
        spans += Span(id, parent, currentOp, name, start, System.nanoTime())
      }
    }

  /** The span most recently closed under `name`. */
  def lastSpan(name: String): Option[Span] = spans.findLast(_.name == name)

  def allSpans: Seq[Span] = spans.toSeq

  def workOf(spanId: Int): Work = lock.synchronized(bySpan.getOrElse(spanId, Work()))

  /** Executor work of a span and all spans below it. */
  def workUnder(s: Span): Work =
    descendants(s).foldLeft(workOf(s.id))((acc, d) => acc + workOf(d.id))

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  def descendants(s: Span): Seq[Span] = {
    val c = children(s)
    c ++ c.flatMap(descendants)
  }

  def selfNs(s: Span): Long =
    Stats.selfTime(s.startNs, s.endNs, children(s).map(c => (c.startNs, c.endNs)))

  def progressOf(runIds: Set[java.util.UUID]): Seq[StreamingQueryProgress] =
    lock.synchronized(progress.filter(p => runIds(p.runId)).toSeq)

  def close(): Unit = {
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }
}
