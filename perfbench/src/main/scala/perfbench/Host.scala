package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** The host record: a fixed-work CPU probe and what the run ran on. */
object Host {

  final case class Probe(probeS: Double, spentS: Double)

  /** `Bench`'s `cpu` sentinel: a chained-md5 fold over 60k rows per core,
    * minimum of two runs. A throttled host inflates every run. */
  def cpuProbe(spark: SparkSession, cores: Int): Probe = {
    val t0 = System.nanoTime()
    val runs = (1 to 2).map { _ =>
      val s0 = System.nanoTime()
      spark.range(0L, 60000L * cores, 1L, cores)
        .selectExpr(
          "sum(length(md5(md5(md5(md5(md5(md5(cast(id*2654435761 as string))))))))) AS s")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - s0) / 1e9
    }
    Probe(runs.min, (System.nanoTime() - t0) / 1e9)
  }

  /** Host CPU time so far, all cores: (stolen by the hypervisor, total),
    * in clock ticks, from the first line of `/proc/stat`. */
  def cpuTicks(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } finally src.close()
  }

  /** Peak resident memory of this JVM (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  /** The most heap in use right after a collection, from its creation on:
    * what the program keeps on the heap, whatever the heap limit lets
    * the collector leave unreclaimed in between. */
  final class HeapWatch {
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    @volatile private var peak = 0L
    private val listener = new NotificationListener {
      def handleNotification(n: Notification, handback: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { peak = math.max(peak, used) }
        }
    }
    private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case e: NotificationEmitter => e }
    emitters.foreach(_.addNotificationListener(listener, null, null))

    def peakMb: Double = peak / 1048576.0
    def close(): Unit = emitters.foreach(_.removeNotificationListener(listener))
  }

  def record(spark: SparkSession, cores: Int, before: Double, after: Double)
      : Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "spark_master_cores" -> cores,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
    "spark_version" -> spark.version,
    "java_version" -> System.getProperty("java.version"),
    "os" -> s"${System.getProperty("os.name")} ${System.getProperty("os.version")}",
    "cpu_probe_before_s" -> before,
    "cpu_probe_after_s" -> after)
}
