package graft

import org.apache.spark.GraftSparkBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.obs.StageMetrics

/** The per-stage listener behind Bench's `stages` and `stream` fields:
  * its window total is the sum of its stage rows (so `queries_cpu_sec`
  * keeps its meaning), a shuffle shows up on the map stage, and a
  * streaming micro-batch reports its phase times.
  */
class StageMetricsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def window(body: => Unit): StageMetrics.Window = {
    val m = StageMetrics.attach(spark)
    try {
      GraftSparkBridge.drainListeners(spark.sparkContext)
      m.reset()
      body
      GraftSparkBridge.drainListeners(spark.sparkContext)
      m.snapshot()
    } finally {
      spark.sparkContext.removeSparkListener(m)
      spark.streams.removeListener(m.streaming)
    }
  }

  test("a two-stage groupBy yields stage rows that sum to the window CPU") {
    // an independent plain task-end CPU sum over the same window
    val taskCpuNs = new java.util.concurrent.atomic.AtomicLong
    val plain = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => taskCpuNs.addAndGet(m.executorCpuTime))
    }
    spark.sparkContext.addSparkListener(plain)
    val w = try window {
      GraftSparkBridge.drainListeners(spark.sparkContext)
      taskCpuNs.set(0L)
      spark.range(0L, 200000L, 1L, 4).groupBy(col("id") % 97).count()
        .write.format("noop").mode("overwrite").save()
    } finally spark.sparkContext.removeSparkListener(plain)
    assert(w.stages.size >= 2, w.stagesJson)
    assert(w.stages.values.map(_.cpuNs).sum == taskCpuNs.get())
    assert(w.cpuSec == taskCpuNs.get() / 1e9 && w.cpuSec > 0)
    val map = w.stages.head._2
    assert(map.shuffleWriteBytes > 0, w.stagesJson)
    assert(w.streamJson.isEmpty)
  }

  test("an AvailableNow memory-sink stream reports its addBatch phase") {
    val dir = java.nio.file.Files.createTempDirectory("graft_obs_stream").toString
    try {
      spark.range(0L, 1000L).toDF("id").write.mode("overwrite").parquet(s"$dir/in")
      val w = window {
        val q = spark.readStream.schema("id LONG").parquet(s"$dir/in")
          .writeStream.format("memory").queryName("stage_metrics_probe")
          .option("checkpointLocation", s"$dir/ckpt")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      assert(w.batches >= 1)
      assert(w.phasesMs.contains("addBatch"), w.streamJson)
      assert(w.streamJson.exists(_.contains("\"addBatch\":")))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }
}
