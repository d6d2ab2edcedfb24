package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.Materialize.CutOps

/** AssetMemo is the one per-(session, corpus) asset cache: builds are
  * single-flight per key, a failed build leaves nothing behind, and an
  * evicted reliable cut gives its checkpoint files back.
  */
class AssetMemoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("concurrent callers of one key share a single build") {
    val memo = new AssetMemo[DataFrame]
    val builds = new AtomicInteger
    val started = new CountDownLatch(1)
    val gate = new CountDownLatch(1)
    def slowBuild(): DataFrame = {
      builds.incrementAndGet()
      started.countDown()
      gate.await()
      spark.range(1).toDF("id")
    }
    val got = new ConcurrentLinkedQueue[DataFrame]
    def caller() = new Thread(() => got.add(memo.getOrBuild(spark, "one")(slowBuild())))
    val first = caller()
    first.start()
    started.await()
    val second = caller()
    second.start()
    // the second caller parks either way: on the running build, or on
    // the gate inside a build of its own
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (second.getState != Thread.State.WAITING && System.nanoTime() < deadline)
      Thread.sleep(5)
    assert(second.getState == Thread.State.WAITING)
    // a caller of another key does not wait for the running build
    assert(memo.getOrBuild(spark, "other")(spark.range(2).toDF("id")).count() == 2)
    gate.countDown()
    first.join()
    second.join()
    assert(builds.get == 1, "the second caller built the asset again")
    val frames = got.asScala.toSeq
    assert(frames.size == 2 && (frames(0) eq frames(1)))
  }

  test("eviction deletes an evicted reliable cut's checkpoint files") {
    val root = java.nio.file.Files.createTempDirectory("graft_ckpt_memo")
    val key = "spark.graft.reliableCheckpointDir"
    try {
      spark.conf.set(key, root.toString)
      val memo = new AssetMemo[DataFrame]
      for (i <- 1 to 9)
        memo.getOrBuild(spark, s"c$i")(spark.range(i).toDF("id").cutLineage())
      val rddDirs = java.nio.file.Files.walk(root).iterator().asScala
        .count(p => java.nio.file.Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("rdd-"))
      assert(rddDirs == 8, s"$rddDirs checkpoint dirs for 8 cached cuts")
    } finally {
      spark.conf.unset(key)
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
    }
  }

  test("a build that throws leaves no entry and the next call rebuilds") {
    val memo = new AssetMemo[String]
    intercept[IllegalStateException] {
      memo.getOrBuild(spark, "x")(throw new IllegalStateException("boom"))
    }
    assert(memo.getOrBuild(spark, "x")("built") == "built")
  }
}
