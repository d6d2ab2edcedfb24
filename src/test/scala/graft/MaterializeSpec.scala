package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Materialize.cut is the single lineage-cut entry point (round 16):
  * localCheckpoint by default, reliable `Dataset.checkpoint` when
  * `spark.graft.reliableCheckpointDir` points at a fault-tolerant
  * location — the cluster-safety escape hatch for executor loss. Both
  * paths must return the same rows; the reliable path must actually
  * write under the configured directory.
  */
class MaterializeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def sample() = {
    import spark.implicits._
    (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .repartition(5, col("k"))
  }

  test("default cut preserves rows and truncates lineage locally") {
    val cut = Materialize.cut(sample())
    assert(cut.count() == 100)
    assert(cut.agg(sum("k")).head().getLong(0) == 5050L)
    assert(cut.queryExecution.analyzed.isInstanceOf[
      org.apache.spark.sql.execution.LogicalRDD])
  }

  test("release drops a local cut's blocks") {
    val cut = Materialize.cut(sample())
    val rdd = cut.queryExecution.logical
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd
    val sc = spark.sparkContext
    assert(sc.getPersistentRDDs.contains(rdd.id))
    Materialize.release(cut)
    assert(!sc.getPersistentRDDs.contains(rdd.id))
  }

  test("reliableCheckpointDir routes the cut through a reliable checkpoint") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_reliable_ckpt").toString
    val key = "spark.graft.reliableCheckpointDir"
    spark.conf.set(key, dir)
    try {
      val cut = Materialize.cut(sample())
      assert(cut.count() == 100)
      assert(cut.agg(sum("k")).head().getLong(0) == 5050L)
      // the reliable path must have materialized blocks under `dir`
      def filesUnder(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(filesUnder).sum
        else 1L
      assert(filesUnder(new java.io.File(dir)) > 0,
        s"no checkpoint files written under $dir")
    } finally {
      spark.conf.unset(key)
      org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(dir))
    }
  }

  test("a cut follows reliableCheckpointDir to a prefix of the previous dir") {
    val root = java.nio.file.Files.createTempDirectory("graft_ckpt_prefix")
    val (longer, prefix) = (root.resolve("ckpt2").toString, root.resolve("ckpt").toString)
    val key = "spark.graft.reliableCheckpointDir"
    val sc = spark.sparkContext
    try {
      spark.conf.set(key, longer)
      Materialize.cut(sample())
      assert(sc.getCheckpointDir.exists(_.contains("/ckpt2/")))
      spark.conf.set(key, prefix)
      assert(Materialize.cut(sample()).count() == 100)
      val parent = new org.apache.hadoop.fs.Path(sc.getCheckpointDir.get).getParent
      assert(parent.toUri.getPath == prefix,
        s"checkpoint dir ${sc.getCheckpointDir} is not directly under $prefix")
    } finally {
      spark.conf.unset(key)
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
    }
  }

  test("cutCounting delivers its observed count on the local and the reliable path") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val root = java.nio.file.Files.createTempDirectory("graft_ckpt_obs")
    val key = "spark.graft.reliableCheckpointDir"
    // a grouped frame, as NN-descent cuts it; a path that never delivers
    // the observation would block, so the wait is bounded
    def counted() = Await.result(Future(Materialize.cutCounting(
      sample().groupBy((col("k") % 10).as("g")).agg(count(lit(1)).as("n")),
      col("g") < 3)), 2.minutes)
    try {
      val (local, nLocal) = counted()
      spark.conf.set(key, root.toString)
      val (reliable, nReliable) = counted()
      assert(nLocal == 3L && nReliable == 3L, s"$nLocal / $nReliable")
      assert(local.count() == 10L && reliable.count() == 10L)
      assert(rddDirs(root) == 1, "the reliable cut must write one checkpoint")
    } finally {
      spark.conf.unset(key)
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
    }
  }

  /** Reliable checkpoint dirs (`rdd-*`) under `root`, at any depth. */
  private def rddDirs(root: java.nio.file.Path): Int = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(root).iterator().asScala
      .count(p => java.nio.file.Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("rdd-"))
  }

  private def pathGraph(n: Int) = {
    import spark.implicits._
    (0L until n - 1L).map(i => (i, i + 1L)).toDF("src", "dst")
  }

  private def labelsOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("reliable CC loop keeps no checkpoint copy per round") {
    val root = java.nio.file.Files.createTempDirectory("graft_ckpt_cc")
    val key = "spark.graft.reliableCheckpointDir"
    // a 4-vertex path converges in 3 rounds, a 64-vertex path in more:
    // per-round copies would make the second run leave more dirs
    val local = labelsOf(dedup.Clusters.connectedComponents(pathGraph(64)))
    try {
      spark.conf.set(key, root.toString)
      val left = Seq(4, 64).map { n =>
        val before = rddDirs(root)
        val labels = labelsOf(dedup.Clusters.connectedComponents(pathGraph(n)))
        assert(labels == (0L until n).map(_ -> 0L).toMap)
        if (n == 64) assert(labels == local)
        rddDirs(root) - before
      }
      assert(left(0) == left(1), s"checkpoint dirs per run grew with rounds: $left")
      // what is left is the symmetric edge list and the final labels
      assert(left(1) <= 2, s"$left")
    } finally {
      spark.conf.unset(key)
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
    }
  }

  test("reliable PageRank loop keeps no rank copy per round") {
    val root = java.nio.file.Files.createTempDirectory("graft_ckpt_pr")
    val key = "spark.graft.reliableCheckpointDir"
    try {
      spark.conf.set(key, root.toString)
      val ranks = dedup.Clusters.pageRank(pathGraph(8), iters = 6, damping = 0.85)
      assert(math.abs(ranks.agg(sum("score")).head().getDouble(0) - 1.0) < 1e-9)
      // the symmetric edge list, the degrees and the final ranks
      assert(rddDirs(root) == 3)
    } finally {
      spark.conf.unset(key)
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
    }
  }
}
