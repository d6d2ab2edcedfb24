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
}
