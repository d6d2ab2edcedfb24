package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.count_if
import org.apache.spark.sql.execution.LogicalRDD

/** Lineage-cutting materialization with a config-gated RELIABLE path
  * (round-16 verdict item 8: the cluster-safety story for every
  * localCheckpoint site).
  *
  * Default: `localCheckpoint` — executor-local UnsafeRow blocks, no
  * columnar conversion, partition layout preserved. This is the right
  * storage for the single-machine driver harness (measured round 15:
  * the columnar persist cost ~10× on array<struct> payloads), but it is
  * a LOCAL-MODE ASSUMPTION when taken to a cluster: the blocks live
  * only on the executors that computed them, so one lost executor
  * (dynamic allocation scale-in, spot kill) makes every downstream
  * consumer of the frame fail unrecoverably — the lineage needed to
  * recompute the lost partitions was truncated.
  *
  * Cluster deployments set `spark.graft.reliableCheckpointDir` to a
  * fault-tolerant location (HDFS/S3); every cut then goes through
  * `Dataset.checkpoint` into that directory instead, which survives
  * executor loss at the cost of one distributed write + read. The knob
  * is a runtime session conf so the same binary serves both shapes;
  * correctness is identical either way (both cuts materialize the same
  * rows — only the storage and recovery story change).
  */
object Materialize {

  private val ReliableDirKey = "spark.graft.reliableCheckpointDir"

  /** Materialize `df` and truncate its lineage. The cut is eager: the
    * materializing job runs here, not at the first action on the result.
    */
  def cut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption(ReliableDirKey).filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = spark.sparkContext
        // setCheckpointDir creates a unique subdirectory per context;
        // only (re)set it when unset or pointed elsewhere so repeated
        // cuts share one directory tree. The parent is compared as a
        // qualified path, not a substring: `/x/ckpt` is a prefix of
        // `/x/ckpt2`.
        val configured = new Path(dir)
        val qualified = configured.getFileSystem(sc.hadoopConfiguration)
          .makeQualified(configured)
        if (!sc.getCheckpointDir.exists(d => new Path(d).getParent == qualified))
          sc.setCheckpointDir(dir)
        df.checkpoint()
      case None => df.localCheckpoint()
    }
  }

  /** [[cut]] plus the count of rows matching `cond`, observed on the
    * cut's own job (both paths deliver it) instead of a second job.
    */
  def cutCounting(df: DataFrame, cond: Column): (DataFrame, Long) = {
    val obs = Observation()
    val c = cut(df.observe(obs, count_if(cond).as("n")))
    (c, obs.get("n").asInstanceOf[Long])
  }

  /** Free a cut that is no longer read: drop a local cut's blocks, and
    * delete a reliable cut's checkpoint files. Iterative loops call it
    * on the round they supersede, so storage holds the live round, not
    * one copy per round. A no-op for a frame that is not itself a cut.
    * The caller must not read `df` again.
    */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD =>
      r.rdd.unpersist(blocking = false)
      r.rdd.getCheckpointFile.foreach { f =>
        val p = new Path(f)
        p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
          .delete(p, true)
      }
    case _ => ()
  }

  /** Chaining syntax: `df.cutLineage()` ≡ `Materialize.cut(df)`, so
    * call sites read like the `localCheckpoint` they replace.
    */
  implicit class CutOps(private val df: DataFrame) extends AnyVal {
    def cutLineage(): DataFrame = cut(df)
  }
}
