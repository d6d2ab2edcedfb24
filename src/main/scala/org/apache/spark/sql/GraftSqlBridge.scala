package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Column↔Expression conversion (Spark 4
  * removed the public `Column(expr)` constructor with the Connect
  * refactor; `classic.ExpressionUtils` is the sanctioned internal path
  * for extension libraries that define native Catalyst expressions).
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Whether `spark` holds session-scoped jars: added through
    * `addArtifact`, or copied from the session it was cloned from. Its
    * tasks load them through the session's own executor class loader
    * (private[sql] `artifactManager`). Reads no isolation conf, so the
    * session's artifact isolation stays unresolved.
    */
  def holdsArtifacts(spark: SparkSession): Boolean =
    spark.asInstanceOf[classic.SparkSession].artifactManager.getAddedJars.nonEmpty

  /** Wrap a custom LogicalPlan as a DataFrame (private[sql]
    * `Dataset.ofRows` — the standard entry point for extension
    * libraries that build their own plan nodes).
    */
  def ofRows(spark: SparkSession,
      plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Re-wrap a materialized (localCheckpoint'd) DataFrame as a fresh
    * `LogicalRDD` WITHOUT the inherited `originStats`.
    *
    * Why this exists (round-13 scale finding): `Dataset.localCheckpoint`
    * truncates the logical plan but PRESERVES the child plan's computed
    * `Statistics` on the replacement `LogicalRDD` (so broadcast
    * decisions survive checkpointing). In an iterative algorithm whose
    * per-round plan self-joins the previous round's checkpoint, the
    * inherited `sizeInBytes` BigInts MULTIPLY — the bit-length of the
    * statistic DOUBLES per round, and by round ~20 the driver spends
    * tens of minutes per round inside `BigInteger.multiplyToomCook3`
    * computing 10⁷-bit "row count estimates" during planning (observed
    * live on NN-descent round 22 at a 218k-vector block: the main
    * thread pinned in ToomCook3 while 31 executor threads idled).
    * Detaching the stats resets the estimate to the conservative
    * session default — which for a frame that must never be broadcast
    * is also the CORRECT planning input. Execution is untouched: the
    * returned frame scans the identical materialized RDD.
    */
  def detachStats(df: DataFrame): DataFrame = {
    val classicDf = df.asInstanceOf[classic.Dataset[Row]]
    val spark = classicDf.sparkSession
    val qe = classicDf.queryExecution
    // keep the checkpoint's physical partitioning/ordering (round-13
    // advice): localCheckpoint's own LogicalRDD carries them so a
    // downstream groupBy/window on the same keys can reuse the
    // materialized layout instead of re-shuffling; dropping ONLY the
    // stats is the point of this bridge. The checkpointed plan IS a
    // LogicalRDD whose output attributes are qe.analyzed.output, so
    // its partitioning expressions transfer without an attr rewrite.
    val (part, ord) = qe.analyzed match {
      case l: execution.LogicalRDD => (l.outputPartitioning, l.outputOrdering)
      case _ =>
        (catalyst.plans.physical.UnknownPartitioning(0),
          Seq.empty[catalyst.expressions.SortOrder])
    }
    val plan = execution.LogicalRDD(qe.analyzed.output, qe.toRdd, part, ord)(spark)
    classic.Dataset.ofRows(spark, plan)
  }
}
