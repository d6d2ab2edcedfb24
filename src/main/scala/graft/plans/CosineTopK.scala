package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.BoundedHeap
import CosineTopK.{EmbCol, IdCol}

/** Whole-operator custom plan (SURVEY §4 ladder step (c)): exact cosine
  * top-k of a small broadcast query set against an embedding corpus.
  *
  * Why a custom physical operator instead of crossJoin + window
  * row_number: the compositional plan materializes |corpus| × |queries|
  * scored rows and shuffles them all to rank — at 100 TB that shuffle IS
  * the job. This operator pins the query vectors on every task (Spark
  * broadcast), keeps one bounded heap per query per partition
  * (`BoundedHeap`, the same structure the top-k aggregates use), and
  * emits only k rows per (query, partition); the single-partition merge
  * handles k × queries × partitions rows — trivially small — exactly the
  * shape of TakeOrderedAndProject generalized per query.
  *
  * Wiring: logical node → `CosineTopKStrategy` (planner strategy injected
  * via `GraftExtensions` / session-local registration) → exec node.
  */
case class CosineTopKPlan(
    child: LogicalPlan,
    queryIds: Array[Long],
    queryVecs: Array[Array[Float]],
    k: Int,
    // constructor parameter, NOT a computed val: Catalyst copies nodes
    // during optimization and freshly-minted AttributeReferences would
    // get new expr-ids, breaking downstream bindings
    override val output: Seq[Attribute])
  extends UnaryNode {

  // this node mints its output attributes (nothing passes through from
  // the child) — declare them or CheckAnalysis reports MISSING_ATTRIBUTES
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)

  // no child columns appear in `expressions`, so without an explicit
  // references set ColumnPruning would rewrite the child to Project []
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(
      child.output.filter(a => a.name == IdCol || a.name == EmbCol))

  override protected def withNewChildInternal(c: LogicalPlan) = copy(child = c)
}

object CosineTopKPlan {
  def freshOutput(): Seq[Attribute] = Seq(
    AttributeReference("query_id", LongType, nullable = false)(),
    AttributeReference("rank", IntegerType, nullable = false)(),
    AttributeReference("neighbor_id", LongType, nullable = false)(),
    AttributeReference("cosine", DoubleType, nullable = false)())
}

case class CosineTopKExec(
    child: SparkPlan,
    queryIds: Array[Long],
    queryVecs: Array[Array[Float]],
    k: Int,
    override val output: Seq[Attribute])
  extends UnaryExecNode {

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)

  override protected def doExecute(): RDD[InternalRow] = {
    val idIdx = child.output.indexWhere(_.name == IdCol)
    val embIdx = child.output.indexWhere(_.name == EmbCol)
    require(idIdx >= 0 && embIdx >= 0,
      s"child must expose $IdCol and $EmbCol; has ${child.output.map(_.name)}")
    val bcIds = sparkContext.broadcast(queryIds)
    val bcVecs = sparkContext.broadcast(queryVecs)
    val kk = k

    // phase 1: one bounded heap per query per partition
    val partials = child.execute().mapPartitions { rows =>
      val ids = bcIds.value
      val vecs = bcVecs.value
      val nq = ids.length
      val heaps = Array.fill(nq)(new BoundedHeap(kk))
      // precompute query norms once per partition
      val qNorm = vecs.map { v =>
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
        math.sqrt(s)
      }
      rows.foreach { row =>
        val nid = row.getLong(idIdx)
        val emb = row.getArray(embIdx)
        val n = emb.numElements()
        var q = 0
        while (q < nq) {
          if (ids(q) != nid) {
            val qv = vecs(q)
            var dot = 0.0; var cn = 0.0
            var i = 0
            val lim = math.min(n, qv.length)
            while (i < lim) {
              val x = emb.getFloat(i).toDouble
              dot += x * qv(i).toDouble
              cn += x * x
              i += 1
            }
            val denom = qNorm(q) * math.sqrt(cn)
            val cos = if (denom == 0.0) 0.0 else dot / denom
            // heap payload is the neighbor id; key the cosine
            heaps(q).insert(BoundedHeap.scoreKey(cos), nid)
          }
          q += 1
        }
      }
      // emit partials, unordered: (queryIdx, neighborId, cosine key)
      heaps.iterator.zipWithIndex.flatMap { case (h, q) =>
        Iterator.range(0, h.size).map(i => (q, h.payloads(i), h.keys(i)))
      }
    }

    // phase 2: tiny single-partition merge, then final rows.
    // repartition (a shuffle), NOT coalesce: coalesce(1) is a narrow
    // dependency that would collapse phase 1 into one task, serializing
    // the whole corpus scan. The shuffle moves only the
    // O(k·queries·partitions) partials.
    partials.repartition(1).mapPartitions { it =>
      val ids = bcIds.value
      val heaps = Array.fill(ids.length)(new BoundedHeap(kk))
      it.foreach { case (q, p, key) => heaps(q).insert(key, p) }
      heaps.iterator.zipWithIndex.flatMap { case (h, q) =>
        h.bestFirst.iterator.zipWithIndex.map { case (i, r) =>
          InternalRow(ids(q), r + 1, h.payloads(i), BoundedHeap.keyScore(h.keys(i)))
        }
      }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan) = copy(child = c)
}

object CosineTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: CosineTopKPlan =>
      CosineTopKExec(planLater(p.child), p.queryIds, p.queryVecs, p.k,
        p.output) :: Nil
    case _ => Nil
  }
}

object CosineTopK {

  /** The id and embedding columns both `corpus` and `queries` carry. */
  final val IdCol = "vec_id"
  final val EmbCol = "embedding"

  /** Public API: exact top-k neighbors of `queries` within `corpus`.
    * Queries are collected to the driver (they are small by contract —
    * the broadcast side) and baked into the logical node.
    */
  def topK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val spark = corpus.sparkSession
    if (!spark.sessionState.planner.extraPlanningStrategies
        .contains(CosineTopKStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ CosineTopKStrategy
    }
    val q = queries.select(IdCol, EmbCol).collect()
    val ids = q.map(_.getLong(0))
    val vecs = q.map(_.getSeq[Float](1).toArray)
    val plan = CosineTopKPlan(
      corpus.select(IdCol, EmbCol).queryExecution.analyzed,
      ids, vecs, k, CosineTopKPlan.freshOutput())
    org.apache.spark.sql.GraftSqlBridge.ofRows(spark, plan)
  }
}
