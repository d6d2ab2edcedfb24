package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.similarity.Knn

/** The unlabeled-corpus quantizer blocking mode (round-15 item 4,
  * Knn.graphTopKQuantized): when a corpus has no bounded class
  * dimension, blocks are derived from the D7b IVF KMeans coarse
  * quantizer with top-2 multi-probe assignment, and the guard probes
  * the quantized graph against GLOBAL exact truth — never against a
  * within-cell replica of the approximation.
  *
  * Two geometry classes pin both guard branches deterministically:
  * well-separated clusters (the quantizer's cells ARE the neighbor
  * structure → the quantized graph equals the exact global graph and
  * the guard accepts) and decorrelated splitmix noise (no spatial
  * blocking can capture isotropic neighbors → the guard measures the
  * miss and escalates to the unblocked construction).
  */
class KnnAutoBlockSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def sm64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def unit(h: Long): Float =
    ((h >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0).toFloat

  /** `nPer` vectors around each of `nClusters` well-separated axis
    * centers: member = 8*e_axis + small deterministic noise, so
    * intra-cluster cosines ≈ 0.99 and cross-cluster ≈ 0 — every true
    * neighbor is intra-cluster.
    */
  private def clustered(nClusters: Int, nPer: Int, dim: Int = 16)
      : Seq[(Long, Array[Float], Int)] =
    for {
      c <- 0 until nClusters
      i <- 0 until nPer
    } yield {
      val id = (c * nPer + i).toLong
      val v = Array.tabulate(dim) { d =>
        val noise = unit(sm64(id * 131L + d)) * 0.4f
        if (d == c) 8.0f + noise else noise
      }
      (id, v, 1) // ONE true label: the unlabeled-corpus shape
    }

  private def noise(n: Int, dim: Int = 16): Seq[(Long, Array[Float], Int)] =
    (0 until n).map { i =>
      (i.toLong, Array.tabulate(dim)(d => unit(sm64(i * 1021L + d))), 1)
    }

  private def df(rows: Seq[(Long, Array[Float], Int)]): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label")
  }

  private def pairSet(g: DataFrame): Set[(Long, Long)] =
    g.select("vec_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("clustered geometry: quantized blocks recover the exact global graph") {
    val e = df(clustered(4, 50))
    val res = Knn.graphTopKQuantized(e, 3, budget = 0L,
      recallTarget = 0.9, sampleMod = 1L, targetBlock = 50L)
    val qi = res.quantize.getOrElse(fail("quantize mode must report"))
    assert(qi.nlist == 4, s"200 vectors / block 50 must give 4 cells")
    assert(!qi.escalatedToGlobal,
      s"separated clusters must pass the guard, recall ${qi.quantizedRecall}")
    assert(qi.quantizedRecall == 1.0,
      s"true neighbors are intra-cluster, got ${qi.quantizedRecall}")
    assert(pairSet(res.graph) == pairSet(Knn.exactLabelGraph(e, 3)),
      "quantized graph must equal the exact global graph here")
    assert(res.probeSample.nonEmpty && res.escalation.isEmpty)
  }

  test("every vector emits exactly k edges after the two-copy merge") {
    val e = df(clustered(4, 50))
    val res = Knn.graphTopKQuantized(e, 3, budget = 0L,
      recallTarget = 0.9, sampleMod = 1L, targetBlock = 50L)
    val offK = res.graph.groupBy("vec_id").agg(count(lit(1)).as("c"))
      .filter(col("c") =!= 3).count()
    assert(offK == 0L)
    assert(res.graph.filter(col("vec_id") === col("neighbor_id")).count()
      == 0L, "self-pairs via the synthetic-copy ids must be dropped")
  }

  test("isotropic noise: the guard measures the miss and escalates to the unblocked construction") {
    // 600 vectors / 12 cells: the 2-of-12 multi-probe sees ~1/6 of
    // the corpus, so isotropic neighbors (uniform over the corpus)
    // must be missed — at 200/4 cells the probe pair covered half the
    // corpus and the guard legitimately passed
    val e = df(noise(600))
    val res = Knn.graphTopKQuantized(e, 3, budget = 0L,
      recallTarget = 0.9, sampleMod = 1L, targetBlock = 50L)
    val qi = res.quantize.getOrElse(fail("quantize mode must report"))
    assert(qi.escalatedToGlobal,
      s"noise must defeat spatial blocking, recall ${qi.quantizedRecall}")
    assert(qi.quantizedRecall < 0.9)
    // the fallback IS the proven construction — bit-for-bit: the
    // result must equal what the label-blocked dispatcher produces on
    // the same corpus (both deterministic), so quantizing can never
    // end WORSE than not having quantized
    assert(pairSet(res.graph) ==
      pairSet(Knn.graphTopKEscalating(e, 3, budget = 0L,
        recallTarget = 0.9, sampleMod = 1L).graph))
  }

  test("below the pair budget the exact branch returns untouched (no quantizer)") {
    val e = df(noise(40))
    val res = Knn.graphTopKQuantized(e, 3) // 40*39 = 1560 <= 2e7
    assert(res.quantize.isEmpty && res.escalation.isEmpty &&
      res.probeSample.isEmpty)
    assert(pairSet(res.graph) == pairSet(Knn.exactLabelGraph(e, 3)))
  }

  test("a corpus under 2x the target block dispatches to the label-blocked construction") {
    val e = df(noise(60))
    val res = Knn.graphTopKQuantized(e, 3, budget = 0L,
      recallTarget = 0.0, sampleMod = 1L, targetBlock = 100L)
    assert(res.quantize.isEmpty,
      "nlist < 2 must not quantize — the label dispatcher runs instead")
  }

  test("a multi-label corpus dispatches to the label-blocked path") {
    val e = df(noise(50).map { case (id, v, _) => (id, v, (id % 2).toInt) })
    assert(!Knn.unlabeled(e))
    val res = Knn.graphTopKDispatch(e, 3)
    assert(res.quantize.isEmpty)
    assert(pairSet(res.graph) == pairSet(Knn.graphTopKEscalating(e, 3).graph))
  }

  test("a one-label corpus dispatches to the quantizer") {
    val e = df(noise(50))
    assert(Knn.unlabeled(e))
    assert(pairSet(Knn.graphTopKDispatch(e, 3).graph) ==
      pairSet(Knn.graphTopKQuantized(e, 3).graph))
  }
}
