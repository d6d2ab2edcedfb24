package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.similarity.Knn

/** The knn_graph recall-escalation policy (round-13 verdict item 2)
  * on a small DECORRELATED corpus — the structure-free geometry class
  * evidence/decade/KSWEEP_SF100D1.json measured below the 0.9 gate at the auto K. Vectors
  * are deterministic splitmix64 noise (the --decorrelate generator's
  * property at spec scale): pairwise cosines are extreme-value noise,
  * so a deliberately narrow NN-descent list (kInternal = 3) probes
  * well below any honest target and the guard must fire. Labels with
  * n ≤ kInternal + 1 are complete graphs under ring init (every
  * vector connects to ALL others), hence exactly recall 1 — the
  * deterministic "passing block" for the per-block splice tests.
  */
class KnnEscalationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def sm64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def noiseVec(id: Long, dim: Int): Array[Float] =
    Array.tabulate(dim) { d =>
      val h = sm64(id * 1021L + d)
      ((h >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0).toFloat
    }

  /** n decorrelated vectors under `label`, ids [idBase, idBase+n). */
  private def block(idBase: Long, n: Int, label: Int): Seq[(Long, Array[Float], Int)] =
    (0 until n).map(i => (idBase + i, noiseVec(idBase + i, 16), label))

  private def df(rows: Seq[(Long, Array[Float], Int)]): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label")
  }

  private def pairSet(g: DataFrame): Set[(Long, Long)] =
    g.select("vec_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("below the pair budget the exact branch returns with no probe") {
    val e = df(block(0L, 50, 1))
    val res = Knn.graphTopKEscalating(e, 3)
    assert(res.probeSample.isEmpty && res.escalation.isEmpty)
    assert(pairSet(res.graph) == pairSet(Knn.exactLabelGraph(e, 3)))
  }

  test("approximate branch with passing recall returns the round-1 graph un-escalated") {
    // every label block is a complete graph under kInternal=3 ring
    // init (n = 4 ≤ kInternal+1) → recall identically 1, no guard
    val e = df(block(0L, 4, 1) ++ block(100L, 4, 2) ++ block(200L, 4, 3))
    val res = Knn.graphTopKEscalating(e, 3, budget = 0L, kInternal = 3,
      recallTarget = 0.95, sampleMod = 1L)
    assert(res.escalation.isEmpty, "complete blocks must not escalate")
    assert(res.probeSample.nonEmpty, "approximate branch must expose its probe")
    assert(pairSet(res.graph) == pairSet(Knn.exactLabelGraph(e, 3)))
  }

  test("failing blocks under the fallback budget are re-routed to the exact twin") {
    val e = df(block(0L, 200, 1) ++ block(1000L, 200, 2))
    val res = Knn.graphTopKEscalating(e, 3, budget = 0L, kInternal = 3,
      recallTarget = 0.95, sampleMod = 1L, fallbackBudget = 1000000L)
    val info = res.escalation.getOrElse(
      fail("noise blocks at kInternal=3 must trip the recall guard"))
    assert(info.initialRecall < 0.95,
      s"probe recall ${info.initialRecall} should be far below target")
    assert(info.exactLabels.sorted == Seq(1L, 2L) && info.rungLabels.isEmpty)
    assert(info.finalRecall == 1.0,
      s"exact re-route must measure recall 1, got ${info.finalRecall}")
    assert(pairSet(res.graph) == pairSet(Knn.exactLabelGraph(e, 3)),
      "exact-routed graph must equal the exact twin row-for-row")
  }

  test("failing blocks over the fallback budget retry at the next K rung; passing blocks keep their edges") {
    // label 1: 200-vector noise block (fails, mass 39800 > fallback 0)
    // label 2: 4-vector complete block (passes, must be left alone)
    val e = df(block(0L, 200, 1) ++ block(5000L, 4, 2))
    val res = Knn.graphTopKEscalating(e, 3, budget = 0L, kInternal = 3,
      recallTarget = 0.95, sampleMod = 1L, fallbackBudget = 0L)
    val info = res.escalation.getOrElse(fail("noise block must escalate"))
    assert(info.failingLabels == Seq(1L) && info.rungLabels == Seq(1L) &&
      info.exactLabels.isEmpty)
    assert(info.kInitial == 3 && info.kRung == Knn.nextKRung(3))
    // structural integrity of the spliced graph: every vector still
    // emits exactly k edges, the passing block's edges are the exact
    // complete-graph rows, and label blocks are never crossed
    val perVec = res.graph.groupBy("vec_id").agg(count(lit(1)).as("c"))
      .filter(col("c") =!= 3).count()
    assert(perVec == 0L, "every vector must keep exactly 3 edges")
    val exactB = Knn.exactLabelGraph(e.filter(col("label") === 2), 3)
    assert(pairSet(res.graph.filter(col("vec_id") >= 5000L)) == pairSet(exactB),
      "the passing block's rows must be untouched (= its exact graph)")
    assert(info.finalRecall >= 0.0 && info.finalRecall <= 1.0)
  }

  test("next K rung follows the x4/3 ladder") {
    assert(Knn.nextKRung(30) == 40)
    assert(Knn.nextKRung(39) == 52)
    assert(Knn.nextKRung(48) == 64)
    assert(Knn.nextKRung(3) == 4)
  }

  test("the escalation ladder LOOPS rungs until the probe heals (round 15)") {
    // one 30-vector noise block: kInternal=3 probes far below target;
    // each rung climbs x4/3 (4, 6, 8, 11, 15, ...) and by kInternal
    // >= 29 the ring init is a complete graph — the ladder MUST reach
    // target recall within the generous work budget. Proves the loop
    // fires more than one rung (the round-14 code gave up after one).
    val e = df(block(0L, 30, 1))
    val res = Knn.graphTopKEscalating(e, 3, budget = 0L, kInternal = 3,
      recallTarget = 0.95, sampleMod = 1L, fallbackBudget = 0L,
      rungFactor = 2000.0)
    val info = res.escalation.getOrElse(fail("noise block must escalate"))
    assert(info.rungsTried.length >= 2,
      s"ladder must climb past the first rung, tried ${info.rungsTried}")
    assert(!info.budgetExhausted, "generous budget must not exhaust")
    assert(info.finalRecall >= 0.95,
      s"ladder must heal to target, got ${info.finalRecall}")
    assert(info.rungsTried ==
      Iterator.iterate(3)(Knn.nextKRung).drop(1)
        .take(info.rungsTried.length).toList,
      "fired rungs must follow the x4/3 ladder from the initial width")
    val offK = res.graph.groupBy("vec_id").agg(count(lit(1)).as("c"))
      .filter(col("c") =!= 3).count()
    assert(offK == 0L, "every vector must emit exactly 3 edges after " +
      "the repeated splice")
  }

  test("an exhausted rung budget stops the ladder loudly with the round-1 graph intact") {
    val e = df(block(0L, 200, 1))
    val res = Knn.graphTopKEscalating(e, 3, budget = 0L, kInternal = 3,
      recallTarget = 0.95, sampleMod = 1L, fallbackBudget = 0L,
      rungFactor = 0.01) // budget 18 < first rung cost 200*16
    val info = res.escalation.getOrElse(fail("noise block must escalate"))
    assert(info.budgetExhausted && info.rungsTried.isEmpty,
      s"budget 0.01x must refuse even the first rung, got ${info.rungsTried}")
    assert(info.finalRecall < 0.95, "the loud below-target return")
    // with zero rungs fired the splice must keep the round-1 edges
    assert(pairSet(res.graph) ==
      pairSet(graft.similarity.NnDescent.knnGraph(e, 3, 3)),
      "unhealed block must keep its round-1 NN-descent edges")
  }

  test("autoSampleMod is fixed-count: floors at 100, scales with pair mass") {
    assert(Knn.autoSampleMod(0L, 5000000000L) == 100L)
    // sf100 shape (2 x 218k blocks, spent ~9.5e10): mod stays the
    // historical 100 — every committed gate row is unchanged
    assert(Knn.autoSampleMod(95000000000L, 5000000000L) == 100L)
    // one decade up the mod scales so the probe mass stays at budget
    assert(Knn.autoSampleMod(9500000000000L, 5000000000L) == 1900L)
    val spent = 123456789012345L
    val m = Knn.autoSampleMod(spent, 5000000000L)
    assert(spent / m <= 5000000000L, "probe mass must stay under budget")
  }

  test("GraphResult carries the derived modulus on both dispatch branches") {
    val small = df(block(0L, 50, 1))
    assert(Knn.graphTopKEscalating(small, 3).sampleModUsed == 100L,
      "spec-scale corpora derive the historical mod 100")
  }
}
