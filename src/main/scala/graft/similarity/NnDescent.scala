package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{TopKAgg, VectorOps}
import graft.Materialize
import graft.Materialize.CutOps

/** NN-descent (Dong, Moses & Li, WWW'11): k-NN GRAPH construction by
  * iterative neighborhood refinement — "a neighbor of a neighbor is
  * likely a neighbor". Each round compares, for every vector, the
  * members of its current neighborhood (forward + reverse edges)
  * against each other and keeps the best `kInternal` per vector; the
  * process converges in a handful of rounds.
  *
  * WHY this operator exists (round-9 verdict item 1): the corpus's
  * within-label embeddings are measured ISOTROPIC (mean pairwise
  * cosine 0.000, σ ≈ 0.125, true top-1 at cos ≈ 0.42), and on such
  * geometry NO spatial partitioning can recover the true top-k at a
  * bounded candidate budget — hyperplane-bit sub-blocking measured
  * 0.262 recall@3 at sf10 (16× more work bought 0.275), and a k-means
  * coarse quantizer measured 0.30-0.50 at the same budget in offline
  * probes (positional blocks can't separate +3.3σ neighbors from the
  * bulk when the blocks are 10³× smaller than the label). NN-descent
  * sidesteps partitioning entirely: its per-vector work is
  * O(iters · kInternal²) cosines — INDEPENDENT of the corpus size —
  * and it measured 0.91-0.99 recall@3 on the same blocks (n = 2 180:
  * 0.995 at kInternal = 30; n = 21 800: 0.914). Work per round is
  * n · (2·kInternal)² candidate pairs, ~linear in n: the 100 TB
  * asymptote the blocked quadratic never had.
  *
  * Spark shape: the graph is a DataFrame of directed edges
  * (src, dst, cos, fresh); each round is (a) reverse-edge adjacency,
  * degree-capped at kInternal by a deterministic hash order (the
  * paper's ρ-sampling — bounds hub-pivot fan-out), (b) one equi-join
  * of the FRESH adjacency against the full adjacency on the shared
  * pivot (the incremental optimization: only pairs with ≥ 1
  * newly-discovered endpoint are generated, so late rounds cost a
  * fraction of round 0), (c) cosine scoring through the codegen'd
  * [[VectorOps.cosine]], (d) a per-src top-kInternal merge.
  * Rounds run until the surviving fresh mass falls below the paper's
  * δ·K·n threshold (δ = 0.001 — see the termination note in the loop),
  * with maxIters as a loudly-logged runaway backstop.
  *
  * Round-11 (verdict item 4): steps (a) and (d) are bounded-buffer
  * TypedImperativeAggregates ([[graft.functions.BottomKByLongKey]],
  * [[graft.functions.TopKFreshByScore]]) instead of row_number
  * windows. The window merge was TWO full-sort shuffles per round
  * (groupBy(src,dst) pair dedup, then a per-src rank sort) over the
  * ~6M-edge (sf10) merge input, 18 rounds deep — 68% of the decade
  * bench subset's wall. The aggregates select the IDENTICAL edge set
  * (same (cos desc, dst) / (hash asc, nb) total orders, dedup and the
  * fresh-AND folded into the buffer) in one aggregation each, with
  * map-side partial buffers capping what crosses the wire at O(k) per
  * (group, task).
  * Everything is deterministic: ring init ordered by xxhash64, ties
  * broken by id everywhere, no RNG state — two runs on one corpus
  * produce the identical graph.
  *
  * Init: per label, vectors are ranked by (xxhash64(vec_id), vec_id)
  * and each connects to its next `kInternal` successors on the ring —
  * the standard random-ring init, chosen over random-block inits
  * because it GUARANTEES min(kInternal, n_label−1) initial neighbors
  * per vector (no singleton blocks), which in turn guarantees every
  * vector emits min(k, n_label−1) rows in the final graph.
  *
  * Label blocks are respected end-to-end (init rings are per-label and
  * candidate generation only ever meets vectors through a shared
  * pivot), matching the exact twin's within-label semantics.
  */
object NnDescent {

  /** Top-`k` cosine neighbors per vector within its label block.
    * Output: (vec_id, rank, neighbor_id, cosine(4dp)), rank 1..k by
    * (cosine desc, neighbor_id). Extraction reads the forward lists
    * only — augmenting with reverse edges was measured and bought
    * nothing (0.8190 → 0.8195 at n = 21 800, K = 20: by convergence a
    * true neighbor that lists you is almost always already in your
    * list, because the pair was compared when either end discovered
    * it).
    */
  def knnGraph(e: DataFrame, k: Int, kInternal: Int = 30,
      maxIters: Int = 60): DataFrame = {
    require(kInternal >= k, s"kInternal=$kInternal must be >= k=$k")
    val emb = e.select(col("vec_id"), col("label"), col("embedding"))

    val embSrc = emb.select(col("vec_id").as("src"), col("embedding").as("ea"))
    val embDst = emb.select(col("vec_id").as("dst"), col("embedding").as("eb"))
    def score(pairs: DataFrame): DataFrame =
      pairs.join(embSrc, "src").join(embDst, "dst")
        .select(col("src"), col("dst"),
          VectorOps.cosine(col("ea"), col("eb")).as("cos"))

    // deterministic ring init: rank within label by hashed id, connect
    // each vector to its kInternal ring successors (pmod wraps), score
    val wRank = Window.partitionBy("label")
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
    val nl = emb.groupBy("label").agg(count(lit(1)).as("nl"))
    val ranked = emb.join(broadcast(nl), "label")
      .select(col("label"), col("vec_id"), col("nl"),
        (row_number().over(wRank).cast("long") - 1L).as("rn"))
    val offsets = array((1 to kInternal).map(j => lit(j.toLong)): _*)
    val probes = ranked
      .select(col("label"), col("vec_id").as("src"), col("rn"), col("nl"),
        explode(offsets).as("off"))
      .select(col("label"), col("src"),
        pmod(col("rn") + col("off"), col("nl")).as("pos"))
      // offsets wrap onto duplicate positions when n_label <= kInternal
      .distinct()
    val targets = ranked.select(col("label"), col("rn").as("pos"),
      col("vec_id").as("dst"))
    val initPairs = probes.join(targets, Seq("label", "pos"))
      .filter(col("src") =!= col("dst"))
      .select("src", "dst")

    // localCheckpoint — NOT persist — between rounds: persist leaves
    // the logical plan intact, and each round's plan embeds ~5 copies
    // of the previous round's (fwd, rev, adjF, adjA, merge), so
    // analysis cost grows exponentially with the round count (the
    // Clusters CC lesson, re-learned here at sf1: rounds 1-3 ran in
    // 90 s, round 4 never finished). localCheckpoint is eager and
    // truncates lineage to the materialized blocks.
    // detachStats on top (round-13 finding): localCheckpoint PRESERVES
    // the child plan's Statistics, and the round plan's self-joins
    // MULTIPLY those sizeInBytes BigInts — bit-length doubles per
    // round, and past ~round 20 the driver spends tens of minutes per
    // round in BigInteger.multiplyToomCook3 during planning (observed
    // live; see GraftSqlBridge.detachStats). The edge frame must never
    // be broadcast anyway, so the conservative default stat is also
    // the correct planning input.
    import org.apache.spark.sql.GraftSqlBridge.detachStats
    // edgesCk keeps the checkpointed handle (unpersist targets the
    // frame that owns the blocks); edges is its stat-detached wrapper
    // over the same materialized RDD
    var edgesCk = score(initPairs).withColumn("fresh", lit(true))
      .cutLineage()
    var edges = detachStats(edgesCk)

    val wTop = Window.partitionBy("src")
      .orderBy(col("cos").desc, col("dst"))
    var it = 0
    var freshCount = edges.count() // init is all fresh
    // Termination is the paper's δ rule (Dong et al. §2.3, δ = 0.001):
    // stop once a round's surviving fresh mass falls below δ·K·n —
    // NOT at literal zero. Round-13 finding (decorrelated 218k-block
    // corpus, evidence/decade/KSWEEP_SF100D1.json): on low-structure
    // geometry the fresh mass has a long sub-percent tail, and the previous
    // fresh==0 ∧ maxIters=18 pair terminated BY THE CAP mid-descent
    // (999k fresh at round 18, recall@3 0.789 — an iteration-budget
    // artifact, not a K deficit). δ-stop bounds the un-exploited
    // staleness at 0.1% of list mass (recall effect ≤ ~10⁻³) while
    // duplicate-dense corpora, whose fresh mass collapses 9.5M → 303
    // in one round (evidence/decade/KSWEEP_SF100V.json), stop on the
    // same round they previously hit 0 — their final edge set is
    // bit-identical
    // because the sub-δ round discovered nothing. maxIters = 60 is a
    // runaway backstop, no longer the binding constraint; hitting it
    // is logged as NOT CONVERGED.
    val nVec = emb.count()
    val deltaStop = math.max(1L, (0.001 * kInternal * nVec).toLong)
    while (it < maxIters && freshCount > deltaStop) {
      val fwd = edges
        .select(col("src").as("pivot"), col("dst").as("nb"), col("fresh"))
      // reverse adjacency degree-capped at kInternal in deterministic
      // hash order (the paper's ρ-sampling): a hub listed by 10⁴
      // vectors would otherwise contribute a 10⁸-pair pivot. The cap
      // is per (pivot, fresh) — the paper samples its NEW and OLD
      // pools independently — because a single hash-ordered cap
      // drops the fresh reverse edges themselves at high-reverse-
      // degree pivots, stalling propagation exactly through the
      // best-connected nodes (measured: a shared cap left sf10 at
      // 1.3M fresh edges and recall 0.81 after 12 rounds).
      // BottomKByLongKey selects the same (xxhash64 asc, nb asc)
      // bottom-k the old row_number window did, without the full sort
      // — nb values are unique per (pivot, fresh) (edges are deduped),
      // so the bounded-buffer selection is order-independent.
      val rev = edges
        .select(col("dst").as("pivot"), col("src").as("nb"), col("fresh"))
        .groupBy("pivot", "fresh")
        .agg(TopKAgg.bottomKByKey(col("nb"), xxhash64(col("nb")),
          kInternal).as("nbs"))
        .select(col("pivot"), explode(col("nbs")).as("nb"), col("fresh"))
      val adj = fwd.union(rev)
      val adjF = adj.filter(col("fresh")).select("pivot", "nb")
      val adjA = adj.select(col("pivot"), col("nb").as("nb2"))
      // all (nb, nb2) meeting at a pivot with nb on a FRESH edge; the
      // least/greatest normalization dedups the two directions before
      // the (expensive) cosine, distinct dedups multi-pivot discovery
      val cand = adjF.join(adjA, Seq("pivot"))
        .filter(col("nb") =!= col("nb2"))
        .select(least(col("nb"), col("nb2")).as("src"),
          greatest(col("nb"), col("nb2")).as("dst"))
        .distinct()
      val scored = score(cand)
      val newDirected = scored
        .union(scored.select(col("dst"), col("src"), col("cos")))
        .withColumn("fresh", lit(true))
      // merge: per-src top-kInternal with pair dedup and the fresh-AND
      // (a pair present in BOTH old and new is a re-discovery, not
      // fresh) folded into one bounded-buffer aggregation — see the
      // TopKFreshByScore scaladoc for the exact-equivalence argument
      val next = edges.withColumn("fresh", lit(false)).union(newDirected)
        .groupBy("src")
        .agg(TopKAgg.topKFresh(col("dst"), col("cos"), col("fresh"),
          kInternal).as("top"))
        .select(col("src"), explode(col("top")).as("e"))
        .select(col("src"), col("e.payload").as("dst"),
          col("e.score").as("cos"), col("e.fresh").as("fresh"))
        .cutLineage()
      freshCount = next.filter(col("fresh")).count()
      edgesCk.unpersist(blocking = false)
      Materialize.release(edgesCk)
      edgesCk = next
      edges = detachStats(next)
      it += 1
      System.err.println(s"[graft] nn-descent round $it: " +
        s"$freshCount fresh edges (delta-stop at $deltaStop)")
    }
    if (freshCount > deltaStop)
      System.err.println(s"[graft] nn-descent NOT CONVERGED: hit " +
        s"maxIters=$maxIters with $freshCount fresh edges " +
        s"(delta-stop $deltaStop) — raise maxIters or kInternal")

    // final extraction from the forward lists, then detach the result
    // from the persisted loop state (localCheckpoint is eager) so the
    // intermediate blocks don't outlive this call
    val out = edges
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select(col("src").as("vec_id"), col("rank"),
        col("dst").as("neighbor_id"), round(col("cos"), 4).as("cosine"))
      .cutLineage()
    edgesCk.unpersist(blocking = false)
    Materialize.release(edgesCk)
    out
  }
}
