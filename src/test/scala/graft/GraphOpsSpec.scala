package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.dedup.Dedup

/** Semantics checks for the round-4 additions that compose on the
  * near-dup graph or have statistical (not SQL-row) invariants beyond
  * their oracles: intra-doc dedup on a planted repeat, triangle census
  * on a planted clique, label-blocking on the knn graph, and weighted
  * sampling's size bias.
  */
class GraphOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("intra-doc chunk dedup drops a planted repeated chunk, keeps clean docs byte-identical") {
    import spark.implicits._
    // "aa bb" appears at chunk positions 0 and 2 → one copy must go
    val repeated = Seq(
      (1L, "aa bb cc dd aa bb ee ff"),
      (2L, "gg hh ii jj kk ll mm nn")).toDF("doc_id", "text")
    val stats = graft.text.CorpusIndex.chunkRows(repeated, 2)
      .groupBy("doc_id", "chunk").agg(min("pos").as("pos"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_kept"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stats(1L) == 3, s"doc 1 kept ${stats(1L)} chunks, expected 3")
    assert(stats(2L) == 4, s"doc 2 kept ${stats(2L)} chunks, expected 4")
  }

  test("triangle census finds a planted 3-clique of near-identical docs") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val clique = Seq(
      (1L, base), (2L, base + " lambda"), (3L, base + " mu"),
      (4L, "totally different words that share nothing with the others at all"))
      .toDF("doc_id", "text")
    val e = Dedup.ngramJaccardPairs(clique, 0.5).select("doc_a", "doc_b")
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.doc_b") === col("e2.doc_a"))
      .join(e.as("e3"),
        col("e3.doc_a") === col("e1.doc_a") &&
          col("e3.doc_b") === col("e2.doc_b"))
      .count()
    assert(tri == 1L, s"expected exactly 1 triangle, got $tri")
  }

  test("knn graph never pairs vectors across label blocks") {
    // the catalog entry now emits the gated summary row; the label
    // invariant is a property of the underlying triple graph, so test
    // the dispatched graph API directly
    val g = graft.similarity.Knn.graphTopKDispatch(
      Tables.embeddings(spark, sf), 3).graph
    val labels = Tables.embeddings(spark, sf).select(
      col("vec_id").as("id"), col("label"))
    val crossBlock = g
      .join(labels.withColumnRenamed("id", "vec_id")
        .withColumnRenamed("label", "la"), "vec_id")
      .join(labels.withColumnRenamed("id", "neighbor_id")
        .withColumnRenamed("label", "lb"), "neighbor_id")
      .filter(col("la") =!= col("lb"))
      .count()
    assert(crossBlock == 0L, s"$crossBlock cross-label neighbor pairs")
  }

  test("shared pair-graph memo is keyed by sfDir, not leaked across corpora") {
    // pair counts are NOT monotone in SF (28 at sf0.001 vs 25 at sf0.01 —
    // duplicate density differs per corpus), which is exactly what makes
    // the round trip a leak detector: if the memo ignored its key, the
    // third call would return the second corpus's frame
    val first = Dedup.sharedPairs(spark, "/root/testdata/sf0.001").count()
    val other = Dedup.sharedPairs(spark, "/root/testdata/sf0.01").count()
    assert(first != other, "corpora coincide; leak check is vacuous")
    assert(Dedup.sharedPairs(spark, "/root/testdata/sf0.001").count() == first)
  }

  test("KS statistic separates a shifted distribution from an identical one") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    def ks(df: org.apache.spark.sql.DataFrame): Double = {
      val perVal = df.groupBy("v")
        .agg(count(when(col("g") === "a", 1)).as("c0"),
          count(when(col("g") === "b", 1)).as("c1"))
      val w = Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = perVal.withColumn("cum0", sum("c0").over(w))
        .withColumn("cum1", sum("c1").over(w))
      val tot = cum.agg(max("cum0").as("n0"), max("cum1").as("n1"))
      cum.crossJoin(tot)
        .agg(max(abs(col("cum0").cast("double") / col("n0")
          - col("cum1").cast("double") / col("n1"))))
        .head.getDouble(0)
    }
    val same = ((1 to 50).map(i => (i % 10, "a")) ++
      (1 to 50).map(i => (i % 10, "b"))).toDF("v", "g")
    val shifted = ((1 to 50).map(i => (i % 10, "a")) ++
      (1 to 50).map(i => (i % 10 + 5, "b"))).toDF("v", "g")
    assert(ks(same) == 0.0, "identical samples must give KS 0")
    assert(ks(shifted) >= 0.5, s"shift of half the range: KS ${ks(shifted)}")
  }

  test("incremental CC merges a cross-batch duplicate into the base cluster") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, base), (2L, base + " iota"),             // base cluster {1,2}
      (500L, base + " kappa"),                      // batch doc joins it
      (501L, "unrelated words that form their own separate batch content"),
      (502L, "unrelated words that form their own separate batch material"))
      .toDF("doc_id", "text")
    val b = docs.filter(col("doc_id") < 400)
    val batch = docs.filter(col("doc_id") >= 400)
    val baseLabels = graft.dedup.Clusters.connectedComponents(
      Dedup.ngramJaccardPairs(b, 0.5)
        .select(col("doc_a").as("src"), col("doc_b").as("dst")))
    val merged = graft.dedup.Clusters.connectedComponents(
      baseLabels.select(col("doc_id").as("src"), col("cluster_rep").as("dst"))
        .unionByName(Dedup.ngramJaccardProbe(b, batch, 0.5)
          .select(col("doc_a").as("src"), col("doc_b").as("dst")))
        .unionByName(Dedup.ngramJaccardPairs(batch, 0.5)
          .select(col("doc_a").as("src"), col("doc_b").as("dst"))))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged(500L) == 1L, s"batch doc should join cluster 1: $merged")
    assert(merged(501L) == 501L && merged(502L) == 501L,
      s"batch-internal pair should form its own cluster: $merged")
  }

  test("shared hot-shingle set makes incremental CC equal the full recompute above the df cap") {
    import spark.implicits._
    // The regime the round-5 caveat was about: a boilerplate header in
    // 5 base + 5 batch docs. Full-corpus df = 10 > cap 8, but each
    // slice alone sees df = 5 <= 8 — so per-slice hot sets KEEP the
    // boilerplate (pairing every header doc), while the full recompute
    // drops it. The shared full-corpus hot set must close that gap.
    val boiler = (1 to 20).map(i => s"b$i").mkString(" ")
    val tail = (1 to 60).map(i => s"t$i").mkString(" ")
    val baseDocs = (1 to 5).map(i => (i.toLong, s"$boiler u${i}a u${i}b")) ++
      Seq((11L, tail))
    val batchDocs = (1 to 5).map(i => (500L + i, s"$boiler v${i}a v${i}b")) ++
      Seq((510L, s"$tail extra1 extra2"),
        (511L, "own cluster alpha beta gamma delta epsilon zeta"),
        (512L, "own cluster alpha beta gamma delta epsilon eta"))
    val docs = (baseDocs ++ batchDocs).toDF("doc_id", "text")
    val base = docs.filter(col("doc_id") < 400)
    val batch = docs.filter(col("doc_id") >= 400)
    val (frac, cap) = (0.01, 8L)
    // the cap actually engages on the full corpus...
    assert(Dedup.hotShingles(docs, frac, cap).count() > 0, "cap never engaged")
    // ...and a per-slice hot set really would diverge (boilerplate
    // pairs inside the base that the full recompute does not emit)
    val fullPairs = Dedup.ngramJaccardPairs(docs, 0.5, frac, cap)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sliceOnly = Dedup.ngramJaccardPairs(base, 0.5, frac, cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((sliceOnly -- fullPairs).nonEmpty,
      "per-slice threshold did not diverge; corpus does not exercise the fix")
    // incremental path with ONE full-corpus hot set, exactly as the
    // cc_incremental catalog entry composes it
    val hotAll = Some(Dedup.hotShingles(docs, frac, cap).localCheckpoint(true))
    val baseLabels = graft.dedup.Clusters.connectedComponents(
      Dedup.ngramJaccardPairs(base, 0.5, frac, cap, hotSet = hotAll)
        .select(col("doc_a").as("src"), col("doc_b").as("dst")))
    val updateEdges = baseLabels
      .select(col("doc_id").as("src"), col("cluster_rep").as("dst"))
      .unionByName(Dedup.ngramJaccardProbe(base, batch, 0.5, frac, cap,
        hotSet = hotAll)
        .select(col("doc_a").as("src"), col("doc_b").as("dst")))
      .unionByName(Dedup.ngramJaccardPairs(batch, 0.5, frac, cap,
        hotSet = hotAll)
        .select(col("doc_a").as("src"), col("doc_b").as("dst")))
    val incremental = graft.dedup.Clusters.connectedComponents(updateEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scratch = graft.dedup.Clusters.connectedComponents(
      Dedup.ngramJaccardPairs(docs, 0.5, frac, cap)
        .select(col("doc_a").as("src"), col("doc_b").as("dst")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every vertex the full recompute clusters must land in the SAME
    // component incrementally (incremental may add singleton base
    // labels; those are filtered by the catalog entry's incidence join)
    assert(scratch.forall { case (id, rep) => incremental.get(id).contains(rep) },
      s"diverged: scratch=$scratch incremental=$incremental")
  }

  test("weighted sample over-represents long documents") {
    val docs = Tables.documents(spark, sf)
    val corpusMean = docs.agg(avg("n_chars")).head.getDouble(0)
    val sampleMean = SparkEntry.queries("weighted_sample")(spark, sf)
      .agg(avg("n_chars")).head.getDouble(0)
    assert(sampleMean > corpusMean,
      s"sample mean $sampleMean not above corpus mean $corpusMean")
  }
}
