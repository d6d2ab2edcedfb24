package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.dedup.Dedup
import graft.similarity.Knn

/** Semantics checks for the sketch-based ops that have no SQL oracle:
  * LSH families must recall the exact-computation results.
  */
class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  private def docs = Tables.documents(spark, sf)
  private def embs = Tables.embeddings(spark, sf)

  test("minhash candidates recall high-jaccard exact pairs, precision 1 after verify") {
    val exact = Dedup.ngramJaccardPairs(docs, 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.minhashPairs(docs, 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // verification step makes every reported pair a true >=0.5 pair
    assert(mh.subsetOf(exact), s"false positives: ${mh -- exact}")
    // 32x4 banding: expected recall ~0.87 at j=0.5, ~1.0 at j>=0.8
    val strong = Dedup.ngramJaccardPairs(docs, 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val strongRecall = if (strong.isEmpty) 1.0
      else (strong & mh).size.toDouble / strong.size
    assert(strongRecall >= 0.95, s"strong-pair recall $strongRecall")
  }

  test("containment catches a planted snippet that Jaccard structurally misses") {
    import spark.implicits._
    // doc 1 = 30 distinct words embedded verbatim inside doc 2's 300
    // words: containment(1 ⊆ 2) = 1.0, Jaccard ≈ 28/298 ≈ 0.09
    val snippet = (1 to 30).map(i => s"w$i").mkString(" ")
    val filler = (100 to 370).map(i => s"f$i").mkString(" ")
    val planted = Seq(
      (1L, snippet, "s", snippet.length.toLong),
      (2L, s"$filler $snippet", "s", 1L),
      (3L, (500 to 560).map(i => s"z$i").mkString(" "), "s", 1L))
      .toDF("doc_id", "text", "source", "n_chars")
    val cont = Dedup.containmentPairs(planted, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(cont.toSeq == Seq((1L, 2L, 1.0)),
      s"expected exactly the directed (1 ⊆ 2) pair, got ${cont.toSeq}")
    val jac = Dedup.ngramJaccardPairs(planted, 0.5).count()
    assert(jac == 0, "Jaccard at 0.5 must NOT pair the snippet — " +
      "that asymmetry is the reason containment_pairs exists")
  }

  test("containment budget dispatch: LSH path agrees with exact on near-symmetric pairs") {
    // budget 0 forces the LSH branch on the same corpus the exact
    // branch (default budget) handles losslessly; on this corpus every
    // qualifying pair is near-symmetric (J >= ~0.64), where 64x2
    // banding has recall 1 - (1-J^2)^64 ~ 1, so the two plans must
    // produce the identical directed pair set.
    val exact = Dedup.containmentPairs(docs, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = Dedup.containmentPairs(docs, 0.8, candidateBudget = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lsh.subsetOf(exact),
      s"LSH emitted non-exact pairs: ${lsh -- exact}")
    assert(lsh == exact,
      s"LSH missed near-symmetric pairs: ${exact -- lsh}")
    // and the dispatcher itself: the planted high-asymmetry snippet of
    // the previous test sits below any real budget, so default budget
    // must keep the lossless plan (the snippet pair J≈0.09 is exactly
    // what the LSH branch documents as its asymmetric recall trade)
  }

  test("a degraded window-stride run emits only exact containment pairs") {
    import spark.implicits._
    // doc 1 (60 words) sits inside doc 2's 360; docs 3 and 4 are the same
    // 240 words; docs 5 and 6 share nothing. Their window mass at the
    // base stride 16 is 79, so a budget of 30 degrades the stride to 64
    val words = (p: String, n: Int) => (1 to n).map(i => s"$p$i").mkString(" ")
    val snippet = words("s", 60)
    val planted = Seq(
      (1L, snippet),
      (2L, s"${words("f", 150)} $snippet ${words("g", 150)}"),
      (3L, words("d", 240)), (4L, words("d", 240)),
      (5L, words("u", 240)), (6L, words("v", 240)))
      .map { case (id, t) => (id, t, "s", t.length.toLong) }
      .toDF("doc_id", "text", "source", "n_chars")
    val budget = 30L
    val stride = Dedup.windowStrideOf(planted, 16, budget)
    assert(stride >= 32, s"budget $budget kept stride $stride")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val degraded = pairs(Dedup.containmentPairsLsh(planted, 0.8, windowMassBudget = budget))
    // the run used that rung: it equals the run whose BASE stride it is
    assert(degraded == pairs(Dedup.containmentPairsLsh(planted, 0.8, windowStride = stride)))
    val exact = pairs(Dedup.containmentPairs(planted, 0.8))
    assert(exact.contains((1L, 2L, 1.0)) && exact.contains((3L, 4L, 1.0)))
    assert(degraded.nonEmpty && degraded.subsetOf(exact),
      s"pairs the exact path does not emit: ${degraded -- exact}")
  }

  test("embedding pairs budget dispatch: LSH branch catches planted dups, precision 1") {
    import spark.implicits._
    // the gate corpora have ZERO qualifying pairs at 0.99, so plant:
    // v2 = exact copy of v1 (identical signature -> guaranteed recall),
    // v3 = v1 with one slightly perturbed dim (cos > 0.99), v4 far away
    val base = Array.tabulate(64)(i => (math.sin(i + 1) * 0.5).toFloat)
    val near = base.clone(); near(0) = near(0) + 0.01f
    val far = Array.tabulate(64)(i => (math.cos(3 * i + 2) * 0.5).toFloat)
    val planted = Seq(
      (1L, base, 0), (2L, base.clone(), 0), (3L, near, 0), (4L, far, 0),
      (5L, far.clone(), 1)) // different label: must NOT pair with 4
      .toDF("vec_id", "embedding", "label")
    val exact = Dedup.embeddingPairs(planted, 0.99)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingPairs(planted, 0.99, pairBudget = 0L)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.contains((1L, 2L)) && exact.contains((1L, 3L)),
      s"exact missing planted pairs: $exact")
    assert(!exact.exists(p => p._1 == 4L || p._2 == 4L),
      "label blocking must keep 4 and 5 apart")
    assert(lsh.subsetOf(exact), s"LSH false positives: ${lsh -- exact}")
    assert(lsh.contains((1L, 2L)),
      "identical vectors share every signature table - LSH cannot miss them")
  }

  test("simhash pairs are symmetric-free, within hamming bound, and catch exact dups") {
    val pairs = Dedup.simhashPairs(docs).collect()
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getInt(2) <= 3)
    }
    // exact text duplicates must have hamming 0 and therefore appear
    val exactDups = docs.as("a").join(docs.as("b"),
      col("a.text") === col("b.text") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exactDups.subsetOf(got),
      s"missed exact dups: ${exactDups -- got}")
  }

  test("knn_lsh reranked results are a subset of brute-force with decent recall") {
    val q = embs.filter(col("vec_id") < 10)
    val brute = Knn.bruteForce(q, embs, 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Knn.lsh(q, embs, 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.3, s"LSH recall@3 = $recall (${Knn.LshTables} " +
      s"tables x ${graft.functions.HashOps.HyperplaneBits / Knn.LshTables} bits)")
    assert(lsh.size <= brute.size)
  }

  test("fingerprints detect shared long substrings") {
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog again and again today"
    val b = "PREFIX " + a + " SUFFIX" // contains a verbatim
    val c = "completely different content with no overlap whatsoever here okay"
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
      .select(col("doc_id"), graft.functions.HashOps.fingerprint(col("text")).as("fp"))
    val fps = df.collect().map(r => r.getLong(0) ->
      r.getSeq[Long](1).toSet).toMap
    assert((fps(1L) & fps(2L)).nonEmpty, "overlapping docs share no fingerprints")
    assert((fps(1L) & fps(3L)).isEmpty || (fps(1L) & fps(3L)).size < fps(1L).size / 4)
  }

  test("winnow_fp through SQL equals HashOps.fingerprint on the corpus") {
    GraftExtensions.register(spark)
    docs.createOrReplaceTempView("winnow_docs")
    val viaSql = spark.sql(
      "SELECT doc_id, winnow_fp(text) AS fp FROM winnow_docs")
    val viaApi = docs.select(col("doc_id"),
      graft.functions.HashOps.fingerprint(col("text")).as("fp"))
    def byDoc(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val api = byDoc(viaApi)
    assert(api.nonEmpty && api.valuesIterator.exists(_.nonEmpty),
      "the corpus yields no fingerprints; test premise broken")
    assert(byDoc(viaSql) == api)
  }

  test("hot-shingle df cap bounds candidate pairs from boilerplate") {
    import spark.implicits._
    // 40 docs that share ONLY a 20-token boilerplate header (plus 2
    // unique tokens each) — every pair hits jaccard 18/22 ≈ 0.82
    // through the boilerplate alone — and one genuine near-dup pair
    // (41, 42) sharing a 60-token unique tail.
    val boiler = (1 to 20).map(i => s"b$i").mkString(" ")
    val tail = (1 to 60).map(i => s"t$i").mkString(" ")
    val small = (1 to 40).map(i => (i.toLong, s"$boiler u${i}a u${i}b"))
    val big = Seq((41L, s"$boiler $tail"), (42L, s"$boiler $tail"))
    val docs = (small ++ big).toDF("doc_id", "text")
    // cap disabled: the hot boilerplate shingles generate all C(40,2)
    // pairs — the quadratic blowup the cap exists to stop
    val uncapped = Dedup.ngramJaccardPairs(docs, 0.5,
      hotDfFrac = 1.0, minDfCap = Long.MaxValue).count()
    assert(uncapped == 40L * 39 / 2 + 1, s"uncapped = $uncapped")
    // cap on (df > max(5, 1%)): boilerplate shingles (df=42) leave
    // candidate generation; only the genuine near-dup pair survives,
    // scored on its non-hot shingles (60/96 = 0.625)
    val capped = Dedup.ngramJaccardPairs(docs, 0.5,
      hotDfFrac = 0.01, minDfCap = 5).collect()
    assert(capped.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((41L, 42L)),
      s"capped = ${capped.mkString(",")}")
    assert(math.abs(capped.head.getDouble(2) - 0.625) < 1e-9)
  }

  test("minhash band-bucket cap drops oversized buckets, keeps small ones") {
    import spark.implicits._
    // 10 byte-identical docs (identical signatures → they share a
    // size-10 bucket in EVERY band) plus one isolated near-dup pair
    // whose buckets are size 2. With the cap below 10 the identical
    // family's buckets are all dropped — no candidate survives from
    // them in ANY band — while the pair's size-2 buckets are kept.
    val same = (1 to 10).map(i =>
      (i.toLong, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    val tail = (1 to 40).map(i => s"w$i").mkString(" ")
    val pair = Seq((21L, s"$tail start"), (22L, s"$tail end"))
    val docsDf = (same ++ pair).toDF("doc_id", "text")
    val capped = Dedup.minhashPairs(docsDf, 0.5, bandCap = 5L)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((21L, 22L)), s"capped = $capped")
    // default cap (256) never engages on this corpus: all C(10,2)
    // identical pairs plus the near-dup pair come back
    val open = Dedup.minhashPairs(docsDf, 0.5).count()
    assert(open == 10L * 9 / 2 + 1, s"open = $open")
  }

  test("incremental probe equals full pairing restricted to base×batch") {
    import spark.implicits._
    val base = docs.filter(col("doc_id") < 400)
    val batch = docs.filter(col("doc_id") >= 400)
    val probe = Dedup.ngramJaccardProbe(base, batch, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.ngramJaccardPairs(docs, 0.5)
      .filter(col("doc_a") < 400 && col("doc_b") >= 400)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probe == full, s"probe diff: ${(probe -- full) ++ (full -- probe)}")
    // planted: an incoming doc copying an indexed doc's text must be
    // caught even when its id ordering is reversed (probe pairs are
    // (base, new), never id-ordered)
    val b2 = Seq((10L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val in2 = Seq((3L, "alpha beta gamma delta epsilon zeta eta theta xx"))
      .toDF("doc_id", "text")
    val got = Dedup.ngramJaccardProbe(b2, in2, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == 1 && got.head._1 == 10L && got.head._2 == 3L &&
      got.head._3 > 0.7, s"planted probe: ${got.mkString(",")}")
  }

  test("connected components merges chains transitively") {
    import spark.implicits._
    // a-b, b-c, plus isolated pair d-e: expect {1,2,3}->1 and {8,9}->8
    val edges = Seq((1L, 2L), (2L, 3L), (8L, 9L)).toDF("src", "dst")
    val got = graft.dedup.Clusters.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 8L -> 8L, 9L -> 8L))
  }

  test("approx_count_distinct within 5% of exact") {
    val ev = Tables.events(spark, sf)
    val approx = ev.agg(approx_count_distinct(col("user_id")).as("a"))
      .head.getLong(0).toDouble
    val exact = ev.agg(countDistinct(col("user_id")).as("e"))
      .head.getLong(0).toDouble
    assert(math.abs(approx - exact) / exact <= 0.05,
      s"approx $approx vs exact $exact")
  }

  test("topk aggregate equals window top-k on every group") {
    val o = Tables.orders(spark, sf)
    val viaAgg = SparkEntry.queries("topk_agg")(spark, sf)
      .collect().map(_.toString).toSeq
    val viaWindow = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      o.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
        .select(col("o_orderstatus"), col("rk"), col("o_orderkey"),
          col("o_totalprice"))
        .orderBy("o_orderstatus", "rk").collect().map(_.toString).toSeq
    }
    assert(viaAgg == viaWindow)
  }

  test("ivf search recalls most brute-force neighbors at nprobe=4/16") {
    val emb = embs
    val q = emb.filter(col("vec_id") < 10)
    val (assigned, centers) = graft.similarity.Ivf.index(emb, nlist = 16)
    val ivf = graft.similarity.Ivf.search(assigned, centers, q, 3, nprobe = 4)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Knn.bruteForce(q, emb, 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall@3 = $recall")
  }

  test("int8-quantized top-k recalls almost all exact neighbors") {
    val q = embs.filter(col("vec_id") < 10)
    val brute = Knn.bruteForce(q, embs, 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = SparkEntry.queries("knn_quantized")(spark, sf)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & quant).size.toDouble / brute.size
    assert(recall >= 0.8, s"quantized recall@3 = $recall")
  }

  test("custom CosineTopK plan equals brute-force composition") {
    val q = embs.filter(col("vec_id") < 10)
    val custom = graft.plans.CosineTopK.topK(embs, q, 3)
      .withColumn("cosine", round(col("cosine"), 4))
      .collect().map(_.toString).sorted.toSeq
    val brute = Knn.bruteForce(q, embs, 3)
      .withColumn("rank", col("rank").cast("int"))
      .collect().map(_.toString).sorted.toSeq
    assert(custom == brute)
  }

  test("embedding pairs: cosine is symmetric and self-cosine is 1") {
    import graft.functions.VectorOps
    val e = embs.limit(50)
    val selfCos = e.select(VectorOps.cosine(col("embedding"), col("embedding")).as("c"))
      .agg(min("c"), max("c")).head
    assert(math.abs(selfCos.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(selfCos.getDouble(1) - 1.0) < 1e-12)
  }

  test("exact multiplicity histogram counts hash occurrence classes") {
    import spark.implicits._
    val docs = Seq(
      (1L, "copy one"), (2L, "copy one"), (3L, "copy one"), // 3x
      (4L, "pair text"), (5L, "pair text"),                 // 2x
      (6L, "unique text")                                   // 1x
    ).toDF("doc_id", "text")
    val hist = docs
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(count(lit(1)).as("n_copies"))
      .groupBy("n_copies").agg(count(lit(1)).as("n_hashes"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(hist == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("band profile: identical docs collide in every band, uniques may not") {
    import spark.implicits._
    val same = (1 to 30).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (1L, same), (2L, same), (3L, same), // identical triple
      (4L, (1 to 30).map(i => s"u$i").mkString(" ")),
      (5L, (1 to 30).map(i => s"v$i").mkString(" "))
    ).toDF("doc_id", "text")
    val rows = graft.dedup.Dedup.bandProfile(docs).collect()
    assert(rows.length == 32)
    rows.foreach { r =>
      val (mx, collided, pairs) = (r.getLong(2), r.getLong(3), r.getLong(4))
      // the identical triple shares every signature, hence every band
      assert(mx >= 3L, s"band ${r.getInt(0)}: max bucket $mx")
      assert(collided >= 3L)
      assert(pairs >= 3L) // C(3,2) from the triple alone
      // 5 docs can never produce more than C(5,2) candidates in a band
      assert(pairs <= 10L)
    }
  }
  test("window-grid stride ladder selects integer-exact rungs") {
    import graft.dedup.Dedup.windowStrideFor
    // below budget: base stride kept (estimated mass (m-d)*16/s + d)
    assert(windowStrideFor(1000L, 100L, 16, 2000L) == 16)
    // each doubling halves the excess-window term until it fits
    assert(windowStrideFor(3900L, 100L, 16, 2000L) == 32)
    assert(windowStrideFor(7700L, 100L, 16, 2000L) == 64)
    assert(windowStrideFor(15300L, 100L, 16, 2000L) == 128)
    // past the last checked rung: pin the deepest (base * 16)
    assert(windowStrideFor(100000L, 100L, 16, 2000L) == 256)
    // more docs than budget: unsatisfiable at any stride -> deepest
    assert(windowStrideFor(5000L, 3000L, 16, 2000L) == 256)
    // all-short corpus (every doc one window): mass == d, always fits
    assert(windowStrideFor(500L, 500L, 16, 600L) == 16)
  }
}
