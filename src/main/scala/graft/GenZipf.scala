package graft

/** Deterministic ZIPF-SPARSE twin corpus generator (round-8 verdict
  * item 3): every decade conclusion so far comes from GenScale's
  * saturated-vocabulary corpus — the adversarial dense-df regime where
  * Σ df·(df−1) goes quadratic and LSH is the right plan. Real web-crawl
  * text is the OPPOSITE regime: Zipf-distributed token frequencies, a
  * vocabulary that grows with the corpus (Heaps), median shingle df ~ 1
  * — where the lossless inverted-index pair graph is cheap and the
  * budget dispatcher must KEEP it. This main emits that regime so the
  * dispatch rule is measured on both sides.
  *
  * `GenZipf <smallTablesSrcDir> <dstDir> <nDocs>`
  *
  * Token model: rank r = ⌊V^u⌋ with u uniform from a seeded murmur hash
  * of (doc_id, position) — the inverse-CDF of Zipf(s=1) over a V = 3e6
  * rank vocabulary (P(rank ≤ x) = ln x / ln V). Expected token df is
  * T/(r·ln V), so a handful of head ranks are hot (the df cap's job)
  * and the 3-gram shingle spectrum is df ≈ 1–2 almost everywhere —
  * Σ df·(df−1) stays far under the pair budget and grows ~linearly
  * with the corpus, unlike the dense twin.
  *
  * Planted near-dup families: every 50th doc gets ONE sibling at
  * doc_id + 1e8 with every 15th token substituted. Each substitution
  * flips the ~3 3-gram shingles that cover it, so ~3/15 = 20% of each
  * side's shingles differ and the expected shingle Jaccard is
  * ≈ 0.8/1.2 ≈ 0.63 — a real margin over the 0.5 threshold (the
  * round-9 every-10th rate worked out to ≈ 0.7/1.3 ≈ 0.54, thin enough
  * that duplicate-shingle effects could push planted pairs under the
  * cut, and the doc's "≈ 0.7" claim forgot the union denominator).
  * ~n/50 true pairs exist for the graph to find (an empty-output run
  * would prove only that nothing was looked for); treat the count as a
  * floor to DERIVE from the exact graph (count pairs with
  * doc_b = doc_a + 1e8), not to assert — boundary shingle effects at
  * short docs can still shave individual pairs. Everything is a pure
  * function of (doc_id, pos) — no RNG state, no timestamps — so the
  * corpus is reproducible bit-for-bit.
  *
  * The non-document tables are copied through from `smallTablesSrcDir`
  * (point it at sf0.01) so the standard Verify/check_oracle harness
  * runs unchanged against the generated directory.
  */
object GenZipf {

  private val V = 3000000.0
  private val OFF = 100000000L

  /** Deterministic uniform in [0,1) from (doc_id, pos). */
  private def u01(docId: Long, pos: Int): Double = {
    val h = scala.util.hashing.MurmurHash3.productHash(
      (docId, pos), 0x2545f491)
    ((h >>> 8).toDouble) / (1 << 24).toDouble
  }

  private def token(docId: Long, pos: Int): String = {
    val r = math.min(V, math.max(1.0, math.pow(V, u01(docId, pos)))).toLong
    "w" + r
  }

  def docText(docId: Long): String = {
    val n = 40 + (math.abs(scala.util.hashing.MurmurHash3
      .productHash(Tuple1(docId), 0x9e3779b9)) % 360)
    (0 until n).map(p => token(docId, p)).mkString(" ")
  }

  /** The sibling of a % 50 == 0 doc: same token stream, every 15th
    * position substituted with a tagged variant (expected shingle
    * Jaccard ≈ 0.63 — see the object doc).
    */
  def siblingText(docId: Long): String = {
    val toks = docText(docId).split(" ")
    toks.indices.map(i =>
      if (i % 15 == 0) toks(i) + "~z" else toks(i)).mkString(" ")
  }

  case class Doc(doc_id: Long, text: String, lang: String, source: String,
      n_chars: Long)

  private val langs = Array("en", "de", "fr", "es", "it")
  private val sources = Array("crawl_a", "crawl_b", "crawl_c", "feed_x")

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val nDocs = if (args.length > 2) args(2).toLong else 50000L
    val spark = SparkEntry.session(
        s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]", 32)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // small dims/facts copied through so the oracle harness finds its
    // views; the Zipf regime lives entirely in `documents`
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "embeddings")) {
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }

    val docs = spark.range(0L, nDocs, 1L, 32).as[Long].flatMap { id =>
      val t = docText(id)
      val base = Doc(id, t, langs((id % langs.length).toInt),
        sources((id % sources.length).toInt), t.length.toLong)
      if (id % 50 == 0L) {
        val st = siblingText(id)
        Seq(base, Doc(id + OFF, st, base.lang, base.source, st.length.toLong))
      } else Seq(base)
    }
    docs.toDF().write.mode("overwrite").parquet(s"$dst/documents.parquet")
    println(s"[genzipf] documents: " +
      s"${spark.read.parquet(s"$dst/documents.parquet").count()} rows")
    spark.stop()
  }
}
