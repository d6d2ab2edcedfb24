package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic corpus scaler: writes an N× copy of a testdata
  * directory for scale-step proofs (`GenScale <srcDir> <dstDir> [N]`).
  *
  * A scale step only catches superlinear behavior if the scaled corpus
  * keeps the ORIGINAL's statistical shape instead of manufacturing a
  * pathological one, so the replication is structure-preserving:
  *
  *  - Every key column shifts by a global per-copy offset (one stride
  *    for ALL entities), so intra-copy referential integrity — every
  *    cross-table equi-join — survives verbatim, and copies never
  *    collide. Dimension tables (region, nation) are shared, as the
  *    real dims would be.
  *  - Document text is word-permuted per copy (a per-copy prime-stride
  *    bijection over token positions): token multisets, lengths,
  *    language/quality statistics are preserved exactly, while shingle
  *    sets diverge — so each copy replicates the source's internal
  *    near-dup structure WITHOUT welding the copies into one giant
  *    cross-copy duplicate family (naive text replication would turn
  *    10× data into 45 near-dup pairs per document and fake a
  *    quadratic pair blowup no honest 10× crawl would show; order-
  *    insensitive signatures like SimHash still bucket sibling copies,
  *    a bounded ≤(N choose 2)-per-doc family that stands in for a
  *    mirror/re-crawl population).
  *  - Embeddings rotate dimensions by the copy index: norms and all
  *    intra-copy pairwise cosines are bit-preserved, cross-copy
  *    similarity decorrelates, labels keep their cardinality.
  *
  * Everything is a pure function of (source row, copy index) — no RNG,
  * no timestamps — so the scaled corpus is reproducible bit-for-bit.
  */
object GenScale {

  private val OFF = 100000000L

  private def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)

  /** Per-copy token permutation: stride k·i mod n with k the first
    * candidate prime (starting at copy c's slot) coprime to n — a
    * bijection, distinct across copies except for degenerate tiny or
    * prime-factor-dense token counts (bounded exact-dup families).
    */
  private val strides = Array(3, 7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43)

  def permuteTokens(text: String, c: Int): String = {
    if (c == 0) return text
    val toks = text.trim.split("\\s+").filter(_.nonEmpty)
    val n = toks.length
    if (n < 2) return text
    var i = 0
    var k = 1L
    while (i < strides.length && k == 1L) {
      val cand = strides((c - 1 + i) % strides.length)
      if (gcd(cand.toLong, n.toLong) == 1L) k = cand.toLong
      i += 1
    }
    val out = new Array[String](n)
    var j = 0
    while (j < n) { out(j) = toks(((j.toLong * k) % n).toInt); j += 1 }
    // Decade extension (round 8): the 12-stride family saturates past
    // ~12 copies — copies sharing a stride collapsed to IDENTICAL
    // text (measured at the first sf10 attempt: 99% exact-dup mass,
    // 48-copy identity families, which made every pair operator's
    // OUTPUT quadratic in the scale multiplier — a generator
    // artifact, not corpus growth). Copies ≥ 10 therefore substitute
    // every 5th token with a copy-tagged variant: same-stride copies
    // now differ, ≥3/5 of shingles touch a substituted position so
    // cross-copy Jaccard stays ≲ 0.25 (below every dedup threshold),
    // and vocabulary grows with corpus size (Heaps-like — the
    // saturated base vocabulary was exactly the adversarial df
    // density). Copies 0–9 are BIT-EXACT to the round-7 generator,
    // so data/sf1 and its committed proofs regenerate unchanged.
    if (c >= 10) {
      var j2 = c % 5
      while (j2 < n) { out(j2) = out(j2) + "~" + c; j2 += 5 }
    }
    out.mkString(" ")
  }

  case class Doc(doc_id: Long, text: String, lang: String, source: String,
      n_chars: Long)
  case class Emb(vec_id: Long, embedding: Array[Float], label: Int)

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = SparkEntry.session(
        s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]", 32)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def load(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def save(df: DataFrame, t: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[genscale] $t: ${spark.read.parquet(s"$dst/$t.parquet").count()} rows")
    }

    def replicate(df: DataFrame, keys: Seq[String]): DataFrame =
      (0 until copies).map { c =>
        keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(c.toLong * OFF)))
      }.reduce(_ unionAll _)

    save(load("region"), "region")
    save(load("nation"), "nation")
    save(replicate(load("customer"), Seq("c_custkey")), "customer")
    save(replicate(load("supplier"), Seq("s_suppkey")), "supplier")
    save(replicate(load("part"), Seq("p_partkey")), "part")
    save(replicate(load("orders"), Seq("o_orderkey", "o_custkey")), "orders")
    save(replicate(load("lineitem"),
      Seq("l_orderkey", "l_partkey", "l_suppkey")), "lineitem")
    save(replicate(load("events"), Seq("event_id", "user_id")), "events")

    val docs = load("documents").as[Doc]
    save((0 until copies).map { c =>
      docs.map { d =>
        if (c == 0) d
        else {
          val t = permuteTokens(d.text, c)
          Doc(d.doc_id + c.toLong * OFF, t, d.lang, d.source, t.length.toLong)
        }
      }
    }.reduce(_ unionAll _).toDF(), "documents")

    val embs = load("embeddings").as[Emb]
    save((0 until copies).map { c =>
      embs.map { e =>
        if (c == 0) e
        else {
          val n = e.embedding.length
          val r = new Array[Float](n)
          var i = 0
          while (i < n) { r(i) = e.embedding((i + c) % n); i += 1 }
          Emb(e.vec_id + c.toLong * OFF, r, e.label)
        }
      }
    }.reduce(_ unionAll _).toDF(), "embeddings")

    spark.stop()
  }
}
