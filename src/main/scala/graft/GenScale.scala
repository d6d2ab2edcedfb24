package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic corpus generators for scale-step proofs, one main with
  * a mode per corpus shape:
  *
  * {{{
  * GenScale full  <srcDir> <dstDir> [N]   N× copy of every table
  * GenScale docs  <srcDir> <dstDir> [N]   N× copy of documents only
  * GenScale vec   <srcDir> <dstDir> [N] [--decorrelate] [--labels=a,b]
  *                                        N× copy of embeddings only
  * GenScale slice <srcDir> <dstDir> <mod> <smallTablesSrcDir>
  * GenScale zipf  <smallTablesSrcDir> <dstDir> [nDocs]
  * }}}
  *
  * `full`, `docs` and `vec` replicate. A scale step only catches
  * superlinear behavior if the scaled corpus keeps the ORIGINAL's
  * statistical shape instead of manufacturing a pathological one, so
  * the replication is structure-preserving:
  *
  *  - Every key column shifts by a global per-copy offset (one stride
  *    for ALL entities), so intra-copy referential integrity — every
  *    cross-table equi-join — survives verbatim, and copies never
  *    collide. Dimension tables (region, nation) are shared, as the
  *    real dims would be. Already-scaled input (an id ≥ the offset) is
  *    rejected: scaling it again would emit duplicate ids carrying
  *    different content.
  *  - Document text is word-permuted per copy ([[permuteTokens]]):
  *    token multisets, lengths, language/quality statistics are
  *    preserved, while shingle sets diverge — so each copy replicates
  *    the source's internal near-dup structure WITHOUT welding the
  *    copies into one giant cross-copy duplicate family (naive text
  *    replication would turn 10× data into 45 near-dup pairs per
  *    document and fake a quadratic pair blowup no honest 10× crawl
  *    would show; order-insensitive signatures like SimHash still
  *    bucket sibling copies, a bounded ≤(N choose 2)-per-doc family
  *    that stands in for a mirror/re-crawl population).
  *  - Embeddings rotate dimensions by the copy index: norms and all
  *    intra-copy pairwise cosines are bit-preserved, cross-copy
  *    similarity decorrelates, labels keep their cardinality.
  *
  * `docs` and `vec` write one table, at none of the lineitem/orders
  * disk cost: a deep documents corpus for the dedup band-cap
  * measurements, a deep embeddings block for the `knn_graph` auto-K
  * rungs (the k-NN graph touches only vectors). `vec --decorrelate`
  * composes the rotation with per-copy deterministic sign flips per
  * dimension ([[sign]]): the plain rotation has only `dim` distinct
  * variants per source vector, so a 1000× block is exact-duplicate-
  * dense (the EASY recall geometry); with the flips each copy is an
  * independent signed permutation of the source block, so intra-copy
  * cosines stay bit-preserved (multiplying a float by ±1 is exact)
  * while cross-copy cosines decorrelate to the noise floor
  * (σ ≈ 1/√dim) — the HARD end of the auto-K geometry bracket.
  * `--labels=a,b` keeps only those label blocks.
  *
  * `slice` carves a content-stable sub-corpus of a large documents
  * table — documents := src documents WHERE doc_id % mod = 0 (plain %,
  * consistent across engines) — so the murmur-chain oracle family,
  * DuckDB-infeasible at the full sf10 corpus, is hash-proven on
  * decade-shaped CONTENT. Embeddings are copied from src unchanged
  * (pair-consumer joins need the id space), or from
  * `smallTablesSrcDir` when src has none (`docs` output).
  *
  * `zipf` emits the Zipf-sparse twin of the saturated-vocabulary
  * corpus `full` scales: real web-crawl text has Zipf-distributed token
  * frequencies, a vocabulary that grows with the corpus (Heaps) and
  * median shingle df ~ 1 — where the lossless inverted-index pair graph
  * is cheap and the budget dispatcher must KEEP it. Token model: rank
  * r = ⌊V^u⌋ with u uniform from a seeded murmur hash of
  * (doc_id, position) — the inverse-CDF of Zipf(s=1) over a V = 3e6
  * rank vocabulary (P(rank ≤ x) = ln x / ln V). Expected token df is
  * T/(r·ln V), so a handful of head ranks are hot (the df cap's job)
  * and the 3-gram shingle spectrum is df ≈ 1–2 almost everywhere.
  * Planted near-dup families: every 50th doc gets ONE sibling at
  * doc_id + 1e8 with every 15th token substituted. Each substitution
  * flips the ~3 3-gram shingles that cover it, so ~20% of each side's
  * shingles differ and the expected shingle Jaccard is
  * ≈ 0.8/1.2 ≈ 0.63 — a real margin over the 0.5 threshold. Treat the
  * ~n/50 planted pairs as a floor to DERIVE from the exact graph (count
  * pairs with doc_b = doc_a + 1e8), not to assert — boundary shingle
  * effects at short docs can still shave individual pairs.
  *
  * `slice` and `zipf` copy the eight non-document tables through from
  * `smallTablesSrcDir` (point it at sf0.01), so the standard
  * Verify/check_oracle harness runs unchanged against the output; the
  * corpora are only MEANT for the documents-family keys.
  *
  * Everything is a pure function of (source row, copy index) or
  * (doc_id, position) — no RNG state, no timestamps — so every corpus
  * is reproducible bit-for-bit.
  */
object GenScale {

  private val OFF = 100000000L

  /** Every non-document table with the key columns `full` shifts. */
  private val keyedTables = Seq(
    "region" -> Nil, "nation" -> Nil,
    "customer" -> Seq("c_custkey"), "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"), "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"))
  private val smallTables = keyedTables.map(_._1)

  private val usage =
    "usage: GenScale full|docs <srcDir> <dstDir> [N] | " +
      "vec <srcDir> <dstDir> [N] [--decorrelate] [--labels=a,b] | " +
      "slice <srcDir> <dstDir> <mod> <smallTablesSrcDir> | " +
      "zipf <smallTablesSrcDir> <dstDir> [nDocs]"

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

  /** splitmix64-style deterministic ±1: the sign of dimension `i` in
    * copy `c` — no RNG state, a pure function of (c, i). */
  private def sign(c: Int, i: Int): Float = {
    var z = c.toLong * 0x9E3779B97F4A7C15L + (i.toLong + 1L) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^= z >>> 31
    if ((z & 1L) == 0L) 1f else -1f
  }

  case class Doc(doc_id: Long, text: String, lang: String, source: String,
      n_chars: Long)
  case class Emb(vec_id: Long, embedding: Array[Float], label: Int)

  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.session(
        s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]", 32)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args) finally spark.stop()
  }

  /** Runs one mode on `spark` (left running). */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val (flags, pos) = args.toSeq.partition(_.startsWith("--"))
    require(pos.length >= 3 && (flags.isEmpty || pos.head == "vec"), usage)
    val (mode, src, dst) = (pos(0), pos(1), pos(2))
    def arg(i: Int, default: Long) =
      if (pos.length > i) pos(i).toLong else default
    mode match {
      case "full"  => full(spark, src, dst, arg(3, 10).toInt)
      case "docs"  => docs(spark, src, dst, arg(3, 10).toInt)
      case "vec"   => vec(spark, src, dst, arg(3, 10).toInt, flags)
      case "slice" =>
        require(pos.length == 5, usage)
        slice(spark, src, dst, pos(3).toLong, pos(4))
      case "zipf"  => zipf(spark, src, dst, arg(3, 50000L))
      case _       => throw new IllegalArgumentException(usage)
    }
  }

  private def save(df: DataFrame, dst: String, t: String): Unit = {
    df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
    println(s"[genscale] $t: " +
      s"${df.sparkSession.read.parquet(s"$dst/$t.parquet").count()} rows")
  }

  private def copyThrough(spark: SparkSession, from: String, dst: String,
      tables: Seq[String]): Unit =
    tables.foreach(t => save(spark.read.parquet(s"$from/$t.parquet"), dst, t))

  /** Fails unless every `ids` column is below the per-copy offset. */
  private def requireOriginal(df: DataFrame, ids: Seq[String],
      src: String): Unit = {
    val maxes = df.agg(max(col(ids.head)).cast("long"),
      ids.tail.map(c => max(col(c)).cast("long")): _*).head()
    for ((c, i) <- ids.zipWithIndex if !maxes.isNullAt(i)) {
      val m = maxes.getLong(i)
      require(m < OFF,
        s"$src: max $c = $m >= $OFF: the per-copy id offset would " +
          "collide — scale from an ORIGINAL testdata directory, not " +
          "from already-scaled output")
    }
  }

  private def scaledDocs(docs: Dataset[Doc], copies: Int): DataFrame = {
    import docs.sparkSession.implicits._
    (0 until copies).map { c =>
      docs.map { d =>
        if (c == 0) d
        else {
          val t = permuteTokens(d.text, c)
          Doc(d.doc_id + c.toLong * OFF, t, d.lang, d.source, t.length.toLong)
        }
      }
    }.reduce(_ unionAll _).toDF()
  }

  private def scaledEmbs(embs: Dataset[Emb], copies: Int,
      decorrelate: Boolean): DataFrame = {
    import embs.sparkSession.implicits._
    (0 until copies).map { c =>
      embs.map { e =>
        if (c == 0) e
        else {
          val n = e.embedding.length
          val r = new Array[Float](n)
          var i = 0
          if (decorrelate)
            while (i < n) { r(i) = sign(c, i) * e.embedding((i + c) % n); i += 1 }
          else
            while (i < n) { r(i) = e.embedding((i + c) % n); i += 1 }
          Emb(e.vec_id + c.toLong * OFF, r, e.label)
        }
      }
    }.reduce(_ unionAll _).toDF()
  }

  private def full(spark: SparkSession, src: String, dst: String,
      copies: Int): Unit = {
    import spark.implicits._
    def load(t: String) = spark.read.parquet(s"$src/$t.parquet")
    val keyed = keyedTables ++
      Seq("documents" -> Seq("doc_id"), "embeddings" -> Seq("vec_id"))
    for ((t, keys) <- keyed if keys.nonEmpty)
      requireOriginal(load(t), keys, s"$src/$t.parquet")
    for ((t, keys) <- keyedTables) {
      val df = load(t)
      save(if (keys.isEmpty) df else (0 until copies).map { c =>
        keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(c.toLong * OFF)))
      }.reduce(_ unionAll _), dst, t)
    }
    save(scaledDocs(load("documents").as[Doc], copies), dst, "documents")
    save(scaledEmbs(load("embeddings").as[Emb], copies, decorrelate = false),
      dst, "embeddings")
  }

  private def docs(spark: SparkSession, src: String, dst: String,
      copies: Int): Unit = {
    import spark.implicits._
    val docs = spark.read.parquet(s"$src/documents.parquet").as[Doc]
    requireOriginal(docs.toDF(), Seq("doc_id"), s"$src/documents.parquet")
    save(scaledDocs(docs, copies).repartition(64), dst, "documents")
  }

  private def vec(spark: SparkSession, src: String, dst: String,
      copies: Int, flags: Seq[String]): Unit = {
    import spark.implicits._
    val decorrelate = flags.contains("--decorrelate")
    val labelKeep: Option[Set[Int]] = flags
      .find(_.startsWith("--labels="))
      .map(_.drop("--labels=".length).split(",").map(_.trim.toInt).toSet)
    val embsAll = spark.read.parquet(s"$src/embeddings.parquet").as[Emb]
    val embs = labelKeep match {
      case Some(ls) => embsAll.filter(e => ls.contains(e.label))
      case None     => embsAll
    }
    // a label filter that matches nothing (or an empty source) would
    // otherwise surface as a bare NoSuchElementException two jobs later
    val first = embs.take(1)
    require(first.nonEmpty,
      s"no embeddings in $src/embeddings.parquet" +
        labelKeep.map(ls =>
          s" after --labels=${ls.toSeq.sorted.mkString(",")} " +
            "(check the label set against the source)").getOrElse(""))
    requireOriginal(embs.toDF(), Seq("vec_id"), s"$src/embeddings.parquet")
    val dim = first.head.embedding.length
    if (!decorrelate && copies > dim)
      System.err.println(s"[genscale] WARNING: $copies copies > $dim " +
        "dims — the plain rotation repeats with period " + dim +
        ", so copies beyond it are EXACT duplicates (duplicate-dense " +
        "easy geometry); pass --decorrelate for independent copies")
    save(scaledEmbs(embs, copies, decorrelate), dst, "embeddings")
  }

  private def slice(spark: SparkSession, src: String, dst: String,
      m: Long, smallSrc: String): Unit = {
    copyThrough(spark, smallSrc, dst, smallTables)
    save(spark.read.parquet(s"$src/documents.parquet")
      .filter(col("doc_id") % m === 0), dst, "documents")
    val embSrc =
      if (new java.io.File(s"$src/embeddings.parquet").exists()) src
      else { println(s"[genscale] no embeddings in $src - copying " +
               s"from $smallSrc"); smallSrc }
    copyThrough(spark, embSrc, dst, Seq("embeddings"))
  }

  private val V = 3000000.0

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
    * position substituted with a tagged variant.
    */
  def siblingText(docId: Long): String = {
    val toks = docText(docId).split(" ")
    toks.indices.map(i =>
      if (i % 15 == 0) toks(i) + "~z" else toks(i)).mkString(" ")
  }

  private val langs = Array("en", "de", "fr", "es", "it")
  private val sources = Array("crawl_a", "crawl_b", "crawl_c", "feed_x")

  private def zipf(spark: SparkSession, smallSrc: String, dst: String,
      nDocs: Long): Unit = {
    import spark.implicits._
    copyThrough(spark, smallSrc, dst, smallTables :+ "embeddings")
    val docs = spark.range(0L, nDocs, 1L, 32).as[Long].flatMap { id =>
      val t = docText(id)
      val base = Doc(id, t, langs((id % langs.length).toInt),
        sources((id % sources.length).toInt), t.length.toLong)
      if (id % 50 == 0L) {
        val st = siblingText(id)
        Seq(base, Doc(id + OFF, st, base.lang, base.source, st.length.toLong))
      } else Seq(base)
    }
    save(docs.toDF(), dst, "documents")
  }
}
