package graft

/** Embeddings-only corpus scaler (round-11 verdict item 2): writes an
  * N× copy of ONLY a testdata directory's `embeddings.parquet`, using
  * the identical id-offset + dimension-rotation scheme as
  * [[GenScale]]'s vector path — norms and intra-copy pairwise cosines
  * are bit-preserved, cross-copy similarity decorrelates, labels keep
  * their cardinality, so mean label-block size grows linearly with the
  * copy count.
  *
  * Exists because the `knn_graph` auto-K rule's sf100 rung
  * (n̄_label ≈ 200k → kInternal = 48) was measured only at sf10 SHAPE
  * (n̄ ≈ 20k); generating the documents/lineitem side of a true sf100
  * corpus costs tens of GB for nothing — the k-NN graph touches only
  * vectors (~0.5 GB at 2M × 64 dims). `GenScaleVec <srcDir> <dstDir>
  * [N] [--decorrelate] [--labels=2,8]` produces a directory
  * Tables.embeddings can read directly.
  *
  * `--decorrelate` (round-12 verdict item 2): the plain rotation has
  * only `dim` distinct variants per source vector (64 here), so a
  * 1000× block is exact-duplicate-dense — each vector has ~15
  * cosine-1.0 mates, the EASY recall geometry. This mode composes the
  * rotation with per-copy deterministic sign flips per dimension
  * (splitmix64 of (copy, dim) — still rand-free, bit-reproducible):
  * each copy is an independent signed permutation of the source block,
  * so intra-copy pairwise cosines stay bit-preserved (σᵢ² = 1 and
  * multiplying a float by ±1 is exact) while cross-copy cosines
  * decorrelate to the corpus noise floor (σ ≈ 1/√dim) — a deep block
  * with sf10-like ~1-per-copy near-dup density: the HARD end of the
  * auto-K geometry bracket.
  *
  * `--labels=a,b` keeps only those label blocks (the deep-block
  * measurements need 2 decade-sized blocks, not 10 — the candidate
  * mass of the exact twin is what the host's scratch disk bounds).
  */
object GenScaleVec {

  private val OFF = 100000000L

  /** splitmix64-style deterministic ±1: the sign of dimension `i` in
    * copy `c` — no RNG state, a pure function of (c, i). */
  private def sign(c: Int, i: Int): Float = {
    var z = c.toLong * 0x9E3779B97F4A7C15L + (i.toLong + 1L) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^= z >>> 31
    if ((z & 1L) == 0L) 1f else -1f
  }

  def main(args: Array[String]): Unit = {
    val flags = args.filter(_.startsWith("--")).toSeq
    val pos = args.filterNot(_.startsWith("--"))
    val src = pos(0)
    val dst = pos(1)
    val copies = if (pos.length > 2) pos(2).toInt else 10
    val decorrelate = flags.contains("--decorrelate")
    val labelKeep: Option[Set[Int]] = flags
      .find(_.startsWith("--labels="))
      .map(_.drop("--labels=".length).split(",").map(_.trim.toInt).toSet)
    val spark = SparkEntry.session(
        s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]", 32)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    import GenScale.Emb

    val embsAll = spark.read.parquet(s"$src/embeddings.parquet").as[Emb]
    val embs = labelKeep match {
      case Some(ls) => embsAll.filter(e => ls.contains(e.label))
      case None     => embsAll
    }
    // empty-source guard (round-13 advice item 4): a label filter that
    // matches nothing (or an empty source) otherwise surfaces as a bare
    // NoSuchElementException from head() two jobs later, with no hint
    // that the label set was wrong
    val first = embs.take(1)
    require(first.nonEmpty,
      s"no embeddings in $src/embeddings.parquet" +
        labelKeep.map(ls =>
          s" after --labels=${ls.toSeq.sorted.mkString(",")} " +
            "(check the label set against the source)").getOrElse(""))
    // id-offset collision guard (round-12 advice item 4): re-running
    // the scaler on its own output (vec_ids already ≥ OFF) would emit
    // duplicate vec_ids carrying DIFFERENT embeddings — a silently
    // corrupt corpus. Fail loudly instead.
    val maxId = embs.agg(org.apache.spark.sql.functions.max("vec_id"))
      .head().getLong(0)
    require(maxId < OFF,
      s"source max vec_id = $maxId >= $OFF: the per-copy id offset " +
        "would collide — scale from an ORIGINAL testdata directory, " +
        "not from already-scaled output")
    val dim = first.head.embedding.length
    if (!decorrelate && copies > dim)
      System.err.println(s"[genscalevec] WARNING: $copies copies > $dim " +
        "dims — the plain rotation repeats with period " + dim +
        ", so copies beyond it are EXACT duplicates (duplicate-dense " +
        "easy geometry); pass --decorrelate for independent copies")

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
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    val out = spark.read.parquet(s"$dst/embeddings.parquet")
    println(s"[genscalevec] embeddings: ${out.count()} rows " +
      s"(${copies}x of $src" +
      (if (decorrelate) ", decorrelated" else "") +
      labelKeep.map(ls => s", labels ${ls.toSeq.sorted.mkString(",")}")
        .getOrElse("") + ")")
    spark.stop()
  }
}
