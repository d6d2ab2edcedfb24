package graft

/** Documents-only corpus scaler (round-12 verdict item 4): writes an
  * N× copy of ONLY a testdata directory's `documents.parquet`, using
  * the IDENTICAL per-copy token-permutation scheme as [[GenScale]]'s
  * documents path ([[GenScale.permuteTokens]]: prime-stride bijections,
  * copy-tagged substitution for copies ≥ 10) — so a deep documents
  * corpus has the same statistical family as the committed sf1/sf10
  * decade steps, at none of the lineitem/orders disk cost.
  *
  * Exists to convert BANDCAP_SWEEP.json's ~4.1×/decade projected
  * admitted-mass growth under the 256 band-bucket cap into a MEASURED
  * rung: `GenScaleDocs /root/testdata/sf0.1 data/sfXXd 200` produces a
  * 1M-doc corpus (1000 → 5M, the full next decade) that
  * was profiled with one signature pass (BANDCAP_DECADE.json; the
  * profiling main is retired, see BENCH.md "Retired diagnostic mains").
  */
object GenScaleDocs {

  private val OFF = 100000000L

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = SparkEntry.session(
        s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]", 32)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    import GenScale.Doc

    val docs = spark.read.parquet(s"$src/documents.parquet").as[Doc]
    // same id-offset collision guard as GenScaleVec (round-12 advice
    // item 4): scaling already-scaled output would emit duplicate
    // doc_ids with different text
    val maxId = docs.agg(org.apache.spark.sql.functions.max("doc_id"))
      .head().getLong(0)
    require(maxId < OFF,
      s"source max doc_id = $maxId >= $OFF: the per-copy id offset " +
        "would collide — scale from an ORIGINAL testdata directory, " +
        "not from already-scaled output")

    (0 until copies).map { c =>
      docs.map { d =>
        if (c == 0) d
        else {
          val t = GenScale.permuteTokens(d.text, c)
          Doc(d.doc_id + c.toLong * OFF, t, d.lang, d.source, t.length.toLong)
        }
      }
    }.reduce(_ unionAll _).toDF()
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    val out = spark.read.parquet(s"$dst/documents.parquet")
    println(s"[genscaledocs] documents: ${out.count()} rows " +
      s"(${copies}x of $src)")
    spark.stop()
  }
}
