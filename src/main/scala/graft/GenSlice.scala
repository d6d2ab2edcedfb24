package graft

import org.apache.spark.sql.functions._

/** Deterministic DECADE-SHAPE slice extractor (round-9 verdict item 4):
  * the murmur-chain oracle family (pair graph, minhash signatures,
  * their 20-odd downstream closures) is DuckDB-infeasible at the full
  * sf10 corpus, so those keys were hash-proven only at sf1-scale
  * shapes. This main carves a content-stable sub-corpus OF the sf10
  * documents — a pure id-residue filter both engines can replicate,
  * keeping GenScale's copy families and planted structures in
  * proportion — at a size where the full chain oracles run, so the
  * LSH-regime dispatch path is hash-proven on decade-shaped CONTENT
  * (vocabulary saturation, df spectrum, copy strides), not just on
  * smaller generated corpora.
  *
  * `GenSlice <srcDir> <dstDir> <mod> <smallTablesSrcDir>` —
  * documents := src documents WHERE doc_id % mod = 0 (plain %,
  * consistent across engines: only exact multiples land on 0 for
  * either sign); embeddings := copied from src unchanged
  * (pair-consumer joins need the id space); the eight non-document
  * tables := copied from `smallTablesSrcDir` (point it at sf0.01, the
  * GenZipf pattern) so the standard Verify/check_oracle harness runs
  * against the directory unchanged — the slice is only MEANT for the
  * documents-family keys.
  */
object GenSlice {

  def main(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: GenSlice <srcDir> <dstDir> <mod> <smallTablesSrcDir>")
    val (src, dst, m) = (args(0), args(1), args(2).toLong)
    val smallSrc = args(3)
    val spark = SparkEntry.session(
        s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]", 32)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events")) {
      spark.read.parquet(s"$smallSrc/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    spark.read.parquet(s"$src/documents.parquet")
      .filter(col("doc_id") % m === 0)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    // documents-only scale corpora (GenScaleDocs output, e.g.
    // data/sf20docs) carry no embeddings table; fall back to the
    // small-tables source so the standard harness still registers all
    // ten views — the slice is only meant for documents-family keys
    val embSrc =
      if (new java.io.File(s"$src/embeddings.parquet").exists()) src
      else { println(s"[genslice] no embeddings in $src - copying " +
               s"from $smallSrc"); smallSrc }
    spark.read.parquet(s"$embSrc/embeddings.parquet")
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    println(s"[genslice] documents: " +
      s"${spark.read.parquet(s"$dst/documents.parquet").count()} rows " +
      s"(mod $m of $src)")
    spark.stop()
  }
}
