package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The corpus generator's modes share one copy loop per table family:
  * `full` must emit exactly what the single-table modes emit, the
  * generators must be deterministic, and already-scaled input must be
  * refused before anything is written.
  */
class GenScaleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val out =
    java.nio.file.Files.createTempDirectory("graft-genscale").toString

  private def gen(args: String*): Unit = GenScale.run(spark, args.toArray)

  private def rows(dir: String, t: String): Map[Seq[Any], Int] =
    spark.read.parquet(s"$dir/$t.parquet").collect()
      .map(_.toSeq.map {
        case a: scala.collection.Seq[_] => a.toList
        case v => v
      }).groupBy(identity).map { case (r, rs) => r -> rs.length }

  test("full mode's documents and embeddings equal docs and plain vec mode") {
    gen("full", TestSpark.sf, s"$out/full", "2")
    gen("docs", TestSpark.sf, s"$out/docs", "2")
    gen("vec", TestSpark.sf, s"$out/vec", "2")
    val docs = rows(s"$out/full", "documents")
    assert(docs.values.sum ==
      2 * spark.read.parquet(s"${TestSpark.sf}/documents.parquet").count())
    assert(docs == rows(s"$out/docs", "documents"))
    assert(rows(s"$out/full", "embeddings") == rows(s"$out/vec", "embeddings"))
    assert(rows(s"$out/full", "region") == rows(TestSpark.sf, "region"))
  }

  test("permuteTokens keeps the token multiset; copy 0 is the identity") {
    val texts = Seq("a b c d e f g h i j k l m", "one two", "solo",
      "the quick brown fox jumps over the lazy dog again and again")
    def bag(t: String) = t.split(" ").toSeq.groupBy(identity)
      .map { case (w, ws) => w -> ws.size }
    for (t <- texts) {
      assert(GenScale.permuteTokens(t, 0) == t)
      for (c <- 1 to 14) {
        val p = GenScale.permuteTokens(t, c)
        // copies >= 10 tag every 5th token with "~<copy>"
        val untagged = p.split(" ").map(_.stripSuffix(s"~$c")).mkString(" ")
        assert(bag(untagged) == bag(t), s"copy $c of '$t'")
        if (c < 10) assert(!p.contains("~"))
      }
    }
    assert(GenScale.permuteTokens(texts.head, 1) != texts.head)
  }

  test("two zipf runs give the same rows") {
    gen("zipf", TestSpark.sf, s"$out/zipf1", "300")
    gen("zipf", TestSpark.sf, s"$out/zipf2", "300")
    val a = rows(s"$out/zipf1", "documents")
    // 300 docs plus one planted sibling per 50
    assert(a.values.sum == 306)
    assert(a == rows(s"$out/zipf2", "documents"))
    assert(rows(s"$out/zipf1", "lineitem") == rows(TestSpark.sf, "lineitem"))
  }

  test("slice keeps the doc_id residue and falls back for embeddings") {
    gen("docs", TestSpark.sf, s"$out/docs3", "3")
    gen("slice", s"$out/docs3", s"$out/slice", "7", TestSpark.sf)
    def ids(df: DataFrame) = df.select("doc_id").collect().map(_.getLong(0)).toSet
    val src = ids(spark.read.parquet(s"$out/docs3/documents.parquet"))
    assert(ids(spark.read.parquet(s"$out/slice/documents.parquet")) ==
      src.filter(_ % 7 == 0))
    assert(rows(s"$out/slice", "embeddings") == rows(TestSpark.sf, "embeddings"))
  }

  test("already-scaled input is refused before anything is written") {
    gen("full", TestSpark.sf, s"$out/once", "2")
    val e = intercept[IllegalArgumentException](
      gen("full", s"$out/once", s"$out/twice", "2"))
    assert(e.getMessage.contains("already-scaled"))
    assert(!new java.io.File(s"$out/twice").exists())
    intercept[IllegalArgumentException](
      gen("vec", s"$out/once", s"$out/twice", "2"))
    intercept[IllegalArgumentException](gen("bogus", "a", "b"))
  }
}
