package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Packing, Relational4}

/** The distributed global-order helpers (range-repartition +
  * per-partition window + driver-collected offset maps) must be
  * bit-for-bit equal to the single-partition window formulations they
  * replace — they are what keeps rfm_segments / vocab_coverage /
  * corpus_shuffle / pack_sequences off a one-reducer sort. Each check
  * compares against the global-window reference on the same data.
  */
class OrderStatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def randomRows(n: Int) = {
    import spark.implicits._
    // deterministic pseudo-random payload with DUPLICATE values (the
    // tiebreak column k is unique; v intentionally collides)
    (1 to n).map(i => (i.toLong, (i * 2654435761L % 97).toInt))
      .toDF("k", "v")
      .repartition(7)
  }

  test("withGlobalIndex equals global row_number across sizes") {
    for (n <- Seq(1, 5, 97, 1000)) {
      val df = randomRows(n)
      val got = Relational4.withGlobalIndex(df, Seq("v", "k"))
        .select("k", "rn")
      val want = df.withColumn("rn",
        row_number().over(Window.orderBy("v", "k")).cast("long"))
        .select("k", "rn")
      assert(got.collect().map(_.toSeq).toSet ==
        want.collect().map(_.toSeq).toSet, s"n=$n")
    }
  }

  test("withGlobalOrderStats prefix equals exclusive window prefix sum") {
    val df = randomRows(500).withColumn("w", (col("v") % 13).cast("long"))
    val got = Packing.withGlobalOrderStats(df, Seq("v", "k"), "w")
      .select("k", "rn", "prefix")
    val base = Window.orderBy("v", "k")
    val want = df
      .withColumn("rn", row_number().over(base).cast("long"))
      .withColumn("prefix",
        coalesce(sum("w").over(
          base.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("k", "rn", "prefix")
    assert(got.collect().map(_.toSeq).toSet ==
      want.collect().map(_.toSeq).toSet)
  }

  test("withGlobalPrefixSums carries several value columns in one pass") {
    val df = randomRows(300)
      .withColumn("w1", (col("v") % 7).cast("long"))
      .withColumn("w2", (col("v") % 11).cast("long"))
    val got = Packing.withGlobalPrefixSums(df, Seq("v", "k"),
      Seq("w1", "w2")).select("k", "prefix_w1", "prefix_w2")
    val base = Window.orderBy("v", "k")
      .rowsBetween(Window.unboundedPreceding, -1)
    val want = df
      .withColumn("prefix_w1", coalesce(sum("w1").over(base), lit(0L)))
      .withColumn("prefix_w2", coalesce(sum("w2").over(base), lit(0L)))
      .select("k", "prefix_w1", "prefix_w2")
    assert(got.collect().map(_.toSeq).toSet ==
      want.collect().map(_.toSeq).toSet)
  }

  test("ntileFromRank reproduces ntile exactly, including ragged buckets") {
    // n % k != 0 (ragged), n == k, n < k (rank = bucket), k = 1
    for ((n, k) <- Seq((64, 5), (65, 5), (5, 5), (3, 5), (100, 7), (10, 1))) {
      val df = randomRows(n)
      val ranked = Relational4.withGlobalIndex(df, Seq("v", "k"))
        .crossJoin(broadcast(
          randomRows(n).agg(count(lit(1)).as("_n"))))
      val got = ranked
        .select(col("k"), Packing.ntileFromRank(col("rn"), col("_n"), k)
          .as("bucket"))
      val want = df.select(col("k"),
        ntile(k).over(Window.orderBy("v", "k")).as("bucket"))
      assert(got.collect().map(_.toSeq).toSet ==
        want.collect().map(_.toSeq).toSet, s"n=$n k=$k")
    }
  }

  test("AssetMemo caches per key, rebuilds only on eviction") {
    import spark.implicits._
    val memo = new AssetMemo[org.apache.spark.sql.DataFrame]
    var builds = 0
    def frame(tag: String) = {
      builds += 1
      Seq(tag).toDF("t")
    }
    val a1 = memo.getOrBuild(spark, "a")(frame("a"))
    val a2 = memo.getOrBuild(spark, "a")(frame("a"))
    assert(a1 eq a2)
    assert(builds == 1, "second lookup of the same corpus must not rebuild")
    // nine corpora overflow the bound of 8 by one: the least recently
    // used ("a") is evicted, the other eight stay cached
    val keys = "a" +: (1 to 8).map(i => s"k$i")
    keys.foreach(k => memo.getOrBuild(spark, k)(frame(k)))
    assert(builds == 9)
    keys.tail.foreach(k => memo.getOrBuild(spark, k)(frame(k)))
    assert(builds == 9, "the eight most recent corpora must stay cached")
    memo.getOrBuild(spark, "a")(frame("a"))
    assert(builds == 10, "an evicted corpus must rebuild on next access")
  }
}
