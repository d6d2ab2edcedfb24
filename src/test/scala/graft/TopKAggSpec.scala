package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{BoundedHeap, BoundedHeapAgg, BottomKByLongKey,
  TopKAgg, TopKByScore, TopKFreshByScore}

/** Unit + end-to-end specs for the bounded-heap
  * TypedImperativeAggregates behind NN-descent's round merge (round-11
  * advice item 2: the exact-equivalence claim vs the old row_number
  * windows previously rested solely on the offline whole-graph-hash
  * artifact — serialize round-trips, cross-partition dedup, and
  * tie-breaking had no in-repo guard). The unit cases drive each
  * aggregate's own update/merge/eval over its one [[BoundedHeap]]; the
  * "…Buffer" names are those of the per-aggregate buffers the heap
  * replaced.
  */
class TopKAggSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // aggregates bound to input rows (payload, score|key, fresh)
  private val p0 = BoundReference(0, LongType, nullable = false)
  private val s1 = BoundReference(1, DoubleType, nullable = false)
  private val k1 = BoundReference(1, LongType, nullable = false)
  private val f2 = BoundReference(2, BooleanType, nullable = false)

  /** One aggregation buffer of `agg`, fed and read through the
    * aggregate itself.
    */
  private class Run(val agg: BoundedHeapAgg) {
    var buf: BoundedHeap = agg.createAggregationBuffer()
    def insert(vs: Any*): Unit = buf = agg.update(buf, InternalRow(vs: _*))
    def out: Seq[Any] = agg.eval(buf).asInstanceOf[GenericArrayData].array.toSeq
  }
  private class Top(k: Int) extends Run(TopKByScore(p0, s1, k)) {
    def sortedDesc: Seq[(Long, Double)] = out.map {
      case r: InternalRow => (r.getLong(0), r.getDouble(1))
    }
  }
  private class Fresh(k: Int) extends Run(TopKFreshByScore(p0, s1, f2, k)) {
    def sortedDesc: Seq[(Long, Double, Boolean)] = out.map {
      case r: InternalRow => (r.getLong(0), r.getDouble(1), r.getBoolean(2))
    }
  }
  private class Bottom(k: Int) extends Run(BottomKByLongKey(p0, k1, k)) {
    def sortedAsc: Seq[Long] = out.map(_.asInstanceOf[Long])
  }

  // ---- heap-level units ---------------------------------------------

  test("TopKBuffer keeps the k best by (score desc, payload asc)") {
    val b = new Top(3)
    Seq((1L, 0.5), (2L, 0.9), (3L, 0.1), (4L, 0.7), (5L, 0.9))
      .foreach { case (p, s) => b.insert(p, s) }
    // ties at 0.9: payload 2 beats payload 5; 0.1 evicted
    assert(b.sortedDesc == Seq((2L, 0.9), (5L, 0.9), (4L, 0.7)))
  }

  test("TopKFreshBuffer ANDs fresh across duplicate copies, keeps one") {
    val b = new Fresh(4)
    b.insert(7L, 0.8, true)
    b.insert(7L, 0.8, false) // re-discovery: fresh collapses to false
    b.insert(8L, 0.6, true)
    b.insert(8L, 0.6, true) // duplicate with same flag: no change
    assert(b.sortedDesc == Seq((7L, 0.8, false), (8L, 0.6, true)))
  }

  test("TopKFreshBuffer rejects a contract-violating duplicate score") {
    val b = new Fresh(4)
    b.insert(7L, 0.8, true)
    val ex = intercept[IllegalStateException](b.insert(7L, 0.81, true))
    assert(ex.getMessage.contains("contract violation"))
    assert(ex.getMessage.contains("scores 0.8 and 0.81"))
  }

  test("TopKFreshBuffer eviction respects (score desc, payload asc)") {
    val b = new Fresh(2)
    b.insert(1L, 0.5, true)
    b.insert(2L, 0.5, true) // tie: payload 1 beats 2
    b.insert(3L, 0.5, true) // loses the tie to both — not inserted
    assert(b.sortedDesc == Seq((1L, 0.5, true), (2L, 0.5, true)))
    b.insert(4L, 0.9, false) // evicts payload 2 (the worst)
    assert(b.sortedDesc == Seq((4L, 0.9, false), (1L, 0.5, true)))
  }

  test("BottomKBuffer keeps the k smallest (key asc, payload asc)") {
    val b = new Bottom(2)
    Seq((10L, 5L), (11L, 1L), (12L, 5L), (13L, 0L))
      .foreach { case (p, k) => b.insert(p, k) }
    // keys 0 and 1 win; key-5 ties never reached
    assert(b.sortedAsc == Seq(13L, 11L))
  }

  test("BottomKBuffer is exact above 2^53 (the reason it's long-keyed)") {
    val b = new Bottom(1)
    val base = (1L << 60)
    b.insert(1L, base + 1L)
    b.insert(2L, base) // differs only below double precision
    assert(b.sortedAsc == Seq(2L))
  }

  test("TopKBuffer heap matches the full-sort reference at k=1024") {
    // round-12 verdict item 5: the lazy worst-at-root heap must select
    // the IDENTICAL set as a full sort at the k the old replace-min
    // scan degraded at, across the fill→heapify transition and dense
    // score ties (score quantized to 997 levels forces tie-breaking
    // through the payload order)
    val k = 1024
    val rnd = new scala.util.Random(20260816L)
    val b = new Top(k)
    val all = (0 until 50000).map { _ =>
      (rnd.nextLong(), rnd.nextInt(997) / 996.0)
    }
    all.foreach { case (p, s) => b.insert(p, s) }
    val expect = all
      .sortWith((x, y) => x._2 > y._2 || (x._2 == y._2 && x._1 < y._1))
      .take(k)
    assert(b.sortedDesc == expect)
  }

  test("BottomKBuffer heap matches the full-sort reference at k=1024") {
    val k = 1024
    val rnd = new scala.util.Random(8102602L)
    val b = new Bottom(k)
    val all = (0 until 50000).map { i => (i.toLong, rnd.nextLong() >>> 16) }
    all.foreach { case (p, kk) => b.insert(p, kk) }
    val expect = all
      .sortWith((x, y) => x._2 < y._2 || (x._2 == y._2 && x._1 < y._1))
      .take(k).map(_._1)
    assert(b.sortedAsc == expect)
  }

  test("TopKFreshBuffer heap+fast-reject matches the dedup-sort reference") {
    // dup-heavy contract-honoring stream (payload determines score, so
    // duplicates always carry identical scores): the kept set must be
    // the deduped top-k by (score desc, payload asc) with AND'd flags,
    // for sizes spanning the fill→heapify transition and k=1024
    for (k <- Seq(3, 48, 1024)) {
      val rnd = new scala.util.Random(k * 7919L)
      val b = new Fresh(k)
      val n = 30000
      val stream = (0 until n).map { _ =>
        val p = rnd.nextInt(2000).toLong // dense payload collisions
        (p, ((p * 2654435761L) % 9973L).toDouble / 9973.0, rnd.nextBoolean())
      }
      stream.foreach { case (p, s, f) => b.insert(p, s, f) }
      val expect = stream.groupBy(_._1).map { case (p, es) =>
        (p, es.head._2, es.forall(_._3))
      }.toSeq.sortBy(e => (-e._2, e._1)).take(k)
      assert(b.sortedDesc == expect)
    }
  }

  test("score keys rank ±0.0, ±∞, subnormals and ties like a plain sort") {
    // the whole contract of BoundedHeap.scoreKey: (key asc, payload asc)
    // selects exactly what a sort on (score desc, payload asc) with `==`
    // ties does, and eval returns each score bit-identical, except
    // that -0.0 (a tie of +0.0 under `==`) comes back as +0.0
    val specials = Seq(0.0, -0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.MinPositiveValue,
      -Double.MinPositiveValue, 2.2250738585072009e-308, // largest subnormal
      -2.2250738585072009e-308, java.lang.Double.MIN_NORMAL, Double.MaxValue,
      Double.MinValue, 1.0, -1.0, 0.5)
    val rnd = new scala.util.Random(20261019L)
    val all = (0 until 20000).map { i =>
      val s =
        if (rnd.nextInt(4) > 0) specials(rnd.nextInt(specials.size))
        else { // any non-NaN double; the specials supply the ties
          val d = java.lang.Double.longBitsToDouble(rnd.nextLong())
          if (d.isNaN) 0.25 else d
        }
      (i.toLong * 7919L % 20011L, s)
    }
    val ref = all
      .sortWith((x, y) => x._2 > y._2 || (x._2 == y._2 && x._1 < y._1))
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    for (k <- Seq(1, 10, 1024)) {
      val b = new Top(k)
      all.foreach { case (p, s) => b.insert(p, s) }
      val got = b.sortedDesc
      val expect = ref.take(k)
      assert(got.map(_._1) == expect.map(_._1))
      got.zip(expect).foreach { case ((_, g), (_, e)) =>
        assert(bits(g) == bits(if (e == 0.0) 0.0 else e), s"$g vs $e")
      }
    }
    // the key alone: strictly order-reversing on distinct scores, and a
    // bit-identical round trip for every score but -0.0
    val distinct = (specials ++ all.map(_._2)).filter(bits(_) != bits(-0.0))
      .distinct.sorted(Ordering.Double.TotalOrdering)
    val keys = distinct.map(BoundedHeap.scoreKey)
    assert(keys.zip(keys.tail).forall { case (a, b) => a > b })
    distinct.foreach { d =>
      assert(bits(BoundedHeap.keyScore(BoundedHeap.scoreKey(d))) == bits(d))
    }
    assert(BoundedHeap.scoreKey(-0.0) == BoundedHeap.scoreKey(0.0))
  }

  test("the aggregates refuse k outside 1..1024") {
    intercept[IllegalArgumentException](TopKByScore(p0, s1, 0))
    intercept[IllegalArgumentException](TopKFreshByScore(p0, s1, f2, 1025))
    intercept[IllegalArgumentException](BottomKByLongKey(p0, k1, -1))
  }

  // ---- serialize/deserialize round-trips ----------------------------

  test("TopKByScore serialize/deserialize round-trips a full buffer") {
    val b = new Top(4)
    Seq((1L, 0.9), (2L, -0.8), (3L, Double.NegativeInfinity), (4L, 0.9),
      (5L, Double.MinPositiveValue), (6L, 1e300))
      .foreach { case (p, s) => b.insert(p, s) }
    val back = new Top(4)
    back.buf = b.agg.deserialize(b.agg.serialize(b.buf))
    assert(back.sortedDesc == b.sortedDesc)
    assert(back.sortedDesc ==
      Seq((6L, 1e300), (1L, 0.9), (4L, 0.9), (5L, Double.MinPositiveValue)))
    // 4 bytes of size, then 16 bytes per entry: payload and long key
    assert(b.agg.serialize(b.buf).length == 4 + 4 * 16)
  }

  test("TopKFreshByScore serialize/deserialize round-trips a full buffer") {
    val b = new Fresh(5)
    Seq((1L, 0.9, true), (2L, 0.8, false), (3L, 0.7, true),
      (4L, 0.6, false), (5L, 0.5, true))
      .foreach { case (p, s, f) => b.insert(p, s, f) }
    val agg = b.agg
    assert(agg.serialize(b.buf).length == 4 + 5 * 17)
    val back = new Fresh(5)
    back.buf = agg.deserialize(agg.serialize(b.buf))
    assert(back.sortedDesc == b.sortedDesc)
    // merging the round-trip into a live buffer ANDs flags, not dupes
    val live = new Fresh(5)
    live.insert(1L, 0.9, false)
    live.buf = agg.merge(live.buf, back.buf)
    assert(live.sortedDesc.head == ((1L, 0.9, false)))
    assert(live.buf.size == 5)
  }

  test("BottomKByLongKey serialize/deserialize round-trips a full buffer") {
    val b = new Bottom(3)
    val agg = b.agg
    Seq((1L, 30L), (2L, 10L), (3L, 20L))
      .foreach { case (p, k) => b.insert(p, k) }
    val back = new Bottom(3)
    back.buf = agg.deserialize(agg.serialize(b.buf))
    assert(back.sortedAsc == Seq(2L, 3L, 1L))
  }

  // ---- end-to-end: duplicate payloads split across partitions -------

  test("topKFresh over partition-split duplicates matches the window twin") {
    import spark.implicits._
    // groups of (grp, payload, score, fresh): payload 100 appears in
    // BOTH halves of the input with fresh=true and fresh=false — after
    // repartition(8) the copies land in different partitions, so the
    // dedup-AND must survive partial-buffer merges
    val rows = (0 until 50).flatMap { i =>
      val grp = i % 5
      // every row has a fresh=true copy; only i < 10 adds a false
      // re-discovery copy, so the expected output mixes flags
      Seq((grp, 100L + i % 7, (i % 7) / 10.0, true)) ++
        (if (i < 10) Seq((grp, 100L + i % 7, (i % 7) / 10.0, false))
         else Nil)
    }
    val df = rows.toDF("grp", "payload", "score", "fresh").repartition(8)
    val got = df.groupBy("grp")
      .agg(TopKAgg.topKFresh(col("payload"), col("score"),
        col("fresh"), 3).as("top"))
      .select(col("grp"), explode(col("top")).as("e"))
      .select(col("grp"), col("e.payload"), col("e.score"), col("e.fresh"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3))).toSet
    // window twin: dedup payloads (fresh = AND), then top-3 by
    // (score desc, payload asc) — the formulation the aggregate replaced
    val twin = rows.groupBy(r => (r._1, r._2)).map { case ((g, p), cs) =>
      (g, p, cs.head._3, cs.forall(_._4))
    }.groupBy(_._1).flatMap { case (_, es) =>
      es.toSeq.sortBy(e => (-e._3, e._2)).take(3)
    }.toSet
    assert(got == twin)
  }

  test("topK and bottomKByKey agree with sort-based twins across partitions") {
    import spark.implicits._
    val rows = (0 until 200).map { i =>
      (i % 4, i.toLong, ((i * 37) % 100) / 100.0, ((i * 2654435761L) ^ i))
    }
    val df = rows.toDF("grp", "payload", "score", "hkey").repartition(7)
    val gotTop = df.groupBy("grp")
      .agg(TopKAgg.topK(col("payload"), col("score"), 5).as("t"))
      .select(col("grp"), explode(col("t")).as("e"))
      .select(col("grp"), col("e.payload")).as[(Int, Long)]
      .collect().toSet
    val twinTop = rows.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      es.sortBy(e => (-e._3, e._2)).take(5).map(e => (e._1, e._2))
    }.toSet
    assert(gotTop == twinTop)
    val gotBot = df.groupBy("grp")
      .agg(TopKAgg.bottomKByKey(col("payload"), col("hkey"), 5).as("t"))
      .select(col("grp"), explode(col("t")).as("payload"))
      .as[(Int, Long)].collect().toSet
    val twinBot = rows.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      es.sortBy(e => (e._4, e._2)).take(5).map(e => (e._1, e._2))
    }.toSet
    assert(gotBot == twinBot)
  }
}
