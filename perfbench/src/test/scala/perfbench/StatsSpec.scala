package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[1]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "1")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("tail is the highest percentile with at least ten samples beyond it") {
    def tailOf(n: Int) = Stats.tail((1 to n).map(_.toDouble))
    assert(tailOf(19).isEmpty, "19 samples leave only 9 beyond the median")
    assert(tailOf(20).map(t => (t.percentile, t.value, t.beyond)).contains((50.0, 10.0, 10)))
    assert(tailOf(39).map(_.percentile).contains(50.0))
    assert(tailOf(40).map(t => (t.percentile, t.beyond)).contains((75.0, 10)))
    assert(tailOf(100).map(t => (t.percentile, t.value, t.beyond)).contains((90.0, 90.0, 10)))
    assert(tailOf(1000).map(t => (t.percentile, t.beyond)).contains((99.0, 10)))
    // order of the input does not matter
    assert(Stats.tail((1 to 100).reverse.map(_.toDouble)) == tailOf(100))
  }

  test("nearest-rank percentiles") {
    val xs = Seq(5.0, 1.0, 3.0, 2.0, 4.0)
    assert(Stats.median(xs) == 3.0)
    assert(Stats.percentile(xs, 100) == 5.0)
    assert(Stats.percentile(xs, 1) == 1.0)
  }

  test("self time counts overlapping children once") {
    // children cover [10, 60) and [90, 100) of the parent [0, 100)
    val children = Seq((10L, 40L), (30L, 60L), (35L, 50L), (90L, 120L))
    assert(Stats.unionLength(children) == 80L)
    assert(Stats.selfTime(0L, 100L, children) == 40L)
    assert(Stats.selfTime(0L, 100L, Nil) == 100L)
    assert(Stats.selfTime(0L, 100L, Seq((0L, 100L), (20L, 30L))) == 0L)
  }

  test("traced operations pair up, the traced one first in every other pair") {
    assert((0 until 8).map(Workload.tracedInPair) ==
      Seq(true, false, false, true, true, false, false, true))
    val ops = Seq(1.0, 2.0, 2.0, 1.0, 9.0).zipWithIndex.map { case (l, i) =>
      Op(l, Work(), 1, Workload.tracedInPair(i)) }
    // traced 1 + 1 over untraced 2 + 2; the unpaired fifth is left out
    assert(Workload.overheadFrac(ops) == -0.5)
  }

  test("a sink copy with one row dropped fails the sink check") {
    import spark.implicits._
    val rows = (1 to 50).map(i => (s"o$i", i % 7, if (i % 3 == 0) "2026" else "2027"))
    val expected = rows.toDF("order_id", "n", "year")
    val sink = spark.createDataFrame(rows.reverse).toDF("order_id", "n", "year")
    val dropped = sink.filter($"order_id" =!= "o17")
    def check(actual: org.apache.spark.sql.DataFrame) = Pipeline.mismatched(
      Map("orders" -> Stats.fingerprint(actual)), Map("orders" -> Stats.fingerprint(expected)))
    assert(check(sink).isEmpty, "row order must not matter")
    assert(check(dropped) == Seq("orders"))
    assert(check(sink.union(sink.limit(1))) == Seq("orders"), "a duplicated row must count")
    assert(check(sink.select($"order_id", ($"n" + 1).as("n"), $"year")) == Seq("orders"))
  }
}
