package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The benchmark's own arithmetic: percentiles, the tail rule, span self
  * time and the order-independent fingerprint the output checks compare.
  * Kept free of workload code so it can be tested on its own.
  */
object Stats {

  /** Nearest-rank percentile of a non-empty sample (p in 0..100). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(rank(s.length, p) - 1)
  }

  /** 1-based nearest rank of percentile p among n samples. */
  private def rank(n: Int, p: Double): Int =
    math.min(n, math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt))

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Percentiles a tail is chosen from, lowest first. */
  val tailLadder: Seq[Double] = Seq(50, 75, 90, 95, 99, 99.9)

  /** A tail reading: the percentile chosen, its value, and how many
    * samples lie beyond it. */
  final case class Tail(percentile: Double, value: Double, beyond: Int, n: Int)

  /** The highest ladder percentile that still has at least `minBeyond`
    * samples beyond it, or None when even the median has fewer. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Option[Tail] = {
    val s = xs.sorted
    val n = s.length
    tailLadder.reverse.iterator.map { p =>
      val r = rank(n, p)
      Tail(p, if (n == 0) Double.NaN else s(r - 1), n - r, n)
    }.find(t => t.n > 0 && t.beyond >= minBeyond)
  }

  /** Length of the union of half-open intervals [start, end). */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach {
      case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part of it that its
    * children cover, each covered instant counted once. */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children.map { case (s, e) =>
      (math.max(s, start), math.min(e, end)) }
    (end - start) - unionLength(clipped)
  }

  /** Row count and an order-independent multiset hash of a frame: the sum
    * of a 64-bit row hash over every column in name order, summed as a
    * decimal so it cannot overflow. Equal multisets give equal pairs; a
    * dropped, added or altered row changes the pair. */
  final case class Fingerprint(rows: Long, hash: java.math.BigDecimal)

  def fingerprintCol(df: DataFrame): org.apache.spark.sql.Column =
    xxhash64(df.columns.sorted.map(c => df.col(s"`$c`")).toIndexedSeq: _*)
      .cast("decimal(20,0)")

  def fingerprint(df: DataFrame): Fingerprint = {
    val r = df.agg(count(lit(1)), coalesce(sum(fingerprintCol(df)),
      lit(0).cast("decimal(30,0)"))).head()
    Fingerprint(r.getLong(0), r.getDecimal(1))
  }
}
