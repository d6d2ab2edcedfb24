package graft.functions

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Hash-sketch expressions for near-duplicate detection, implemented as
  * Catalyst expressions so the sketch computation happens inside the
  * scan stage (no UDF serialization, no Row boxing). All are
  * `CodegenFallback`: per-row cost is dominated by hashing every
  * shingle/token, so interpreted dispatch overhead is immaterial — the
  * hot loops below are still tight JVM primitives.
  *
  * Algorithms are the standard public constructions:
  *  - MinHash with Carter–Wegman double hashing (Broder 1997),
  *  - SimHash bit-voting (Charikar 2002),
  *  - winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003),
  *  - random-hyperplane LSH (Charikar 2002), planes derived from a
  *    seeded hash so they are deterministic across executors.
  */
object HashOps {

  private[functions] def hashUtf8(s: UTF8String, seed: Int): Int =
    MurmurHash3.bytesHash(s.getBytes, seed)

  /** Deterministic pseudo-random value in [-1, 1) for hyperplane
    * component (plane, dim) — same on every executor, no RNG state.
    */
  private[functions] def planeComponent(plane: Int, dim: Int): Double = {
    val h = MurmurHash3.productHash((plane, dim), 0x5bd1e995)
    (h.toDouble / Int.MaxValue.toDouble)
  }

  def minhash(shingles: Column, numHashes: Int): Column =
    column(MinHashSignature(expression(shingles), numHashes))

  /** 32-bit-wrapped minhash variant (see MinHashSignature scaladoc on
    * the envelope correlation the wrap removes). Kept as a separate
    * entry point so the established unwrapped oracles (dedup_minhash,
    * sql_minhash, minhash_band_profile) stay bit-identical.
    */
  def minhashW32(shingles: Column, numHashes: Int): Column =
    column(MinHashSignature(expression(shingles), numHashes, wrap32 = true))

  def simhash(tokens: Column): Column =
    column(SimHash64(expression(tokens)))

  /** Winnowing geometry: `WinnowK`-character grams, the minimum of
    * every `WinnowWindow` consecutive gram hashes kept.
    */
  final val WinnowK = 9
  final val WinnowWindow = 4

  def fingerprint(text: Column): Column =
    column(WinnowFingerprint(expression(text), WinnowK, WinnowWindow))

  /** Hyperplane signature geometry: `HyperplaneBits` planes (one sign
    * bit each, an int signature) over the first `HyperplaneDims`
    * vector components.
    */
  final val HyperplaneBits = 32
  final val HyperplaneDims = 64

  def hyperplaneSig(vec: Column): Column =
    column(HyperplaneSignature(expression(vec)))

  def wordShingles(text: Column, k: Int): Column =
    column(WordShingles(expression(text), k))

  def phash(blob: Column): Column = column(Phash64(expression(blob)))
}

/** array<string> shingles → array<long> of `numHashes` min-hash values.
  * Permutation i is `h1 + i*h2` over two murmur3 seeds (double hashing)
  * — 2 hashes per shingle regardless of signature width.
  *
  * `wrap32` (round 8): the unwrapped values max out at h1 + 127·h2 <
  * 2³⁹, far below the 63-bit mask, so each element's permuted value is
  * STRICTLY INCREASING in i — the signature is the lower envelope of n
  * lines, whose argmin switches at most n−1 times across all
  * permutations. For small sets that correlates every band (measured
  * at sf1: 85 of 14 701 true containment pairs with J up to 0.986, all
  * with ≤ 90 shingles, missed ALL 64 2-row bands). Masking each value
  * to 32 bits makes the lines wrap with a different stride per element,
  * decorrelating the per-permutation argmin (the standard 32-bit
  * Carter–Wegman construction). Default stays unwrapped: the committed
  * minhash-family DuckDB oracles replicate that arithmetic exactly.
  */
case class MinHashSignature(child: Expression, numHashes: Int,
    wrap32: Boolean = false)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = Array.fill[Long](numHashes)(Long.MaxValue)
    val mask = if (wrap32) 0xffffffffL else 0x7fffffffffffffffL
    var j = 0
    while (j < n) {
      val s = arr.getUTF8String(j)
      if (s != null) {
        val h1 = HashOps.hashUtf8(s, 0x9747b28c).toLong & 0xffffffffL
        val h2 = (HashOps.hashUtf8(s, 0x85ebca6b).toLong & 0xffffffffL) | 1L
        var i = 0
        while (i < numHashes) {
          val hv = (h1 + i.toLong * h2) & mask
          if (hv < mins(i)) mins(i) = hv
          i += 1
        }
      }
      j += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** array<string> tokens → 64-bit simhash (bit-vote over per-token
  * 64-bit hashes built from two murmur3 halves).
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var j = 0
    while (j < n) {
      val s = arr.getUTF8String(j)
      if (s != null) {
        val h = (HashOps.hashUtf8(s, 0x9747b28c).toLong << 32) |
          (HashOps.hashUtf8(s, 0x85ebca6b).toLong & 0xffffffffL)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      j += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** string → array<long> winnowing fingerprints: rolling hash over
  * character k-grams, min of each sliding window of `w` hashes, distinct
  * + sorted. Robust to local edits — two documents sharing runs of ≥
  * k+w-1 chars share fingerprints.
  */
case class WinnowFingerprint(child: Expression, k: Int, w: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[UTF8String].getBytes
    val n = bytes.length
    if (n < k) return new GenericArrayData(Array.empty[Long])
    // polynomial hash of every k-gram (n*k ops; k is small)
    val B = 257L
    val M = 0x7fffffffffffffL // 55-bit mask keeps multiplication exact
    val grams = new Array[Long](n - k + 1)
    var i = 0
    while (i <= n - k) {
      var g = 0L
      var j = 0
      while (j < k) { g = (g * B + (bytes(i + j) & 0xffL)) & M; j += 1 }
      grams(i) = g
      i += 1
    }
    // winnow: min of each window of w consecutive gram hashes
    val selected = scala.collection.mutable.SortedSet.empty[Long]
    val nw = grams.length - w + 1
    if (nw <= 0) selected += grams.min
    else {
      i = 0
      while (i < nw) {
        var m = Long.MaxValue
        var j = 0
        while (j < w) { if (grams(i + j) < m) m = grams(i + j); j += 1 }
        selected += m
        i += 1
      }
    }
    new GenericArrayData(selected.toArray)
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** array<float> → int signature of `HashOps.HyperplaneBits` sign-bits
  * against deterministic pseudo-random hyperplanes.
  */
case class HyperplaneSignature(child: Expression)
    extends UnaryExpression with CodegenFallback {
  import HashOps.{HyperplaneBits, HyperplaneDims}
  override def dataType: DataType = IntegerType

  // materialized once per executor (transient: rebuilt after deserialize)
  @transient private lazy val planes: Array[Array[Double]] =
    Array.tabulate(HyperplaneBits, HyperplaneDims)(HashOps.planeComponent)

  override def nullSafeEval(v: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    val n = math.min(vec.numElements(), HyperplaneDims)
    var sig = 0
    var p = 0
    while (p < HyperplaneBits) {
      val plane = planes(p)
      var dot = 0.0
      var i = 0
      while (i < n) {
        dot += vec.getFloat(i).toDouble * plane(i)
        i += 1
      }
      if (dot >= 0) sig |= (1 << p)
      p += 1
    }
    sig
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** binary blob → 63-bit DCT perceptual hash (classic pHash, Zauner 2010
  * construction): sample the blob to a 16×16 "luma" grid, apply a
  * separable 2-D DCT-II, keep the low-frequency 8×8 block, threshold
  * each non-DC coefficient against their median. Perceptually-similar
  * planes (small local edits, smooth noise) agree on most sign bits, so
  * equal hashes bucket near-identical images.
  *
  * ALL arithmetic is exact 64-bit integer: the DCT basis is a
  * fixed-point table (round(2^14·cos(π(2t+1)u/32)), literal constants —
  * the DuckDB oracle embeds the identical literals) and the median is
  * an order statistic (32nd smallest of 63), never an average — so the
  * hash is bit-identical across engines, partitionings, and platforms;
  * no libm call anywhere. Max |coefficient| ≤ 255·2^14·16·2^14·16 <
  * 2^45, far from Long overflow.
  *
  * The grid sampling (byte at index ⌊s·n/256⌋) is the documented
  * deterministic stand-in for a real image decode (Multimodal.StubCodec
  * holds the real javax.imageio path); on the all-ASCII gate corpora
  * the utf8 bytes coincide with the char codes the SQL oracle reads via
  * unicode(substring(...)). Empty blob → all-zero grid → hash 0.
  */
case class Phash64(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any =
    Phash64.hash(v.asInstanceOf[Array[Byte]])

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object Phash64 {
  /** round(2^14 · cos(π(2t+1)u/32)) for u ∈ 0..7, t ∈ 0..15. */
  private[functions] val K: Array[Array[Int]] = Array(
    Array(16384, 16384, 16384, 16384, 16384, 16384, 16384, 16384, 16384,
      16384, 16384, 16384, 16384, 16384, 16384, 16384),
    Array(16305, 15679, 14449, 12665, 10394, 7723, 4756, 1606, -1606,
      -4756, -7723, -10394, -12665, -14449, -15679, -16305),
    Array(16069, 13623, 9102, 3196, -3196, -9102, -13623, -16069, -16069,
      -13623, -9102, -3196, 3196, 9102, 13623, 16069),
    Array(15679, 10394, 1606, -7723, -14449, -16305, -12665, -4756, 4756,
      12665, 16305, 14449, 7723, -1606, -10394, -15679),
    Array(15137, 6270, -6270, -15137, -15137, -6270, 6270, 15137, 15137,
      6270, -6270, -15137, -15137, -6270, 6270, 15137),
    Array(14449, 1606, -12665, -15679, -4756, 10394, 16305, 7723, -7723,
      -16305, -10394, 4756, 15679, 12665, -1606, -14449),
    Array(13623, -3196, -16069, -9102, 9102, 16069, 3196, -13623, -13623,
      3196, 16069, 9102, -9102, -16069, -3196, 13623),
    Array(12665, -7723, -15679, 1606, 16305, 4756, -14449, -10394, 10394,
      14449, -4756, -16305, -1606, 15679, 7723, -12665))

  def hash(bytes: Array[Byte]): Long = {
    val n = bytes.length
    val lum = new Array[Int](256)
    if (n > 0) {
      var s = 0
      while (s < 256) { lum(s) = bytes((s * n) / 256) & 0xff; s += 1 }
    }
    // separable DCT, row pass: t(v*16+y) = Σ_x lum(y*16+x)·K(v)(x)
    val t = new Array[Long](128)
    var v = 0
    while (v < 8) {
      var y = 0
      while (y < 16) {
        var acc = 0L
        var x = 0
        while (x < 16) { acc += lum(y * 16 + x).toLong * K(v)(x); x += 1 }
        t(v * 16 + y) = acc
        y += 1
      }
      v += 1
    }
    // column pass: c(u*8+v) = Σ_y K(u)(y)·t(v*16+y); c(0) is the DC term
    val c = new Array[Long](64)
    var u = 0
    while (u < 8) {
      var v2 = 0
      while (v2 < 8) {
        var acc = 0L
        var y = 0
        while (y < 16) { acc += K(u)(y).toLong * t(v2 * 16 + y); y += 1 }
        c(u * 8 + v2) = acc
        v2 += 1
      }
      u += 1
    }
    // median = 32nd smallest of the 63 non-DC coefficients (order
    // statistic — exact, no averaging); bit i set iff strictly above
    val sorted = java.util.Arrays.copyOfRange(c, 1, 64)
    java.util.Arrays.sort(sorted)
    val med = sorted(31)
    var hash = 0L
    var i = 1
    while (i < 64) {
      if (c(i) > med) hash |= 1L << (i - 1)
      i += 1
    }
    hash
  }
}

/** string → array<string> of distinct k-word shingles, one pass.
  *
  * Replaces the composed
  * `array_distinct(transform(sequence(...), i -> concat_ws(element_at×k)))`
  * pipeline, which Catalyst inlines into every consumer (filter +
  * project + generate each re-evaluate the whole tree) and which runs
  * through interpreted lambda machinery per element. Semantics match
  * `split(trim(text), "\s+")` + k-gram + distinct exactly (same Java
  * regex), so DuckDB oracles are unaffected.
  */
case class WordShingles(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  require(k >= 1)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  @transient private lazy val ws = java.util.regex.Pattern.compile("\\s+")

  override def nullSafeEval(v: Any): Any = {
    val toks = ws.split(v.asInstanceOf[UTF8String].toString.trim)
    if (toks.length < k) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String](toks.length * 2)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= toks.length - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size())
    val it = seen.iterator()
    var n = 0
    while (it.hasNext) { out(n) = UTF8String.fromString(it.next()); n += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}
