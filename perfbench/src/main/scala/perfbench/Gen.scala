package perfbench

import java.nio.charset.StandardCharsets
import java.util.Base64
import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. graft only ever sees the files written here;
  * the same seed gives byte-identical inputs. */
object Gen {

  // ---------------- wire orders ----------------

  /** Shape of a generated order stream. Event time is stamped on a
    * simulated arrival clock that advances `deliverySpanS` per delivery,
    * so each delivery's on-time events cover a fixed, known window. */
  final case class OrderShape(deliveries: Int, ordersPerDelivery: Int,
      deliverySpanS: Long, lateShare: Double, updateShare: Double,
      lateMinS: Long = 3600, lateMaxS: Long = 3 * 3600,
      customers: Int = 4000, startS: Long = clockStart)

  /** 2026-03-02T00:00:00Z: the default start of the arrival clock. */
  lazy val clockStart: Long = 1772409600L

  final case class WireRecord(delivery: Int, key: String, data: String,
      arrivalS: Long, late: Boolean, update: Boolean)

  val countries: IndexedSeq[String] = IndexedSeq("ALGERIA", "ARGENTINA",
    "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE", "GERMANY", "INDIA",
    "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA", "MOROCCO",
    "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA", "VIETNAM",
    "RUSSIA", "UNITED KINGDOM", "UNITED STATES")
  private val statuses = IndexedSeq("PENDING", "PAID", "SHIPPED",
    "DELIVERED", "RETURNED")
  private val payments = IndexedSeq("CARD", "PAYPAL", "TRANSFER", "CASH",
    "VOUCHER")
  private val segments = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val colors = IndexedSeq("red", "green", "blue", "black", "white")
  private val sizes = IndexedSeq("S", "M", "L", "XL")

  private val isoFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'").withZone(java.time.ZoneOffset.UTC)
  def iso(epochS: Long): String = isoFmt.format(java.time.Instant.ofEpochSecond(epochS))

  private def b64(s: String): String =
    Base64.getEncoder.encodeToString(s.getBytes(StandardCharsets.UTF_8))

  /** The producer's JSON document, fields in the codec schema's order. */
  private def orderJson(r: Random, cust: Int, order: Long, dateS: Long,
      status: String): String = {
    val sb = new StringBuilder(512)
    val country = countries(cust % countries.length)
    sb ++= s"""{"customer_id":"user$cust","order_id":"o$order","""
    sb ++= s""""order_date":"${iso(dateS)}","status":"$status","""
    sb ++= s""""shipping_address":{"street":"Customer#$cust","city":"city${cust % 97}","""
    sb ++= s""""state":"${segments(cust % segments.length)}","zip":"${"%05d".format(cust % 100000)}","""
    sb ++= s""""country":"$country"},"""
    val amount = (r.nextInt(9_000_000) + 10_000) / 100.0
    sb ++= s""""purchaise_details":{"payment_type":"${payments(r.nextInt(payments.length))}","""
    sb ++= s""""amount":$amount,"currency":"USD","instalments":${1 + r.nextInt(12)}},"""
    sb ++= s""""product_details":["""
    val n = 1 + r.nextInt(7)
    (1 to n).foreach { line =>
      if (line > 1) sb += ','
      val p = r.nextInt(1500)
      sb ++= s"""{"product_id":"p$p","name":"part_$p","quantity":${1 + r.nextInt(50)},"""
      sb ++= s""""line_number":$line,"item_details":{"color":"${colors(r.nextInt(colors.length))}","""
      sb ++= s""""size":"${sizes(r.nextInt(sizes.length))}"}}"""
    }
    sb ++= "]}"
    sb.result()
  }

  /** The wire records of every delivery, in arrival order. Re-sent orders
    * (status updates) repeat an earlier key with a new status; late events
    * carry an event time hours behind their arrival. No key ever carries
    * the same event second twice, so "latest" is always unambiguous. */
  def orders(seed: Long, shape: OrderShape): IndexedSeq[WireRecord] = {
    val r = new Random(seed)
    val out = mutable.ArrayBuffer[WireRecord]()
    val sent = mutable.ArrayBuffer[(Int, Long)]() // (customer, order)
    val usedSeconds = mutable.HashMap[Long, mutable.Set[Long]]()
    var nextOrder = 1L
    for (d <- 0 until shape.deliveries) {
      val t0 = shape.startS + d * shape.deliverySpanS
      val arrivals = Array.fill(shape.ordersPerDelivery)(
        t0 + (r.nextDouble() * shape.deliverySpanS).toLong).sorted
      val batch = arrivals.map { arrival =>
        val update = sent.nonEmpty && r.nextDouble() < shape.updateShare
        val late = r.nextDouble() < shape.lateShare
        val (cust, order) =
          if (update) sent(r.nextInt(sent.length))
          else {
            val o = (1 + r.nextInt(shape.customers), nextOrder)
            nextOrder += 1
            o
          }
        var dateS = if (late)
          arrival - shape.lateMinS -
            (r.nextDouble() * (shape.lateMaxS - shape.lateMinS)).toLong
        else arrival
        val used = usedSeconds.getOrElseUpdate(order, mutable.Set())
        while (used(dateS)) dateS += 1
        used += dateS
        val json = orderJson(r, cust, order,
          dateS, statuses(r.nextInt(statuses.length)))
        WireRecord(d, s"user$cust", b64(json), arrival, late, update) ->
          (cust, order)
      }
      // keys become re-sendable once their delivery has been sent
      batch.foreach { case (w, k) => out += w; if (!w.update) sent += k }
    }
    out.toIndexedSeq
  }

  val wireSchema: StructType = StructType(Seq(
    StructField("partition_key", StringType),
    StructField("data", StringType),
    StructField("arrival_ts", TimestampType),
    StructField("delivery", IntegerType)))

  /** Writes the records under `dir/delivery=<d>/`, `filesPerDelivery`
    * parquet files per delivery, in one Spark job. */
  def stageWire(spark: SparkSession, recs: IndexedSeq[WireRecord],
      filesPerDelivery: Int, dir: String): Unit = {
    val groups = recs.zipWithIndex
      .groupBy { case (w, i) => (w.delivery, i % filesPerDelivery) }
      .toSeq.sortBy(_._1)
      .map { case (_, ws) => ws.map { case (w, _) =>
        Row(w.key, w.data, new java.sql.Timestamp(w.arrivalS * 1000L), w.delivery)
      } }
    val rdd = spark.sparkContext.parallelize(groups, groups.length)
      .flatMap(identity)
    spark.createDataFrame(rdd, wireSchema)
      .write.partitionBy("delivery").parquet(dir)
  }

  // ---------------- documents ----------------

  private val syllables = IndexedSeq("ka", "lo", "mi", "re", "tu", "sa",
    "ne", "vo", "di", "pa", "ro", "ge", "fi", "bu", "ha", "zo", "te", "li")

  /** 400 content words plus graft's stopwords (the quality score counts
    * them), fixed for every seed. */
  val vocabulary: IndexedSeq[String] = {
    val r = new Random(7L)
    val words = mutable.LinkedHashSet[String]()
    while (words.size < 400)
      words += (1 to 2 + r.nextInt(2)).map(_ => syllables(r.nextInt(syllables.length))).mkString
    words.toIndexedSeq
  }
  private val stopwords = graft.text.TextAnalysis.stopwords.toIndexedSeq

  final case class Snapshot(ids: IndexedSeq[Long], texts: IndexedSeq[String],
      planted: IndexedSeq[(Long, Long)])

  /** One document snapshot: `n` docs of 8 to 120 words, `plantedShare` of
    * them near-copies (one word substituted) of an earlier doc of at
    * least 24 words, whose 3-shingle Jaccard is then at least 0.7. */
  def snapshot(seed: Long, n: Int, plantedShare: Double): Snapshot = {
    val r = new Random(seed)
    val texts = mutable.ArrayBuffer[Array[String]]()
    val planted = mutable.ArrayBuffer[(Long, Long)]()
    val bases = mutable.ArrayBuffer[Int]()
    while (texts.length < n) {
      val i = texts.length
      if (bases.nonEmpty && r.nextDouble() < plantedShare) {
        val b = bases(r.nextInt(bases.length))
        val copy = texts(b).clone()
        val pos = r.nextInt(copy.length)
        var w = copy(pos)
        while (w == copy(pos)) w = vocabulary(r.nextInt(vocabulary.length))
        copy(pos) = w
        texts += copy
        planted += ((b.toLong, i.toLong))
      } else {
        val len = 8 + r.nextInt(113)
        val stopShare = 0.05 + r.nextDouble() * 0.35
        texts += Array.fill(len)(
          if (r.nextDouble() < stopShare) stopwords(r.nextInt(stopwords.length))
          else vocabulary(r.nextInt(vocabulary.length)))
        if (len >= 24) bases += i
      }
    }
    Snapshot(texts.indices.map(_.toLong), texts.map(_.mkString(" ")).toIndexedSeq,
      planted.toIndexedSeq)
  }

  private val langs = IndexedSeq("en", "de", "es", "fr", "zh")

  /** Writes a snapshot as `dir/documents.parquet` in the corpus schema. */
  def writeSnapshot(spark: SparkSession, s: Snapshot, dir: String): Unit = {
    val rows = s.ids.zip(s.texts).map { case (id, t) =>
      Row(id, t, langs((id % langs.length).toInt), s"src${id % 20}", t.length.toLong)
    }
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .write.parquet(s"$dir/documents.parquet")
  }

  // ---------------- embeddings ----------------

  /** `n` unit-free vectors of dimension `dim` around `labels` seeded
    * centres, as (vec_id, embedding, label). */
  def embeddings(seed: Long, n: Int, dim: Int, labels: Int)
      : IndexedSeq[(Long, Array[Float], Int)] = {
    val r = new Random(seed)
    val centres = Array.fill(labels, dim)(r.nextGaussian())
    (0 until n).map { i =>
      val l = r.nextInt(labels)
      (i.toLong, Array.tabulate(dim)(j =>
        (centres(l)(j) + 0.8 * r.nextGaussian()).toFloat), l)
    }
  }

  def writeEmbeddings(spark: SparkSession,
      vs: IndexedSeq[(Long, Array[Float], Int)], dir: String): Unit = {
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType)))
    val rows = vs.map { case (id, e, l) => Row(id, e.toSeq, l) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .write.parquet(dir)
  }
}
