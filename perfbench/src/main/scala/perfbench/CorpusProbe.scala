package perfbench

import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Tables
import graft.dedup.{Clusters, Dedup}
import graft.similarity.Knn
import graft.text.Curate

/** The LLM-data path (dedup, clusters, curate, knn), probed in a traced
  * run. One step curates one fresh document snapshot, in its own
  * directory so no memoized corpus asset is reused, then serves one
  * brute-force and one LSH k-NN batch over an embeddings corpus.
  *
  * This is not a workload of its own: a warm step takes about 7 s and the
  * first about 15 s on 4 cores, so a run would hold one or two samples
  * and its runs would not fit the benchmark's time budget. */
final class CorpusProbe(spark: SparkSession, trace: Trace, seed: Long) {
  import CorpusProbe._

  val out = new Outcome

  private var dir: String = _
  private var snaps: IndexedSeq[Gen.Snapshot] = _
  private var vectors: IndexedSeq[(Long, Array[Float], Int)] = _
  private var next = 0
  private val steps = mutable.ArrayBuffer[Step]()

  def prepare(d: String): Unit = {
    dir = d
    snaps = (0 until Snapshots).map(j => Gen.snapshot(seed * 1000 + j, Docs, PlantedShare))
    snaps.zipWithIndex.foreach { case (s, j) => Gen.writeSnapshot(spark, s, snapDir(j)) }
    vectors = Gen.embeddings(seed, Vectors, Dim, Labels)
    Gen.writeEmbeddings(spark, vectors, s"$dir/embeddings.parquet")
    next = 0
  }

  def warmUp(): Unit = {
    (0 until Warmups).foreach(_ => step(traced = false))
    steps.clear()
  }

  /** Runs `n` traced steps; a step whose checks fail counts as failed. */
  def run(n: Int): Unit = {
    (0 until n).foreach { i =>
      trace.recording = true
      trace.beginOp(i)
      val s = step(traced = true)
      trace.recording = false
      if (s.failures.nonEmpty) {
        out.failed += 1
        out.notes(s"corpus_failed_step_$i") = s.failures.take(5).mkString("; ")
      }
    }
    val used = steps.map(_.snapshot).toSet
    out.inputs ++= Seq("corpus_docs_per_snapshot" -> Docs, "corpus_snapshots" -> steps.length,
      "corpus_planted_share" -> snaps.zipWithIndex.filter(x => used(x._2))
        .map(_._1.planted.length.toDouble).sum / (Docs * math.max(1, used.size)),
      "corpus_embeddings" -> Vectors, "corpus_dim" -> Dim,
      "corpus_knn_queries" -> Queries, "corpus_k" -> K)
  }

  private def snapDir(j: Int) = s"$dir/snap$j"

  /** One operation: curate the next snapshot, then one k-NN batch. */
  private def step(traced: Boolean): Step = {
    val j = next
    next += 1
    require(j < Snapshots, "staged snapshots exhausted")
    val d = snapDir(j)
    val r = new Random(seed * 7919 + j)
    val sample = r.shuffle(vectors.indices.toList).take(Queries).map(_.toLong)
    var pairsN = 0L
    val (_, curS, curW) = trace.measure(trace.span("snapshot") {
      val pairs = trace.span("pairs") {
        val p = Dedup.sharedPairs(spark, d)
        pairsN = p.count()
        p
      }
      val labels = trace.span("labels")(Clusters.sharedLabels(spark, d))
      val kept = trace.span("keep")(Curate.keptSet(Tables.documents(spark, d), Some(labels))
        .select("doc_id").collect().map(_.getLong(0)))
      (pairs, labels, kept)
    })
    val snapSpan = if (traced) trace.lastSpan("snapshot") else None
    val corpus = spark.read.parquet(s"$dir/embeddings.parquet")
    val queries = corpus.filter(col("vec_id").isin(sample: _*))
    val ((brute, lsh), knnS, knnW) = trace.measure(trace.span("knn") {
      val b = trace.span("knn.brute")(Knn.bruteForce(queries, corpus, K).collect())
      val l = trace.span("knn.lsh")(Knn.lsh(queries, corpus, K).collect())
      (b, l)
    })
    val s = Step(j, curS, curW, knnS, knnW, traced, snapSpan.map(_.id),
      if (traced) trace.lastSpan("knn").map(_.id) else None, pairsN)
    steps += s
    s.failures = checkCuration(j) ++ checkKnn(sample, brute)
    s.lshRecall = recall(brute, lsh)
    s
  }

  /** Planted pairs share a cluster, each cluster's representative is its
    * minimum id, and no kept document is a non-representative. */
  private def checkCuration(j: Int): Seq[String] = {
    val d = snapDir(j)
    val labels = Clusters.sharedLabels(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kept = Curate.keptSet(Tables.documents(spark, d), Some(Clusters.sharedLabels(spark, d)))
      .select("doc_id").collect().map(_.getLong(0))
    val bad = mutable.ArrayBuffer[String]()
    snaps(j).planted.foreach { case (a, b) =>
      if (labels.get(a).isEmpty || labels.get(a) != labels.get(b))
        bad += s"snapshot $j: planted pair ($a, $b) not in one cluster"
    }
    labels.groupBy(_._2).foreach { case (rep, members) =>
      if (members.keys.min != rep) bad += s"snapshot $j: cluster $rep has smaller member"
    }
    kept.filter(id => labels.get(id).exists(_ != id)).foreach(id =>
      bad += s"snapshot $j: kept non-representative $id")
    bad.toSeq
  }

  /** Brute-force neighbours of a few sampled queries against an exact
    * top-k computed here in double precision: every returned neighbour
    * must score at least the k-th best cosine (ties may order either way). */
  private def checkKnn(sample: Seq[Long], brute: Array[org.apache.spark.sql.Row]): Seq[String] = {
    val byQuery = brute.groupBy(_.getAs[Long]("query_id"))
    sample.take(3).flatMap { q =>
      val qv = vectors(q.toInt)._2
      val scores = vectors.filter(_._1 != q).map(v => v._1 -> cosine(qv, v._2))
      val kth = scores.map(_._2).sorted(Ordering[Double].reverse)(K - 1)
      val got = byQuery.getOrElse(q, Array.empty).map(_.getAs[Long]("neighbor_id"))
      val byId = scores.toMap
      if (got.length != K || got.distinct.length != K ||
          got.exists(n => byId(n) < kth - 1e-5)) Seq(s"knn query $q: wrong top-$K")
      else Nil
    }
  }

  private def recall(brute: Array[org.apache.spark.sql.Row], lsh: Array[org.apache.spark.sql.Row]): Double = {
    def sets(rs: Array[org.apache.spark.sql.Row]) = rs.groupBy(_.getAs[Long]("query_id"))
      .map { case (q, xs) => q -> xs.map(_.getAs[Long]("neighbor_id")).toSet }
    val b = sets(brute)
    val l = sets(lsh)
    b.map { case (q, ns) => (ns intersect l.getOrElse(q, Set.empty)).size.toDouble / K }.sum / b.size
  }

  def layers(): Unit = {
    val traced = steps.filter(_.traced).toSeq
    def child(s: Step, name: String): Option[Span] = trace.allSpans.find(x =>
      x.name == name && (s.snapSpan.contains(x.parent) || s.knnSpan.contains(x.parent)))
    def wall(name: String) = Stats.median(traced.flatMap(child(_, name)).map(x => (x.endNs - x.startNs) / 1e9))
    def cpu(name: String) = Stats.median(traced.flatMap(child(_, name)).map(x => trace.workUnder(x).cpuS))
    out.named("curate_p50_s") = (Stats.median(traced.map(_.curateS)), "s")
    out.named("curate_cpu_s") = (Stats.median(traced.map(_.curateW.cpuS)), "CPU-s")
    out.named("knn_p50_s") = (Stats.median(traced.map(_.knnS)), "s")
    out.named("knn_cpu_s") = (Stats.median(traced.map(_.knnW.cpuS)), "CPU-s")
    out.layer("dedup.pairs_s", wall("pairs"), "s")
    out.layer("dedup.pairs_cpu_s", cpu("pairs"), "CPU-s")
    val cands = traced.map(s => candidates(snapDir(s.snapshot)))
    out.layer("dedup.candidate_rows", Stats.median(cands), "count")
    out.layer("dedup.pairs_out", Stats.median(traced.map(_.pairs.toDouble)), "count")
    out.layer("dedup.pair_yield", traced.map(_.pairs.toDouble).sum / cands.sum, "ratio")
    out.layer("clusters.cc_s", wall("labels"), "s")
    out.layer("clusters.cc_cpu_s", cpu("labels"), "CPU-s")
    out.layer("clusters.components", Stats.median(traced.map(s =>
      Clusters.sharedLabels(spark, snapDir(s.snapshot)).select("cluster_rep").distinct().count().toDouble)),
      "count")
    out.layer("clusters.jobs", Stats.median(traced.flatMap(child(_, "labels"))
      .map(x => trace.workUnder(x).jobs.toDouble)), "count")
    out.layer("curate.keep_s", wall("keep"), "s")
    out.layer("curate.kept_frac", Stats.median(traced.map(s => Curate.keptSet(
      Tables.documents(spark, snapDir(s.snapshot)),
      Some(Clusters.sharedLabels(spark, snapDir(s.snapshot)))).count().toDouble / Docs)), "ratio")
    out.layer("knn.brute_s", wall("knn.brute"), "s")
    out.layer("knn.brute_cpu_s", cpu("knn.brute"), "CPU-s")
    out.layer("knn.lsh_s", wall("knn.lsh"), "s")
    out.layer("knn.lsh_cpu_s", cpu("knn.lsh"), "CPU-s")
    out.layer("knn.lsh_recall", Stats.median(traced.map(_.lshRecall)), "ratio")
  }

  /** Candidate rows of the exact pair path: Σ df·(df−1)/2 over shingles
    * below the hot cap, from the snapshot's memoized postings. */
  private def candidates(d: String): Double =
    Dedup.sharedPostings(spark, d).groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") <= math.max(1000L, Docs / 1000L))
      .agg(coalesce(sum(col("df") * (col("df") - 1) / 2), lit(0.0)))
      .head().getDouble(0)
}

object CorpusProbe {
  val Docs = 1000
  val PlantedShare = 0.1
  val Snapshots = 2
  val Warmups = 1
  val Vectors = 5000
  val Dim = 64
  val Labels = 10
  val Queries = 20
  val K = 10

  final case class Step(snapshot: Int, curateS: Double, curateW: Work,
      knnS: Double, knnW: Work, traced: Boolean, snapSpan: Option[Int],
      knnSpan: Option[Int], pairs: Long) {
    var failures: Seq[String] = Nil
    var lshRecall: Double = Double.NaN
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    dot / math.sqrt(na * nb)
  }
}
