package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every catalog query at SPARK_GRAFT_SF_DIR and
  * prints ONE compact JSON line as the process's final stdout output.
  *
  * The line is kept SHORT (headline per-query numbers only) because the
  * harness captures a bounded tail of stdout — round 1's full 78-query
  * line exceeded it and failed to parse. The complete per-query table is
  * written to BENCH_FULL.json instead.
  *
  * Failed queries are excluded from the reported total (a failure must
  * never make the benchmark look faster) and surface in "failures".
  *
  * Timing discipline: each query is fully materialized via the built-in
  * no-op sink and run SPARK_GRAFT_REPS (default 3) times; the median is
  * reported so single-shot scheduler noise cannot masquerade as a
  * regression (or an improvement).
  */
object Bench {

  private val headline = Seq(
    "q1_agg", "q6_filter", "q5_region_revenue", "ref_top_products",
    "ref_sales_by_country", "window_funcs", "topk_per_group", "asof_join",
    "range_join", "sessionize", "fanout_products", "ingest_decode",
    "dedup_exact", "dedup_ngram", "dedup_minhash", "dedup_clusters",
    "knn_brute", "knn_custom", "knn_ivf", "curate_keep", "quality_score",
    "token_count", "shared_postings_build", "shared_pairs_build",
    "shared_labels_build")

  /** Shared corpus assets (near-dup pair graph, cluster labels) are
    * memoized per (session, corpus) — the production shape: computed
    * once per snapshot, read by every downstream stage. They are built
    * and materialized HERE as their own timed lines, BEFORE the catalog
    * loop, so the dedup-family per-query numbers read as marginal costs
    * instead of whichever alphabetical consumer happens to run first
    * absorbing the build (round-4 bench-honesty item). Timed once, not
    * median-of-reps: rep 2 of a memoized build measures the cache.
    */
  private val sharedAssetBuilds
      : Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
    Seq(
      "nested_orders_build" -> ((s, d) =>
        graft.ingest.SyntheticOrders.nested(s, d)),
      "wire_events_build" -> ((s, d) =>
        graft.ingest.SyntheticOrders.wire(s, d)),
      "dlq_wire_build" -> ((s, d) => {
        val dir = graft.ingest.SyntheticOrders.dlqWireDir(s, d)
        s.read.parquet(dir).limit(1)
      }),
      // the CLEAN wire landing (stream_fanout_products' source) — the
      // same producer-vs-consumer split as dlq_wire_build: without
      // this line the fanout entry was the only wireDir consumer and
      // paid the corpus-sized parquet landing inside its timed first
      // run (round-10 floor attribution)
      "wire_land_build" -> ((s, d) => {
        val dir = graft.ingest.SyntheticOrders.wireDir(s, d)
        s.read.parquet(dir).limit(1)
      }),
      "shared_postings_build" -> ((s, d) =>
        graft.dedup.Dedup.sharedPostings(s, d)),
      "shared_pairs_build" -> ((s, d) => graft.dedup.Dedup.sharedPairs(s, d)),
      "shared_labels_build" -> ((s, d) => graft.dedup.Clusters.sharedLabels(s, d)),
      "shared_chunks_build" -> ((s, d) => graft.text.CorpusIndex.sharedChunks(s, d)),
      // A27's crawler analog: land + register the four fan-out sinks
      // once; catalog_join then times the by-name join, not the landing
      "catalog_tables_build" -> ((s, d) => {
        graft.ingest.IngestQueries.catalogTables(s, d)
        s.range(1).toDF("ok")
      }))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // shuffle width decoupled from thread count: local-mode task-launch
    // overhead dominates at test SFs, so fewer-but-fuller reducers win;
    // on a real cluster this would be 2-3x executor cores instead
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE",
      math.max(4, cpus.toInt / 2).toString)
    val spark = SparkEntry.driverSession(s"local[$cpus]", shuffle.toInt)
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm the JVM + parquet footer caches so the first timed query
    // doesn't absorb session startup
    graft.Tables.names.foreach { t =>
      try graft.Tables.load(spark, sfDir, t).count()
      catch { case _: Throwable => () }
    }
    // Each query is materialized through the no-op sink (not .count(): under
    // count Catalyst prunes every projection, so scan-heavy projection
    // queries would time the scan rather than the operator) and run REPS
    // times; the reported figure is the median, which is robust to the
    // +-30% single-shot machine variance observed in rounds 1-2.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    // Per-query EXECUTOR CPU accounting, broken down by stage (and, for
    // streaming entries, by micro-batch phase): wall time alone cannot
    // separate "the host stretched this query" from "this query did
    // more work" — the round-6 open question for the six build lines,
    // whose multi-minute span a bracketing sentinel cannot cover. Task
    // CPU time CAN: a throttled or preempted run burns the SAME cpu over
    // a longer wall, a real regression burns MORE cpu. BENCH_FULL
    // carries cpu_sec and the stage rows per entry, so any blown-up wall
    // reading is decidable in isolation: cpu ≈ committed cpu →
    // environment; cpu grew with wall → real, in the stage that grew.
    val metrics = graft.obs.StageMetrics.attach(spark)
    val windowByQuery =
      scala.collection.mutable.Map[String, graft.obs.StageMetrics.Window]()
    def runOnce(name: String,
                fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Option[graft.obs.StageMetrics.Window]) = {
      // drain at both window edges: listener delivery is async and a
      // late task-end event would otherwise credit the next query
      org.apache.spark.GraftSparkBridge.drainListeners(spark.sparkContext)
      metrics.reset()
      val t0 = System.nanoTime()
      try {
        // bounded-heap keys (TopKAgg family) get the object-hash
        // fallback threshold raised for THIS query only — the 128-
        // groups/task default external-sorts their whole partial-agg
        // input (measured 150 GB at the 2M-vector exact twin), while a
        // session-wide raise would strip the only spill backstop from
        // the collect_list-heavy keys (round-12 advice item 1)
        SparkEntry.withBoundedHeapConf(spark, name) {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        }
        val wall = (System.nanoTime() - t0) / 1e9
        org.apache.spark.GraftSparkBridge.drainListeners(spark.sparkContext)
        (wall, Some(metrics.snapshot()))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        (-1.0, None)
      }
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // SPARK_GRAFT_ONLY=a,b,c restricts to named queries (targeted
    // re-measures while iterating; the driver never sets it)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // Drift sentinels: two fixed-size probes (no input data, no real
    // shuffle) timed before the loop, after every `sentinelEvery`
    // catalog entries, after EVERY shared-asset build line, and at the
    // end. Catalog timings alone cannot distinguish "this query
    // regressed" from "the host was busy during those minutes" (round
    // 5's official bench had 4 per-query 5-40x blowups on zero-shuffle
    // queries for exactly that reason). Each probe's cost is constant
    // by construction, so spread in ITS readings is host interference
    // by definition. Two probes because one cannot decide the round-6
    // open question (CPU quota throttling vs scheduler contention):
    //  - "sched": a trivial range-sum job — dominated by task launch /
    //    scheduling latency, nearly free of sustained CPU. Elevated
    //    readings mean the scheduler/threads are being preempted.
    //  - "cpu": a chained-md5 fold sized to keep every worker thread
    //    pinned for ~0.2 s — dominated by sustained CPU throughput.
    //    Elevated "cpu" with quiet "sched" is the signature of a
    //    CPU-quota'd sandbox (cgroup throttling lets short scheduler
    //    round-trips through but stretches compute), which round 6
    //    could not distinguish from a real regression.
    // Decision rule for a blown-up catalog entry: both neighbors quiet
    // → real regression; sched elevated → host load; cpu elevated,
    // sched quiet → CPU throttling. The full (index, sched, cpu)
    // series goes to BENCH_FULL.json.
    val sentinelEvery =
      sys.env.getOrElse("SPARK_GRAFT_SENTINEL_EVERY", "8").toInt
    val sentinels = scala.collection.mutable.ArrayBuffer[(Int, Double, Double)]()
    def probeSched(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 100000000L, 1L, cpus.toInt)
        .selectExpr("sum(id % 7) AS s")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def probeCpu(): Double = {
      // fixed work: cpus partitions x 40k rows x 6 chained md5s keeps
      // all worker threads busy ~0.2 s on an unthrottled host; wall
      // time scales ~linearly with any CPU quota below `cpus` cores
      val t0 = System.nanoTime()
      spark.range(0L, 60000L * cpus.toInt, 1L, cpus.toInt)
        .selectExpr(
          "sum(length(md5(md5(md5(md5(md5(md5(cast(id*2654435761 as string))))))))) AS s")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def sentinelOnce(afterEntry: Int): Unit = {
      // sched reading = median of 3 runs: a single run of a ~0.1 s job
      // varies several-fold with thread scheduling (round-6 observed
      // 0.05-0.33 s on a quiet host), which would make the sentinel
      // itself the noisiest line in the artifact.
      // cpu reading = MIN of 3 runs: the probe measures sustained CPU
      // capability, and one-off GC/scheduling hiccups only ever inflate
      // a run — min filters them — while a cgroup CPU quota inflates
      // every run including the min. Median would re-import the
      // scheduler noise the second probe exists to factor out.
      def med3(f: () => Double): Double =
        (1 to 3).map(_ => f()).sorted.apply(1)
      def min3(f: () => Double): Double = (1 to 3).map(_ => f()).min
      sentinels += ((afterEntry, med3(() => probeSched()), min3(() => probeCpu())))
    }
    var entryIdx = 0
    def withSentinel(name: String, t: Double, always: Boolean = false)
        : (String, Double) = {
      entryIdx += 1
      // sentinelEvery <= 0 means "interleaved readings off" (the
      // bracketing start/end probes still run); also avoids % 0.
      // `always` forces a reading regardless of position — used after
      // every shared-asset build line: the six builds are the most
      // expensive segment of the run (~4 min at sf0.1 in round 6's
      // driver artifact) and previously ran with zero probe coverage.
      if (always || (sentinelEvery > 0 && entryIdx % sentinelEvery == 0))
        sentinelOnce(entryIdx)
      name -> t
    }
    // warm the probes' own codegen untimed — otherwise reading #0
    // carries JVM warmup and fakes a high spread on a quiet host
    sentinelOnce(-1); sentinels.clear()
    sentinelOnce(0)
    val buildResults = sharedAssetBuilds
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        val (wall, window) = runOnce(name, fn)
        window.foreach(windowByQuery(name) = _)
        withSentinel(name, wall, always = true) }
    val results = buildResults ++ selected.map { case (name, fn) =>
      val runs = (1 to reps).map(_ => runOnce(name, fn))
      // report the MIDDLE-wall rep as a (wall, cpu) PAIR — taking
      // medians of each series separately could pair rep 1's wall with
      // rep 2's cpu and fake a wall/cpu divergence
      val mid = runs.sortBy(_._1).apply((runs.size - 1) / 2)
      mid._2.foreach(windowByQuery(name) = _)
      withSentinel(name, if (runs.exists(_._1 < 0)) -1.0 else mid._1)
    }
    sentinelOnce(entryIdx)
    def fmt(v: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def jsonMap(rs: Seq[(String, Double)]) =
      rs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
    val ok = results.filter(_._2 >= 0)
    val failed = results.filter(_._2 < 0)
    val total = ok.map(_._2).sum
    // sentinel summary: spread = max/min per probe. A quiet host sits
    // near 1.0; round 5's contended window would have shown >5. The
    // full list of (after-entry-index, sched-sec, cpu-sec) readings
    // goes to BENCH_FULL.json so a specific blown-up query can be
    // checked against the two probe readings that bracket its position
    // in the run (see the decision rule above).
    def probeSummary(ts: Seq[Double]): String =
      s"""{"n":${ts.size},"median":${fmt(median(ts))},""" +
        s""""min":${fmt(ts.min)},"max":${fmt(ts.max)},""" +
        s""""spread":${fmt(ts.max / math.max(ts.min, 1e-9))}}"""
    val sentinelSummary =
      s"""{"every":$sentinelEvery,""" +
        s""""sched":${probeSummary(sentinels.map(_._2).toSeq)},""" +
        s""""cpu":${probeSummary(sentinels.map(_._3).toSeq)}}"""
    val sentinelFull = sentinels
      .map { case (i, s, c) => s"[$i,${fmt(s)},${fmt(c)}]" }
      .mkString("[", ",", "]")
    // Pair-graph provenance tag (round-8 advice item): "auto:<plan>"
    // where plan is what sharedPairs' auto dispatch actually built this
    // JVM ("unbuilt" if no entry touched it). Artifacts produced on the
    // ~0.87-recall LSH graph can never be mistaken for exact-graph
    // numbers.
    val pairsMode = "auto:" + graft.dedup.Dedup.pairsPlanResolved
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
        s""""n_queries":${results.size},"failures":${failed.size},""" +
        s""""pairs_mode":"$pairsMode",""" +
        s""""sentinel":$sentinelSummary,""" +
        s""""queries":${jsonMap(results.filter(r => headline.contains(r._1)))},""" +
        s""""sf":"$sfDir"}"""
    // a failed entry keeps its -1 cpu reading and has no stage rows
    val cpuResults = results.map { case (n, _) =>
      n -> windowByQuery.get(n).fold(-1.0)(_.cpuSec) }
    def entryMap(f: graft.obs.StageMetrics.Window => Option[String]) =
      results.flatMap { case (n, _) =>
        windowByQuery.get(n).flatMap(f).map("\"" + n + "\":" + _) }
        .mkString("{", ",", "}")
    val full =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
        s""""failures":${failed.map(f => "\"" + f._1 + "\"").mkString("[", ",", "]")},""" +
        s""""pairs_mode":"$pairsMode",""" +
        s""""sentinel":$sentinelSummary,"sentinel_times":$sentinelFull,""" +
        s""""queries":${jsonMap(results)},""" +
        s""""queries_cpu_sec":${jsonMap(cpuResults)},""" +
        s""""stages":${entryMap(w => Some(w.stagesJson))},""" +
        s""""stream":${entryMap(_.streamJson)},"sf":"$sfDir"}"""
    // Focused runs (SPARK_GRAFT_ONLY set) go to their own file — a
    // 3-query iteration must never clobber the committed full-catalog
    // artifact (round-11 verdict "what's wrong" item 1)
    val outName = only match {
      case Some(names) =>
        val tag = names.toSeq.sorted.mkString("-")
          .replaceAll("[^A-Za-z0-9_-]", "").take(60)
        s"BENCH_FOCUSED_$tag.json"
      case None => "BENCH_FULL.json"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(outName),
      (full + "\n").getBytes("UTF-8"))
    spark.stop()
    // final stdout line — after stop() so no Spark logging can interleave
    println(line)
  }
}
