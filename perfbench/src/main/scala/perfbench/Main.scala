package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession

/** The pipeline benchmark's JVM side: runs one workload for one seed and
  * prints its metrics; `run.py` builds it and starts it.
  *
  * {{{
  * Main --workload ingest_live|catalog_sql --seed N
  *      --seconds S --trace 0|1 --cores K --work DIR --result FILE
  *      --metrics NAME,NAME,…
  * }}}
  *
  * The last stdout line is one JSON object: `correct`, `attempted`,
  * `failed` and `metrics`, which holds exactly the `--metrics` names
  * (`BENCHMARK.json`'s end-to-end metrics, or with `--trace 1` its
  * per-layer ones). `--result` receives the full record: inputs,
  * host, every metric under its workload-specific name, and the spans. */
object Main {

  /** `Workload.prepare` runs this many times per run; `setup_s` is the
    * session start, the landing, the median of these, and the warm-up. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val work = new File(a("work")).getAbsolutePath
    val metrics = a("metrics").split(",").toSeq
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val heap = new Host.HeapWatch
    val ticks0 = Host.cpuTicks()

    val spark = session(cores, work)
    val trace = new Trace(spark, traced)
    val w: Workload = workload match {
      case "ingest_live"     => new IngestLive(spark, trace, seed)
      case "catalog_sql"     => new CatalogSql(spark, trace, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val probeBefore = Host.cpuProbe(spark, cores)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - probeBefore.spentS
    val l0 = System.nanoTime()
    w.land(s"$work/landed")
    val landS = (System.nanoTime() - l0) / 1e9
    val reps = (0 until SetupReps).map { r =>
      val t0 = System.nanoTime()
      w.prepare(s"$work/rep$r")
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    w.warmUp()
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + landS + Stats.median(reps) + warmS

    val loopStart = System.nanoTime()
    w.loop(loopStart + (seconds * 1e9).toLong)
    val loopS = (System.nanoTime() - loopStart) / 1e9
    // the workload's own peak: the checks below hold extra copies
    val rssMb = Host.peakRssMb()
    val heapMb = heap.peakMb
    heap.close()
    trace.recording = false
    val v0 = System.nanoTime()
    w.verify()
    val verifyS = (System.nanoTime() - v0) / 1e9
    if (traced) w.layers()
    val probeAfter = Host.cpuProbe(spark, cores)
    val ticks1 = Host.cpuTicks()

    val o = w.out
    val ops = o.ops.toSeq
    require(ops.length >= w.measuredOps,
      s"${ops.length} operations ran, fewer than the ${w.measuredOps} every run measures")
    val measured = ops.take(w.measuredOps)
    val tail = Stats.tail(ops.map(_.latencyS))
    val endToEnd = Seq(
      "setup_s" -> (setupS, "s"),
      "peak_rss_mb" -> (rssMb, "MB"),
      "op_p50_s" -> (Stats.median(measured.map(_.latencyS)), "s"),
      "op_cpu_s" -> (Stats.median(measured.map(_.work.cpuS)), "CPU-s"))

    if (traced) {
      val n = ops.length.toDouble
      val sum = ops.map(_.work).reduce(_ + _)
      o.layer("engine.cpu_s", sum.cpuS / n, "CPU-s")
      o.layer("engine.gc_s", sum.gcMs / 1e3 / n, "s")
      o.layer("engine.shuffle_write_mb", sum.shuffleWriteBytes / 1048576.0 / n, "MB")
      o.layer("engine.spill_mb", sum.spillBytes / 1048576.0 / n, "MB")
      o.layer("engine.tasks", sum.tasks / n, "count")
      o.layer("engine.jobs", sum.jobs / n, "count")
      o.layer("host.cpu_probe_s", (probeBefore.probeS + probeAfter.probeS) / 2, "s")
      o.layer("trace.overhead_frac", Workload.overheadFrac(measured), "ratio")
    }

    val available = if (traced) o.layers.toMap else endToEnd.toMap
    val reported = metrics.map(n => n -> available.getOrElse(n, (Double.NaN, "")))
    val missing = reported.collect { case (n, (v, _)) if v.isNaN || v.isInfinite => n }
    require(missing.isEmpty, s"no value for ${missing.mkString(", ")}")
    val correct = o.failed == 0
    val record = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "correct" -> correct, "attempted" -> ops.length, "failed" -> o.failed,
      "failed_frac" -> o.failed.toDouble / ops.length, "measured_ops" -> w.measuredOps,
      "loop_s" -> loopS, "verify_s" -> verifyS,
      "jvm_s_before_exit" -> (System.currentTimeMillis() - jvmStartMs) / 1e3,
      "setup" -> Map("session_s" -> sessionS, "land_s" -> landS, "reps_s" -> reps,
        "warmup_s" -> warmS),
      "heap_after_gc_peak_mb" -> heapMb,
      "end_to_end" -> endToEnd.toMap.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "named" -> o.named.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "tail" -> tail.map(t => Map("percentile" -> t.percentile, "value_s" -> t.value,
        "beyond" -> t.beyond, "samples" -> t.n)),
      "layers" -> o.layers.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "inputs" -> o.inputs, "notes" -> o.notes,
      "ops" -> ops.zipWithIndex.map { case (op, i) => Map("latency_s" -> op.latencyS,
        "cpu_s" -> op.work.cpuS, "items" -> op.items, "traced" -> op.traced,
        "measured" -> (i < w.measuredOps)) },
      "host" -> (Host.record(spark, cores, probeBefore.probeS, probeAfter.probeS) +
        ("steal_frac" -> (ticks1._1 - ticks0._1).toDouble / math.max(1L, ticks1._2 - ticks0._2))),
      "spans" -> (if (traced) spanRecords(trace) else Nil))
    a.get("result").foreach { p =>
      val f = new File(p)
      f.getParentFile.mkdirs()
      java.nio.file.Files.writeString(f.toPath, Json.render(record) + "\n")
    }

    o.named.foreach { case (k, (v, u)) => println(f"# $k%-28s $v%.6g $u") }
    println(f"# ${"failed_frac"}%-28s ${o.failed.toDouble / ops.length}%.6g ratio")
    tail.foreach(t => println(f"# tail: p${t.percentile}%.1f over ${t.n} samples, ${t.beyond} beyond"))
    endToEnd.foreach { case (k, (v, u)) => println(f"# $k%-28s $v%.6g $u") }
    trace.close()
    spark.stop()
    println(Json.render(Map(
      "correct" -> correct, "attempted" -> ops.length, "failed" -> o.failed,
      "metrics" -> scala.collection.immutable.ListMap(reported.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }: _*))))
  }

  private def spanRecords(t: Trace): Seq[Map[String, Any]] = {
    val t0 = t.allSpans.map(_.startNs).minOption.getOrElse(0L)
    t.allSpans.sortBy(_.startNs).map { s =>
      val w = t.workOf(s.id)
      Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6,
        "self_ms" -> t.selfNs(s) / 1e6, "cpu_s" -> w.cpuS, "jobs" -> w.jobs,
        "tasks" -> w.tasks)
    }
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", math.max(4, cores / 2).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.cleaner.periodicGC.interval", "60s")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // sink directories are read back with their partition values as
      // written ("07", not 7) when checking them against batch Fanout
      .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
