package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional positional query names: dump only those (fast local
    // iteration with tools/check_oracle.py's matching filter); the full
    // oracle_sql.json is always written so the checker can validate names
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // decade-run discipline (BENCH.md round 9): the small-SF default
      // (= cpus) GC-thrashes the sf10 LSH candidate distinct; dumps at
      // sf10 set SPARK_GRAFT_SHUFFLE=64 like the benches do
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // see Bench.scala: without a periodic driver GC, dead shuffle
      // files accumulate across the 200+ query dumps at large SFs
      .config("spark.cleaner.periodicGC.interval", "60s")
      // ship the huge-method JIT flag to cluster executors without
      // dropping deployment-supplied options (no-op in local mode)
      .config("spark.executor.extraJavaOptions", SparkEntry.executorJavaOptions(
        sys.props.get("spark.executor.extraJavaOptions")))
      // scan-split knob so the big-corpus gate runs share KSweep's
      // profile (embeddings-only corpora are one ~0.5 GB parquet dir;
      // the 128 MB default gives the cosine stage 4 scan tasks on a
      // 32-thread box) — default unchanged for the driver's runs
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MAXPART", "128m"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // the object-hash fallback raise is scoped to the bounded-heap
      // keys (round-12 advice): session-wide it would remove the only
      // spill backstop under the collect_list/collect_set-heavy keys
      try SparkEntry.withBoundedHeapConf(spark, name) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
