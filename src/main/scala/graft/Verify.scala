package graft
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
    // decade-run discipline (BENCH.md round 9): the small-SF default
    // (= cpus) GC-thrashes the sf10 LSH candidate distinct; dumps at
    // sf10 set SPARK_GRAFT_SHUFFLE=64 like the benches do
    val spark = SparkEntry.driverSession(s"local[$cpus]",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus).toInt).getOrCreate()
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** A JSON string literal of `s`: escapes backslash, quote and ALL
    * control chars (<0x20) — a tab or CR in builder-authored SQL, or a
    * multi-line Spark exception message, would otherwise make the file
    * unparseable (oracle_sql.json here, PLAN_AUDIT.json in PlanAudit).
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
