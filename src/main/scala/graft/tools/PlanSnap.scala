package graft.tools

import java.nio.file.{Files, Paths}

/** Round-15 optimization deliverable helper: writes each named catalog
  * query's `.explain("formatted")` to `<outDir>/<name>_<tag>.txt` so
  * plan-shape claims in OPTIMIZATION_r15.md are checkable against
  * committed artifacts without running Spark.
  *
  * Usage: runMain graft.tools.PlanSnap <sfDir> <outDir> <tag> q1 q2 ...
  *
  * For streaming entries the catalog fn EXECUTES the stream and returns
  * the sink table — the captured plan is the post-sink batch read, so
  * the `stages` and `stream` breakdowns Bench writes to BENCH_FULL.json
  * are the right source for micro-batch internals; this tool is for the
  * batch operators.
  */
object PlanSnap {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val names = args.drop(3).toSeq
    Files.createDirectories(Paths.get(outDir))
    val spark = graft.SparkEntry.session("local[8]", 8)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.maxMetadataStringLength", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val qs = graft.SparkEntry.queries
    names.foreach { name =>
      val out = Paths.get(outDir, s"${name}_$tag.txt")
      try {
        val df = qs(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(out, txt.getBytes("UTF-8"))
        println(s"[plansnap] wrote $out")
      } catch { case e: Throwable =>
        Files.write(out,
          s"PLAN-ERROR ${e.getClass.getName}: ${e.getMessage}\n".getBytes("UTF-8"))
        println(s"[plansnap] ERROR $name: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
