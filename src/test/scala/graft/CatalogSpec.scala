package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites: one local JVM-wide SparkSession with the
  * same configs the driver-facing mains use.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkEntry.session("local[4]", 4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // Allowlisted: every global window left in the TEST sources is a
    // deliberate naive-reference twin (OrderStatsSpec/GraphOpsSpec
    // compare the distributed ranged-pass implementations against
    // row_number()/sum() OVER (ORDER BY …) on frames of ≤ 1000 rows),
    // so WindowExec's single-partition warning is expected there and
    // only buries real warnings. Product and bench paths carry a HARD
    // zero-global-window guarantee via PlanAudit (`global_window = 0`
    // on all catalog queries, empty allowlist) — this logger change
    // cannot mask a product regression.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

/** Catalog-wide invariants: every query runs, every oracle key exists,
  * column names are stable and lowercase-unique (the driver sorts columns
  * by name before hashing).
  */
class CatalogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  // A shared SQL fragment read before its object has finished
  // initializing is concatenated as the text `null`; no oracle holds
  // that word otherwise (DuckDB's keyword is written NULL here).
  test("no oracle holds a fragment read before its object initialized") {
    val word = "\\bnull\\b".r
    val hit = SparkEntry.oracleSql.filter { case (_, sql) => word.findFirstIn(sql).isDefined }
    assert(hit.isEmpty, s"oracles with a null fragment: ${hit.keys.toSeq.sorted}")
  }

  test("every query runs at sf0.001 and has sane columns") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, TestSpark.sf)
      val cols = df.columns.toSeq
      assert(cols.nonEmpty, s"$name: no columns")
      assert(cols.distinct.size == cols.size, s"$name: duplicate columns $cols")
      assert(df.count() >= 0, s"$name: failed to execute")
    }
  }

  test("SURVEY §2 inventory and the registered catalog agree both ways") {
    val survey = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")), "UTF-8")
    val s2 = survey.substring(survey.indexOf("## §2"), survey.indexOf("## §3"))
    // backticked lowercase tokens in the last cell of each §2 table row
    // are catalog keys ("spec" marks spec-only rows; CamelCase tokens
    // are spec class names)
    val keyRe = "`([a-z][a-z0-9_]*)`".r
    val claimed = s2.linesIterator
      .filter(l => l.trim.startsWith("|") && l.count(_ == '|') >= 3)
      .flatMap { l =>
        val lastCell = l.trim.stripSuffix("|").split("\\|").last
        keyRe.findAllMatchIn(lastCell).map(_.group(1))
      }
      .filterNot(Set("spec", "key"))
      .toSet
    val registered = SparkEntry.queries.keySet
    val phantom = claimed -- registered
    assert(phantom.isEmpty, s"SURVEY §2 claims unregistered keys: $phantom")
    val undocumented = registered.filterNot(k => s2.contains(s"`$k`"))
    assert(undocumented.isEmpty,
      s"catalog keys missing from SURVEY §2: $undocumented")
  }

  test("library code reads no env vars") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    // the mains read their run settings from the environment; the
    // library takes parameters
    val mains = "(Bench|Verify|PlanAudit|GenScale)\\.scala".r
    val reads = java.nio.file.Files.walk(root).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (l, i) if l.contains("sys.env") || l.contains("System.getenv") =>
            (p, s"${root.relativize(p)}:${i + 1}: ${l.trim}")
        }
      }
    assert(reads.exists(_._1 == root.resolve("Bench.scala")),
      "the scan found no env read at all")
    val stray = reads.collect {
      case (p, l) if !(p.getParent == root &&
          mains.matches(p.getFileName.toString)) &&
          !p.startsWith(root.resolve("tools")) => l
    }
    assert(stray.isEmpty, s"library env reads: ${stray.mkString("; ")}")
  }

  test("no catalog key is defined twice") {
    import scala.jdk.CollectionConverters._
    // merging defs maps with ++, or one Map literal, silently keeps
    // only the last of two same-named keys
    val root = java.nio.file.Paths.get("src/main")
    val keyDef = "\"([a-z0-9_]+)\" -> (?:graft\\.)?QueryDef\\(".r
    val defs = java.nio.file.Files.walk(root).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.flatMap {
          case (l, i) => keyDef.findAllMatchIn(l)
            .map(m => m.group(1) -> s"${root.relativize(p)}:${i + 1}")
        }
      }
    assert(defs.map(_._1).toSet == SparkEntry.queries.keySet,
      "the scan and the registered catalog disagree on the key set")
    val dups = defs.groupBy(_._1).collect {
      case (k, ds) if ds.size > 1 => s"$k at ${ds.map(_._2).mkString(", ")}"
    }
    assert(dups.isEmpty, s"catalog keys defined twice: ${dups.mkString("; ")}")
  }

  test("AssetMemo is the only per-corpus asset cache in library code") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    // the shapes of the hand-rolled caches AssetMemo replaced: bounded
    // LinkedHashMaps, computeIfAbsent maps and single-slot vars
    val cache = "removeEldestEntry|computeIfAbsent|@volatile private var \\w*[mM]emo\\b".r
    val files = java.nio.file.Files.walk(root).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
    assert(files.exists(_.endsWith("AssetMemo.scala")), "the scan found no sources")
    val stray = files.filterNot(_.endsWith("AssetMemo.scala")).flatMap { p =>
      java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (l, i) if cache.findFirstIn(l).isDefined =>
          s"${root.relativize(p)}:${i + 1}: ${l.trim}"
      }
    }
    assert(stray.isEmpty, s"hand-rolled asset caches: ${stray.mkString("; ")}")
  }

  test("flagship analytics queries return non-empty results") {
    for (name <- Seq("ref_avg_order_value", "ref_top_products",
        "ref_order_customer", "ref_income_by_type", "ref_sales_by_country",
        "q1_agg", "q6_filter", "topk_orders", "window_running",
        "semi_join", "anti_join", "outer_join", "distinct_segments",
        "rollup_sales", "pivot_status", "union_keys", "events_hourly")) {
      assert(SparkEntry.queries(name)(spark, TestSpark.sf).count() > 0,
        s"$name returned 0 rows")
    }
  }

  test("executor JVM options keep deployment-supplied flags") {
    val flag = "-XX:-DontCompileHugeMethods"
    assert(SparkEntry.executorJavaOptions(Some("-Xss4m -Dfoo=bar")) ==
      s"-Xss4m -Dfoo=bar $flag")
    assert(SparkEntry.executorJavaOptions(Some(s"-Xss4m $flag")) ==
      s"-Xss4m $flag")
  }

  test("every bounded-heap key names a catalog key") {
    // a renamed key would silently lose its fallback-threshold raise
    val unknown = SparkEntry.boundedHeapKeys -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"boundedHeapKeys not in the catalog: $unknown")
  }

  test("withConf restores a set key and unsets an unset one") {
    val (set, unset) = ("spark.sql.shuffle.partitions", "spark.sql.graft.probe")
    val before = spark.conf.get(set)
    assert(!spark.conf.getAll.contains(unset))
    SparkEntry.withConf(spark, set, "3") {
      SparkEntry.withConf(spark, unset, "on") {
        assert(spark.conf.get(set) == "3" && spark.conf.get(unset) == "on")
      }
    }
    assert(spark.conf.get(set) == before)
    assert(!spark.conf.getAll.contains(unset))
    // restored on a throwing body too
    intercept[IllegalStateException](
      SparkEntry.withConf(spark, set, "5")(throw new IllegalStateException))
    assert(spark.conf.get(set) == before)
  }
}
