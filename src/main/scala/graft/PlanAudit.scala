package graft

/** Plan-quality audit (SURVEY §5): checks each catalog query's physical
  * plan for the scale-critical properties — filter pushdown, column
  * pruning, broadcast of dim sides, whole-stage codegen coverage — and
  * FAILS (exit 1) on violations instead of just printing:
  *
  *  - a query whose joins are all dimension-bounded must not
  *    SortMergeJoin (broadcast/shuffled-hash expected);
  *  - no query may scan more than 8 columns of a base table unless it
  *    is allow-listed as genuinely needing them;
  *  - no query may plan an unpartitioned global Window (a
  *    single-reducer sort of its input) unless the input is provably
  *    cardinality-bounded (`_pid` offset windows structurally; named
  *    allowlist otherwise);
  *  - every query must produce an auditable plan (no AUDIT-ERROR).
  *
  * The full per-query metrics are written to PLAN_AUDIT.json so rounds
  * can be diffed mechanically. Run: `sbt "runMain graft.PlanAudit"`.
  */
object PlanAudit {

  /** Queries whose every join side is dimension-bounded (nation/region/
    * customer-level, scalar aggregates, or per-group medians): a
    * SortMergeJoin in any of these means a broadcast opportunity was
    * missed. Fact-fact joins (self-joins on exploded shingles/bands,
    * stream-stream, open-vocabulary term joins) are deliberately NOT
    * here — shuffle joins are the correct plan for them at scale.
    */
  private val dimJoinQueries = Set(
    "q5_region_revenue", "ref_sales_by_country", "ref_income_by_type",
    "ref_avg_order_value", "fanout_addresses", "quantile_filter",
    "q14_brand_share", "q17_small_qty", "q19_disjunctive", "salted_join",
    "knn_brute", "label_centroids")

  /** Queries that genuinely materialize >8 columns of one scan: the
    * ingest fan-outs rebuild the producer's full nested document (every
    * order/customer/lineitem field is part of the wire format), and the
    * SCD2/window entries emit wide history rows by design.
    */
  private val wideScanAllow = Set(
    "ingest_decode", "fanout_orders", "fanout_products",
    "fanout_purchases", "fanout_addresses", "scd2_history")

  /** Queries allowed an unpartitioned (global) Window over input that
    * is provably NOT corpus-proportional. EMPTY as of round 5: the last
    * holder (`ks_drift`, value-cardinality-bounded cumsums) moved onto
    * the distributed ranged prefix-sum pass, so every global Window is
    * now a violation — the zero-single-reducer-sort invariant is fully
    * gated. (Packing.withGlobalPrefixSums needs no exemption — its
    * offsets are driver-collected counts, not a window.)
    */
  private val globalWindowAllow = Set.empty[String]

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = SparkEntry.session("local[8]", 8)
      .config("spark.sql.adaptive.enabled", "true")
      // plan strings truncate ReadSchema at 100 chars by default, which
      // leaves an unclosed `struct<...` that the width regex would run
      // through — print schemas in full so column counts are exact
      .config("spark.sql.maxMetadataStringLength", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    case class Audit(name: String, scans: Int, pushed: Int, bcast: Int,
        smj: Int, codegen: Int, exchange: Int, wide: Int, gwin: Int,
        err: Option[String])

    val audits = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        df.collect() // materialize THIS queryExecution so AQE finalizes
        val plan = df.queryExecution.executedPlan.toString
        // unpartitioned Window nodes = single-reducer sorts of their
        // whole input. Counted on the optimized logical plan (stable
        // under AQE re-planning, and past the optimizer rules that
        // would strip a constant partition key).
        val gwin = df.queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
              if w.partitionSpec.isEmpty => w
        }.size
        val scans = "Scan parquet".r.findAllIn(plan).size
        val pushed = "PushedFilters: \\[[^\\]]".r.findAllIn(plan).size
        val bcast = "BroadcastHashJoin|BroadcastNestedLoopJoin".r.findAllIn(plan).size
        val smj = "SortMergeJoin".r.findAllIn(plan).size
        // codegen'd operators carry a `*(stageId)` prefix in the simple
        // plan string; count distinct codegen stage ids
        val wsc = "\\*\\((\\d+)\\)".r.findAllMatchIn(plan).map(_.group(1)).toSet.size
        val exch = "Exchange".r.findAllIn(plan).size
        // full-width scans (ReadSchema listing every column) are flagged
        // by counting scans that read >8 TOP-LEVEL cols: nested /
        // parameterized types (array<...>, decimal(p,s), inner structs)
        // contain '>' and ',' themselves, so count commas at depth 1 of
        // a bracket walk instead of regex-splitting
        val wide = "ReadSchema: struct<".r.findAllMatchIn(plan).count { m =>
          var i = m.end
          var depth = 1
          var cols = 1
          while (depth > 0 && i < plan.length) {
            plan.charAt(i) match {
              case '<' | '(' => depth += 1
              case '>' | ')' => depth -= 1
              case ',' if depth == 1 => cols += 1
              case _ => ()
            }
            i += 1
          }
          cols > 8
        }
        Audit(name, scans, pushed, bcast, smj, wsc, exch, wide, gwin, None)
      } catch { case e: Throwable =>
        Audit(name, 0, 0, 0, 0, 0, 0, 0, 0,
          Some(Option(e.getMessage).getOrElse(e.getClass.getName)))
      }
    }

    audits.foreach { a =>
      val status = a.err.map(m => s"AUDIT-ERROR $m").getOrElse(
        f"scans=${a.scans} pushed=${a.pushed} bcast=${a.bcast} " +
          f"smj=${a.smj} codegen=${a.codegen} exchange=${a.exchange} " +
          f"wide=${a.wide} gwin=${a.gwin}")
      println(f"${a.name}%-22s $status")
    }

    val json = audits.map { a =>
      s"${Verify.jsonString(a.name)}:{" +
        s""""scans":${a.scans},"pushed":${a.pushed},"bcast":${a.bcast},""" +
        s""""smj":${a.smj},"codegen":${a.codegen},"exchange":${a.exchange},""" +
        s""""wide":${a.wide},"global_window":${a.gwin},""" +
        s""""err":${a.err.map(Verify.jsonString).getOrElse("null")}}"""
    }.mkString("{", ",", "}")
    java.nio.file.Files.write(java.nio.file.Paths.get("PLAN_AUDIT.json"),
      (json + "\n").getBytes("UTF-8"))

    val violations =
      audits.filter(a => a.err.isDefined).map(a => s"${a.name}: ${a.err.get}") ++
        audits.filter(a => dimJoinQueries(a.name) && a.smj > 0)
          .map(a => s"${a.name}: ${a.smj} SortMergeJoin on a dim-only join") ++
        audits.filter(a => a.wide > 0 && !wideScanAllow(a.name))
          .map(a => s"${a.name}: ${a.wide} scan(s) reading >8 columns") ++
        audits.filter(a => a.gwin > 0 && !globalWindowAllow(a.name))
          .map(a => s"${a.name}: ${a.gwin} unpartitioned global Window(s)" +
            " (single-reducer sort)")
    spark.stop()
    if (violations.nonEmpty) {
      violations.foreach(v => System.err.println(s"[plan-audit] VIOLATION $v"))
      sys.exit(1)
    }
    println(s"plan audit clean: ${audits.size} queries, 0 violations")
  }
}
