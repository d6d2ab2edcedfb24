package perfbench

import java.io.File
import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import graft.ingest.EventCodec
import Workload.inParallel

/** `catalog_sql`: the five reference queries run by table name over the
  * sinks the ingest path leaves behind (catalog and sql layers). Set-up
  * lands one delivery through the live pipeline and registers each sink
  * as an external partitioned table; each operation is one query whose
  * template and partition window the seed draws. */
final class CatalogSql(spark: SparkSession, trace: Trace, seed: Long)
    extends Workload(spark, trace, seed) {
  import CatalogSql._

  private var pipe: Pipeline = _
  private var base: String = _
  private var landings: Seq[Pipeline.Delivery] = Nil
  private var hours: IndexedSeq[(String, String, String, String)] = _
  private val registers = mutable.ArrayBuffer[Double]()
  private val expected = mutable.Map[(String, Window), Seq[Row]]()
  private val runs = mutable.ArrayBuffer[Run]()
  private val results = mutable.ArrayBuffer[Seq[Row]]()

  def measuredOps: Int = MeasuredQueries

  /** Ingests the orders through the live pipeline's four sink queries,
    * once; the upsert view is not part of what the catalog reads. */
  override def land(dir: String): Unit = {
    base = dir
    val records = Gen.orders(seed, shape)
    Gen.stageWire(spark, records, 4, s"$dir/staging")
    pipe = new Pipeline(spark, trace, s"$dir/live", s"$dir/staging")
    trace.recording = trace.enabled
    landings = (0 until shape.deliveries).map { d =>
      val del = pipe.deliver(d, records.count(_.delivery == d).toLong, upsertView = false)
      pipe.recordAdded(d)
      del
    }
    trace.recording = false
    Pipeline.sinks.foreach(retireLog)
  }

  /** Registers the four sink tables. */
  def prepare(dir: String): Unit = {
    val t0 = System.nanoTime()
    Pipeline.sinks.foreach(register)
    registers += (System.nanoTime() - t0) / 1e9
    hours = spark.sql(s"SELECT DISTINCT year, month, day, hour FROM ${table("orders")} " +
      "ORDER BY 1, 2, 3, 4").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toIndexedSeq
    runs.clear()
    results.clear()
  }

  /** Each template once over all partitions, the five side by side. */
  def warmUp(): Unit = inParallel(templates.keys.toSeq.sorted)(t => runQuery(t, Nil))

  /** Spark resolves a table whose location holds a streaming sink's
    * `_spark_metadata` log as unpartitioned, and MSCK then refuses it. No
    * more deliveries arrive here, so the log is moved out before the sink
    * is registered; the data files and their layout stay exactly as the
    * ingest path wrote them. */
  private def retireLog(sink: String): Unit = {
    val retired = new File(s"${pipe.sinkBase}/../retired_logs/$sink")
    retired.getParentFile.mkdirs()
    require(new File(s"${pipe.sinkBase}/$sink/_spark_metadata").renameTo(retired),
      s"cannot retire $sink's log")
  }

  /** CREATE TABLE … PARTITIONED BY and MSCK REPAIR TABLE over one sink,
    * the DDL `IngestQueries.catalogTables` issues. */
  private def register(sink: String): Unit = {
    val path = s"${pipe.sinkBase}/$sink"
    val parts = partitionCols(sink)
    val dataDdl = spark.read.parquet(path).schema.fields
      .filterNot(f => parts.contains(f.name))
      .map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")
    val t = table(sink)
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t ($dataDdl, ${parts.map(_ + " STRING").mkString(", ")}) " +
      s"USING PARQUET PARTITIONED BY (${parts.mkString(", ")}) LOCATION '$path'")
    spark.sql(s"MSCK REPAIR TABLE $t")
  }

  private def sqlFor(template: String, window: Window, names: String => String): String =
    Seq("o", "pd", "sa").foldLeft(templates(template).replace("{w}", where(window, ""))) {
      case (q, alias) => q.replace(s"{w:$alias}", where(window, alias + "."))
    }.replace("{o}", names("orders"))
      .replace("{pd}", names("purchase_details")).replace("{pr}", names("product_details"))
      .replace("{sa}", names("shipping_addresses"))

  /** Runs one query by table name; returns its rows and the run record. */
  private def runQuery(template: String, window: Window): (Seq[Row], Run) = {
    var planS = 0.0
    val (rows, wall, work) = trace.measure(trace.span("query") {
      val p0 = System.nanoTime()
      val df = trace.span("plan") {
        val d = spark.sql(sqlFor(template, window, table))
        d.queryExecution.executedPlan
        d
      }
      planS = (System.nanoTime() - p0) / 1e9
      val rows = trace.span("execute")(df.collect())
      val (files, bytes) = scans(df.queryExecution.executedPlan).foldLeft((0L, 0L)) {
        case ((f, b), s) => (f + s.metrics.get("numFiles").map(_.value).getOrElse(0L),
          b + s.metrics.get("filesSize").map(_.value).getOrElse(0L))
      }
      (rows.toSeq, files, bytes)
    })
    (rows._1, Run(template, window, wall, planS, work, rows._2, rows._3))
  }

  private def check(template: String, window: Window, rows: Seq[Row]): Boolean =
    sameRows(rows, expected((template, window)))

  /** One operation is one query. A traced run runs each drawn query
    * twice in a row, once traced and once not, so `trace.overhead_frac`
    * compares the same queries. */
  def loop(deadlineNs: Long): Unit = {
    val mix = new QueryMix(seed, hours)
    var query: (String, String, Window) = null
    var i = 0
    while (another(i, deadlineNs)) {
      if (!(trace.enabled && i % 2 == 1)) query = mix.next()
      val (template, kind, window) = query
      val on = traceOp(i)
      val (rows, run) = runQuery(template, window)
      trace.recording = false
      results += rows
      runs += run.copy(traced = on, kind = kind)
      out.ops += Op(run.wallS, run.work, 1, on)
      i += 1
    }
    val measured = runs.take(measuredOps).toSeq
    out.inputs ++= Seq("orders" -> shape.deliveries * shape.ordersPerDelivery,
      "setup_deliveries" -> shape.deliveries,
      "delivery_event_span_s" -> shape.deliverySpanS,
      "late_share" -> shape.lateShare, "update_share" -> shape.updateShare,
      "hour_partitions" -> hours.length, "queries" -> runs.length,
      "measured_mix" -> measured.groupBy(r => s"${r.template}/${r.kind}")
        .map { case (k, v) => k -> v.length })
    out.named("query_p50_s") = (Stats.median(measured.map(_.wallS)), "s")
    Stats.tail(runs.map(_.wallS).toSeq).foreach(t => out.named("query_tail_s") = (t.value, "s"))
    out.named("query_cpu_s") = (measured.map(_.work.cpuS).sum / measured.length, "CPU-s")
  }

  /** Each result against the same SQL over reference views: batch
    * `Fanout` over every landed record, built here, outside set-up. */
  def verify(): Unit = {
    Pipeline.projections(graft.ingest.Fanout.withPartitionKeys(
        EventCodec.decode(spark.read.parquet(pipe.sourceDir)), Pipeline.eventTs),
        Seq("year", "month", "day", "hour"))
      .foreach { case (s, df) =>
        df.cache().createOrReplaceTempView(s"ref_$s")
        df.count()
      }
    val keys = runs.map(r => (r.template, r.window)).distinct.toSeq
    expected ++= keys.zip(inParallel(keys) { case (t, w) =>
      spark.sql(sqlFor(t, w, s => s"ref_$s")).collect().toSeq })
    runs.zip(results).zipWithIndex.foreach { case ((r, rows), i) =>
      if (!check(r.template, r.window, rows)) {
        out.failed += 1
        out.notes(s"failed_query_$i") = s"${r.template} where ${where(r.window, "")}"
      }
    }
  }

  def layers(): Unit = {
    val traced = runs.filter(_.traced).toSeq
    val files = Pipeline.sinks.map(s => s -> Pipeline.dataFiles(new File(s"${pipe.sinkBase}/$s"))).toMap
    out.layer("catalog.register_s", Stats.median(registers.toSeq), "s")
    out.layer("catalog.partitions", Pipeline.sinks.map(s =>
      spark.sql(s"SHOW PARTITIONS ${table(s)}").count()).sum.toDouble, "count")
    out.layer("catalog.files", files.values.map(_.size).sum.toDouble, "count")
    templates.keys.toSeq.sorted.foreach { t =>
      val rs = traced.filter(_.template == t)
      if (rs.nonEmpty) {
        out.layer(s"sql.$t.p50_s", Stats.median(rs.map(_.wallS)), "s")
        out.layer(s"sql.$t.plan_s", Stats.median(rs.map(_.planS)), "s")
        out.layer(s"sql.$t.files_read", Stats.median(rs.map(_.files.toDouble)), "count")
        out.layer(s"sql.$t.bytes_read_mb", Stats.median(rs.map(_.bytes / 1048576.0)), "MB")
        out.layer(s"sql.$t.cpu_s", Stats.median(rs.map(_.work.cpuS)), "CPU-s")
        out.layer(s"sql.$t.shuffle_mb", Stats.median(rs.map(_.work.shuffleWriteBytes / 1048576.0)), "MB")
      }
    }
    val scanned = traced.map(r => tablesOf(r.template).map(files(_).size).sum.toDouble)
    out.layer("sql.pruned_frac", 1 - traced.map(_.files.toDouble).sum / scanned.sum, "ratio")
    // the ingest layers, from the set-up's traced landing
    trace.recording = true
    val probes = landings.map(d => pipe.probe(d.d))
    trace.recording = false
    pipe.deliveryLayers(landings, landings, probes, out)
    // the LLM-data layers, which no workload of their own measures
    val corpus = new CorpusProbe(spark, trace, seed)
    corpus.prepare(s"$base/corpus")
    corpus.warmUp()
    corpus.run(CorpusProbe.Snapshots - CorpusProbe.Warmups)
    corpus.layers()
    out.layers ++= corpus.out.layers
    out.inputs ++= corpus.out.inputs
    out.notes ++= corpus.out.notes
    out.named ++= corpus.out.named
    out.failed += corpus.out.failed
  }
}

object CatalogSql {
  /** Two rounds of the fifteen (template, window kind) pairs: every run's
    * median is over the same kinds of query, each twice. */
  val MeasuredQueries = 30

  /** One delivery of four simulated hours from 22:00, so the sinks hold
    * two calendar days and a day window differs from "all". */
  val shape: Gen.OrderShape = Gen.OrderShape(deliveries = 1,
    ordersPerDelivery = 2000, deliverySpanS = 4 * 3600, lateShare = 0.05,
    updateShare = 0.10, startS = Gen.clockStart + 22 * 3600)

  def partitionCols(sink: String): Seq[String] =
    (if (sink == "shipping_addresses") Seq("country") else Nil) ++
      Seq("year", "month", "day", "hour")

  /** The reference's five Athena queries over the four sink tables; `{w}`
    * is the partition window, applied to every table a query reads. */
  val templates: Map[String, String] = Map(
    "avg_order_value" ->
      "SELECT avg(amount) AS average_order_value, count(*) AS n FROM {pd} WHERE {w}",
    "top_products" ->
      """SELECT name, sum(quantity) AS total_quantity_sold FROM {pr} WHERE {w}
        |GROUP BY name ORDER BY total_quantity_sold DESC, name LIMIT 10""".stripMargin,
    "order_client_details" ->
      """SELECT o.customer_id, o.order_id, o.order_date, o.status,
        |       sa.country, sa.state, sa.city, sa.street, sa.zip
        |FROM {o} o JOIN {sa} sa ON o.order_id = sa.order_id
        |WHERE {w:o} AND {w:sa}""".stripMargin,
    "income_by_payment_type" ->
      """SELECT payment_type, sum(amount) AS total_income FROM {pd} WHERE {w}
        |GROUP BY payment_type ORDER BY total_income DESC""".stripMargin,
    "sales_by_country" ->
      """SELECT sa.country, sum(pd.amount) AS total_sales
        |FROM {pd} pd JOIN {sa} sa ON pd.order_id = sa.order_id
        |WHERE {w:pd} AND {w:sa}
        |GROUP BY sa.country ORDER BY total_sales DESC""".stripMargin)

  def table(sink: String): String = s"bench_$sink"

  def tablesOf(template: String): Seq[String] = template match {
    case "top_products" => Seq("product_details")
    case "order_client_details" => Seq("orders", "shipping_addresses")
    case "sales_by_country" => Seq("purchase_details", "shipping_addresses")
    case _ => Seq("purchase_details")
  }

  /** A partition window: (partition column, value) pairs, empty for all. */
  type Window = Seq[(String, String)]

  def where(w: Window, prefix: String): String =
    if (w.isEmpty) "true" else w.map { case (c, v) => s"$prefix$c = '$v'" }.mkString(" AND ")

  final case class Run(template: String, window: Window, wallS: Double,
      planS: Double, work: Work, files: Long, bytes: Long,
      traced: Boolean = false, kind: String = "")

  /** Equal as multisets of rows, doubles to a relative 1e-9: a sum taken
    * in another order may differ in its last bits. */
  def sameRows(a: Seq[Row], b: Seq[Row]): Boolean = {
    def key(r: Row) = r.toSeq.map {
      case d: Double => f"$d%.4g"
      case x => String.valueOf(x)
    }.mkString("|")
    def close(x: Any, y: Any) = (x, y) match {
      case (p: Double, q: Double) =>
        math.abs(p - q) <= 1e-9 * math.max(1.0, math.max(math.abs(p), math.abs(q)))
      case _ => x == y
    }
    a.length == b.length && a.sortBy(key).zip(b.sortBy(key)).forall { case (x, y) =>
      x.length == y.length && x.toSeq.zip(y.toSeq).forall { case (p, q) => close(p, q) }
    }
  }

  /** File scans of an executed plan, looking through adaptive stages. */
  def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(scans)
  }

  /** The seeded query mix, drawn in rounds: each round holds every
    * template with every window kind (hour, day, all), fifteen queries in
    * seeded order, so any run of whole rounds does the same kinds of
    * work. The hour or day itself is drawn from the partitions that
    * exist, without replacement until each has been drawn, so that every
    * run's windows cover the partitions evenly. */
  final class QueryMix(seed: Long, hours: IndexedSeq[(String, String, String, String)]) {
    private val r = new Random(seed ^ 0x5eed)
    private val byKind = windows(hours)
    private val undrawn = mutable.Map[String, List[Window]]()
    private var pending: List[(String, String, Window)] = Nil

    private def draw(kind: String): Window = {
      if (undrawn.getOrElse(kind, Nil).isEmpty) undrawn(kind) = r.shuffle(byKind(kind).toList)
      val w = undrawn(kind).head
      undrawn(kind) = undrawn(kind).tail
      w
    }

    def next(): (String, String, Window) = {
      if (pending.isEmpty) pending = round().toList
      val q = pending.head
      pending = pending.tail
      q
    }

    private def round(): Seq[(String, String, Window)] = r.shuffle(for (t <- templates.keys.toSeq.sorted;
        k <- Seq("hour", "day", "all")) yield (t, k)).map { case (t, kind) => (t, kind, draw(kind)) }
  }

  /** Every window of each kind over the given hour partitions. */
  def windows(hours: IndexedSeq[(String, String, String, String)]): Map[String, IndexedSeq[Window]] =
    Map("hour" -> hours.map { case (y, m, d, h) =>
        Seq("year" -> y, "month" -> m, "day" -> d, "hour" -> h) },
      "day" -> hours.map { case (y, m, d, _) => Seq("year" -> y, "month" -> m, "day" -> d) }.distinct,
      "all" -> IndexedSeq(Nil))
}
