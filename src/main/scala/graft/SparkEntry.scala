package graft

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.internal.SQLConf

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Every implemented operator registers a `queries` entry; every
  * ANSI-SQL-expressible one also registers a DuckDB oracle with identical
  * output column names + ORDER BY (the driver sorts columns by name and
  * hashes values, so aliases must match exactly on both sides).
  */
object SparkEntry {

  /** The §2 catalog, merged. Modules keep their QueryDefs next to the
    * operator code so Spark + oracle stay in sync.
    */
  private lazy val catalog: Map[String, QueryDef] =
    operators.RefQueries.defs ++
      operators.Tpch.defs ++
      operators.Relational.defs ++
      operators.TypedOps.defs ++
      operators.SqlSurface.defs ++
      operators.Skew.defs ++
      operators.Packing.defs ++
      operators.Maintenance.defs ++
      operators.Profiling.defs ++
      operators.TopKOps.defs ++
      operators.Diagnostics.defs ++
      operators.Cleaning.defs ++
      operators.Behavior.defs ++
      operators.TimeOps.defs ++
      operators.TimeOps.approxDefs ++
      ingest.IngestQueries.defs ++
      ingest.Export.defs ++
      text.CorpusStats.defs ++
      streaming.StreamQueries.defs ++
      dedup.Dedup.defs ++
      dedup.Dedup.evalDefs ++
      dedup.Clusters.defs ++
      similarity.Knn.defs ++
      similarity.Ivf.defs ++
      similarity.Quantize.defs ++
      similarity.VectorAnalytics.defs ++
      text.TextAnalysis.defs ++
      text.Pii.defs ++
      text.LexStats.defs ++
      text.Curate.defs ++
      text.Vocab.defs ++
      text.Contamination.defs ++
      text.CorpusIndex.defs ++
      text.Retrieval.defs ++
      multimodal.Multimodal.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    catalog("ref_sales_by_country").build(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map { case (k, v) => k -> v.build }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    catalog.collect { case (k, QueryDef(_, Some(sql))) => k -> sql }

  /** Catalog keys whose plans aggregate through the bounded-heap
    * TypedImperativeAggregates (functions.TopKAgg family). These need
    * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` raised
    * past its 128-groups/task default — the fallback external-SORTS the
    * partial aggregation's whole input, the exact full-width sort the
    * O(k) buffers exist to avoid (measured 150 GB of sort spill at the
    * 2M-vector exact k-NN twin). The raise is SCOPED to these keys
    * (round-12 advice): the threshold also governs every other
    * ObjectHashAggregate, and for unbounded per-group state
    * (collect_list/collect_set) the count threshold is the only spill
    * backstop — session-wide it would let up to 1e6 arbitrary-size
    * group buffers pin executor memory in the ~20 collect-heavy keys.
    */
  val boundedHeapKeys: Set[String] =
    Set("topk_agg", "inverted_index", "knn_graph", "knn_graph_block")

  /** Run `body` with the object-hash fallback threshold raised iff
    * `name` is a bounded-heap key (see [[boundedHeapKeys]]); the
    * previous session value is restored afterwards. The conf is a
    * runtime SQLConf, so set/restore around the triggering action is
    * race-free in the single-threaded Verify/Bench mains.
    */
  def withBoundedHeapConf[T](spark: SparkSession, name: String)(body: => T): T = {
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    if (!boundedHeapKeys(name)) body
    else {
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "1000000")
      try body
      finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  /** A session builder on `master` with `shufflePartitions` shuffle
    * partitions and the confs every graft session needs: the UTC
    * session time zone and nanos-as-long parquet timestamps the oracle
    * comparison depends on (see Tables.normalizeTs), no UI, the
    * fork-free local file system ([[fs.LocalFs.conf]]) and the shared
    * executor class loader ([[sharedClassLoader]]). Callers add their
    * own confs before `getOrCreate()`.
    */
  def session(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config(fs.LocalFs.conf ++ sharedClassLoader)

  /** Spark's per-session artifact isolation, off. With it on (Spark's
    * default), every job of a session is tagged with the session's UUID,
    * and executors run its tasks on a class loader of that session's own.
    * A streaming query runs on a clone of its session with a new UUID, so
    * each query graft starts per delivery got a new loader, and
    * `CodeGenerator`'s compile cache, keyed by the loader, missed on every
    * generated class of every task. Off, tasks run on the executor's one
    * default loader and a delivery reuses the classes of the ones before.
    *
    * The trade-off: a session cloned after this is set (every stream
    * session is one) does not see jars added to its parent through
    * `addArtifact`; tasks see only the application's class path and
    * `SparkContext.addJar`. [[install]] therefore skips a session that
    * holds such artifacts.
    */
  val sharedClassLoader: Map[String, String] =
    Map(SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key -> "false")

  /** Sets on `s`, as session conf, the key groups [[session]] builds graft's
    * sessions with ([[fs.LocalFs.conf]], [[sharedClassLoader]]), for a
    * session graft did not build. Every live query starts here
    * ([[sources.RecordSource.events]]), so its checkpoint writes and the
    * sessions its queries clone from then on get both; a session that
    * resolved its artifact isolation already keeps it. A group is skipped
    * when `s` names one of its keys itself (in its session conf, or its
    * SparkContext's Hadoop conf for the file system keys); the class
    * loader also when `s` holds session-scoped artifacts its tasks need.
    */
  def install(s: SparkSession): Unit = {
    val (own, hadoop) = (s.conf.getAll, s.sparkContext.hadoopConfiguration)
    def named(k: String) = own.contains(k) ||
      Option(hadoop.getPropertySources(k)).exists(_.exists(_ != "core-default.xml"))
    def set(group: Map[String, String]): Unit =
      if (!group.keys.exists(named)) group.foreach { case (k, v) => s.conf.set(k, v) }
    set(fs.LocalFs.conf)
    if (!GraftSqlBridge.holdsArtifacts(s)) set(sharedClassLoader)
  }

  /** `spark.executor.extraJavaOptions` for the Verify/Bench sessions:
    * the deployment-supplied value with `-XX:-DontCompileHugeMethods`
    * appended. The flag lets HotSpot JIT the huge methods whole-stage
    * codegen emits; cluster executors are separate JVMs, so the launcher
    * flag (build.sbt, tools/run_main.sh) does not reach them. The
    * Spark-side alternative (spark.sql.codegen.hugeMethodLimit=8000) was
    * measured worse, see OPTIMIZATION_r16.md §3.
    */
  def executorJavaOptions(supplied: Option[String]): String = {
    val flag = "-XX:-DontCompileHugeMethods"
    supplied.map(_.trim).filter(_.nonEmpty) match {
      case Some(opts) if opts.split("\\s+").contains(flag) => opts
      case Some(opts) => s"$opts $flag"
      case None => flag
    }
  }
}
