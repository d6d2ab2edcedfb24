package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Materialize.CutOps

/** The reference's four Firehose→Lambda fan-out transformations,
  * re-expressed as pure `DataFrame => DataFrame` projections so they
  * compose identically under batch and Structured Streaming, stay
  * shuffle-free (narrow maps), and run inside WholeStageCodegen.
  *
  * Each mirrors one Lambda:
  *  - orders:            lambda_orders_transformation/lambda_function.py:24-42
  *  - productDetails:    lambda_product_details_tranformation/lambda_function.py:33-49
  *  - purchaseDetails:   lambda_purchase_details_transformation/lambda_function.py:31-39
  *  - shippingAddresses: lambda_shipping_addresses_transformation/lambda_function.py:25-41
  */
object Fanout {

  /** ISO-8601-with-Z string → timestamp (the lambdas'
    * `datetime.fromisoformat(order_date.rstrip("Z"))`).
    */
  private[graft] def eventTs = to_timestamp(regexp_replace(col("order_date"), "Z$", ""))

  /** orders stream: 4-column projection, order_date collapsed to a DATE
    * (`lambda_orders_transformation:31` `event_timestamp.date().isoformat()`).
    * `passthrough` keeps already-derived columns (e.g. partition keys) —
    * the lambdas likewise compute partitionKeys from the raw event
    * BEFORE projecting.
    */
  def orders(events: DataFrame, passthrough: Seq[String] = Nil): DataFrame =
    events.select(
      col("customer_id") +:
        col("order_id") +:
        eventTs.cast("date").as("order_date") +:
        col("status") +:
        passthrough.map(col): _*)

  /** product_details stream: explode the array — one row per product —
    * and flatten `item_details` (`lambda_product_details_tranformation:33-44`
    * loops `enumerate(product_details)`; `line_number` carries that index).
    */
  def productDetails(events: DataFrame, passthrough: Seq[String] = Nil): DataFrame =
    events.select(col("order_id") +: explode(col("product_details")).as("pd") +:
        passthrough.map(col): _*)
      .select(
        col("pd.product_id").as("product_id") +:
          col("order_id") +:
          col("pd.name").as("name") +:
          col("pd.quantity").as("quantity") +:
          col("pd.line_number").as("line_number") +:
          col("pd.item_details.color").as("color") +:
          col("pd.item_details.size").as("size") +:
          passthrough.map(col): _*)

  /** purchase_details stream: flatten the purchase struct
    * (`lambda_purchase_details_transformation:31-39`).
    */
  def purchaseDetails(events: DataFrame, passthrough: Seq[String] = Nil): DataFrame =
    events.select(
      col("order_id") +:
        col("purchaise_details.payment_type").as("payment_type") +:
        col("purchaise_details.amount").as("amount") +:
        col("purchaise_details.currency").as("currency") +:
        col("purchaise_details.instalments").as("instalments") +:
        passthrough.map(col): _*)

  /** shipping_addresses stream: flatten the address struct
    * (`lambda_shipping_addresses_transformation:31-39`).
    */
  def shippingAddresses(events: DataFrame, passthrough: Seq[String] = Nil): DataFrame =
    events.select(
      col("order_id") +:
        col("shipping_address.country").as("country") +:
        col("shipping_address.state").as("state") +:
        col("shipping_address.city").as("city") +:
        col("shipping_address.street").as("street") +:
        col("shipping_address.zip").as("zip") +:
        passthrough.map(col): _*)

  /** Firehose dynamic-partitioning keys (every lambda's `partitionKeys`):
    * zero-padded year/month/day/hour derived from the event timestamp.
    * These become `partitionBy` columns at the sink — low-cardinality
    * time keys, NOT customer_id (file-count explosion at 100 TB; see
    * SURVEY §5).
    */
  def withPartitionKeys(df: DataFrame, ts: org.apache.spark.sql.Column): DataFrame =
    df.withColumn("year", date_format(ts, "yyyy"))
      .withColumn("month", date_format(ts, "MM"))
      .withColumn("day", date_format(ts, "dd"))
      .withColumn("hour", date_format(ts, "HH"))
}

/** Reconstructs the producer's nested order document
  * (`python_producer.py:56-100`) from the flat test star schema, so the
  * codec + fan-out path is exercised on real nested/array data:
  * one document per order, `product_details` collected from its
  * lineitems, address fields from customer⋈nation.
  *
  * The only shuffle is the `collect_list` aggregation on the natural key
  * `o_orderkey`; dims broadcast.
  */
object SyntheticOrders {

  /** The nested document is the shared input of six ingest catalog
    * entries (A1, A3–A6, C16) and Verify/Bench run them back-to-back in
    * one session — without memoization the collect_list aggregation
    * re-executes for every entry (and for every bench repetition).
    * Memoize the MATERIALIZED frame via eager `localCheckpoint`: the
    * first caller pays the build and later consumers read
    * executor-local UnsafeRow blocks.
    *
    * localCheckpoint, NOT `.persist(MEMORY_AND_DISK)` (round-15 §1
    * measurement): the columnar InMemoryRelation converts every
    * array<struct> document value into column-by-column cache batches —
    * measured at sf0.1 the cache WRITE alone cost ~40 executor-CPU-s on
    * a ~4-CPU-s build, and every cached READ paid a ColumnarToRow
    * reconstruction ~10× a parquet scan of the same rows. The RDD-level
    * checkpoint stores the rows as-is (no conversion either way) and
    * keeps the build's partition layout, so the document frame's
    * downstream CPU-heavy consumers (wire encode, fan-outs) stay wide.
    *
    * A SINGLE slot, not a map: the drivers (Verify, Bench, one shared
    * test session) work one (session, sfDir) at a time, and an
    * unbounded strong-ref map would pin stopped sessions and their
    * checkpointed blocks forever. On a key change the previous frame's
    * blocks are reclaimed by the ContextCleaner once the memo drops the
    * last reference (the sessions run with a periodic-GC interval).
    */
  @volatile private var memo: Option[((SparkSession, String), DataFrame)] = None

  def nested(s: SparkSession, d: String): DataFrame = synchronized {
    memo match {
      case Some(((`s`, `d`), df)) => df
      case _ =>
        val df = build(s, d).cutLineage()
        memo = Some(((s, d), df))
        df
    }
  }

  /** The wire-encoded stream (what the producer actually sends:
    * `python_producer.py:47-113` builds the doc then base64-posts it).
    * Memoized like `nested` and for the same reason — the encode side
    * is PRODUCER work, not part of any ingest operator under test, and
    * three bench repetitions of `ingest_decode` should re-run the
    * decode, not rebuild the client's payloads.
    */
  @volatile private var wireMemo: Option[((SparkSession, String), DataFrame)] = None

  def wire(s: SparkSession, d: String): DataFrame = synchronized {
    wireMemo match {
      case Some(((`s`, `d`), df)) => df
      case _ =>
        // localCheckpoint for the same reason as [[nested]]: the wire
        // frame is one long base64 string per row, and the columnar
        // cache's string-column building + per-read reconstruction
        // dwarfed the encode itself (measured ~20+ CPU-s per cached
        // consumer pass at sf0.1 vs ~3 CPU-s for the whole encode)
        val df = EventCodec.encode(nested(s, d)).cutLineage()
        wireMemo = Some(((s, d), df))
        df
    }
  }

  /** The wire stream LANDED as a parquet directory (what a file-source
    * streaming consumer reads). Written once per (session, sfDir) —
    * re-landing the producer's payloads on every bench repetition would
    * time the test harness, not the streaming decode under test.
    */
  /** Keyed landed-dir memos (round-9 advice item 5): the earlier
    * single-slot form re-landed the full wire corpus on EVERY corpus
    * alternation — exactly the pattern the leak-check suites and a
    * multi-SF bench run — and leaked a fresh never-deleted temp
    * directory each time. A small keyed map caps the re-land churn at
    * one landing per (session, sfDir), and the landing lives under
    * [[Tables.scratchDir]] — the session-scoped scratch root that is
    * already registered for recursive delete at JVM exit (never
    * eagerly — a streaming consumer may still be reading a landed dir
    * when the session ends).
    */
  // bounded like AssetMemo/pairsModeMemo so stopped sessions aren't
  // pinned for the JVM lifetime (round-10 advice item 5); values are
  // paths under the session scratch root, which is already registered
  // for delete at JVM exit — eviction needs no cleanup action
  private def boundedDirMemo() =
    new java.util.LinkedHashMap[(SparkSession, String), String](
      16, 0.75f, /* accessOrder = */ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String), String])
          : Boolean = size > 64
    }

  private val wireDirMemo = boundedDirMemo()

  def wireDir(s: SparkSession, d: String): String = synchronized {
    Option(wireDirMemo.get((s, d))) match {
      case Some(dir) => dir
      case _ =>
        val dir = graft.Tables.scratchDir(s, d, "wireland") + "/wire"
        // Pre-split the landed wire asset to one file per core: the
        // streaming file source plans its micro-batch from the FILE
        // list, and the upstream encode frame is AQE-coalesced (1-2
        // partitions ≈ one 128 MB-bytes-per-split scan task), which
        // would bind the CPU-heavy base64+JSON decode of every
        // streaming consumer to 1-2 tasks — the batch side re-widens
        // after decode, but a stream must be wide AT THE SOURCE. A
        // round-robin repartition here is producer-side work, paid
        // once per (session, sfDir), outside any timed query.
        wire(s, d).repartition(s.sparkContext.defaultParallelism)
          .write.mode("overwrite").parquet(dir)
        wireDirMemo.put((s, d), dir)
        dir
    }
  }

  /** The DLQ test feed — the wire stream with the md5-chosen 1-in-16
    * payloads truncated to 16 chars — LANDED once per (session, sfDir),
    * like [[wireDir]]. The corruption is PRODUCER work (a client
    * emitting broken payloads), not part of the DLQ accounting operator
    * under test; before round 9 the stream_dlq entry re-encoded and
    * re-landed the whole corpus inside the timed query on every bench
    * repetition, which is what its 19.8× decade CPU was measuring
    * (encode appears twice in the when/otherwise tree + a full parquet
    * write per rep). Bench reports the landing as its own
    * `dlq_wire_build` line.
    */
  private val dlqDirMemo = boundedDirMemo()

  def dlqWireDir(s: SparkSession, d: String): String = synchronized {
    Option(dlqDirMemo.get((s, d))) match {
      case Some(dir) => dir
      case _ =>
        val dir = graft.Tables.scratchDir(s, d, "dlqwireland") + "/wire"
        val n = nested(s, d)
        val enc = EventCodec.encodeCol(n)
        val corruptPick =
          conv(substring(md5(col("order_id").cast("binary")), 1, 2), 16, 10)
            .cast("int") % 16 === 0
        // same one-file-per-core pre-split as wireDir — the streaming
        // source plans its micro-batch from the file list
        n.withColumn("data",
            when(corruptPick, substring(enc, 1, 16)).otherwise(enc))
          .select("data")
          .repartition(s.sparkContext.defaultParallelism)
          .write.mode("overwrite").parquet(dir)
        dlqDirMemo.put((s, d), dir)
        dir
    }
  }

  private def build(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val li = Tables.lineitem(s, d)
    val c = Tables.customer(s, d).select("c_custkey", "c_name", "c_mktsegment", "c_nationkey")
    val n = Tables.nation(s, d).select("n_nationkey", "n_name")

    // deterministic array order WITHOUT a lambda comparator (comparator
    // lambdas evaluate interpreted per comparison): build the struct with
    // line_number as the FIRST field so sort_array's natural struct
    // ordering sorts by it, then reshape to the wire field order.
    // Explicit (numPartitions, key) repartition BEFORE the aggregation:
    // it replaces the aggregation's own exchange (same shuffle count)
    // and pins the agg's width so the per-order sort_array/transform
    // CPU runs wide instead of on whatever byte-based coalescing
    // leaves. NOTE it does NOT protect the downstream join output —
    // AQE re-plans that join and coalesces its output regardless
    // (measured: 1 partition), so the post-join re-widen below is
    // still load-bearing.
    val products = li
      .repartition(s.sparkContext.defaultParallelism, col("l_orderkey"))
      .select(
      col("l_orderkey"),
      struct(
        col("l_linenumber").as("line_number"),
        concat(lit("p"), col("l_partkey")).as("product_id"),
        concat(lit("part_"), col("l_partkey")).as("name"),
        col("l_quantity").cast("int").as("quantity"),
        struct(
          col("l_returnflag").as("color"),
          col("l_linestatus").as("size")).as("item_details")).as("pd"))
      .groupBy("l_orderkey")
      .agg(sort_array(collect_list(col("pd"))).as("sorted_pd"))
      .withColumn("product_details", transform(col("sorted_pd"), p =>
        struct(
          p.getField("product_id").as("product_id"),
          p.getField("name").as("name"),
          p.getField("quantity").as("quantity"),
          p.getField("line_number").as("line_number"),
          p.getField("item_details").as("item_details"))))
      .drop("sorted_pd")

    o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(products, col("o_orderkey") === col("l_orderkey"))
      // Re-widen BEFORE the document projection: AQE coalesces the join
      // output by BYTE size, and the flat rows are a few MB at test SF —
      // without this the struct/JSON document build (CPU-bound per row,
      // not IO-bound) and everything downstream of the persisted frame
      // (base64 encode, wire decode) would run on ONE core. Per-row-
      // expensive work is partitioned by available parallelism, not
      // bytes; at 100 TB the byte heuristic and this width agree.
      .repartition(s.sparkContext.defaultParallelism)
      .select(
        concat(lit("user"), col("o_custkey")).as("customer_id"),
        concat(lit("o"), col("o_orderkey")).as("order_id"),
        concat(date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss"), lit("Z"))
          .as("order_date"),
        col("o_orderstatus").as("status"),
        struct(
          col("c_name").as("street"),
          concat(lit("city"), col("c_nationkey")).as("city"),
          col("c_mktsegment").as("state"),
          lpad(col("o_custkey").cast("string"), 5, "0").as("zip"),
          col("n_name").as("country")).as("shipping_address"),
        struct(
          col("o_orderpriority").as("payment_type"),
          col("o_totalprice").as("amount"),
          lit("USD").as("currency"),
          (pmod(col("o_orderkey"), lit(12)) + 1).cast("int").as("instalments"))
          .as("purchaise_details"),
        col("product_details"))
  }
}
