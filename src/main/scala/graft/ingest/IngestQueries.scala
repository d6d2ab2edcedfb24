package graft.ingest

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Oracle-checked catalog entries for the ingestion surface (SURVEY §2 A).
  *
  * Each query rebuilds the producer's nested document from the flat test
  * tables (`SyntheticOrders.nested`), pushes it through the codec and/or
  * one fan-out transform, and lands on a flat result whose semantics are
  * re-expressible as plain SQL over the base tables — that flat SQL is
  * the DuckDB oracle. So the oracle checks the WHOLE path:
  * nested-build → (base64 JSON round trip) → explode/flatten → project.
  */
object IngestQueries {

  /** The `fanout_products` oracle, also the fixpoint of its streaming
    * twin `stream_fanout_products`: the flat lineitem projection.
    */
  val productDetailsSql: String =
    """SELECT concat('p', l_partkey) AS product_id,
                concat('o', l_orderkey) AS order_id,
                concat('part_', l_partkey) AS name,
                CAST(l_quantity AS INT) AS quantity,
                l_linenumber AS line_number,
                l_returnflag AS color,
                l_linestatus AS size
         FROM lineitem
         ORDER BY order_id, line_number"""

  /** DLQ accounting of a wire frame's `data` column in ONE aggregate
    * pass: decoded (`n_good`) and dead-lettered (`n_bad`) record counts
    * and the good side's order-key sum. `dlq_routing` runs it over the
    * landed corrupted feed, `stream_dlq` over the same feed as a stream.
    */
  def dlqAccounting(wire: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    wire.withColumn("_evt", EventCodec.parseWire(col("data")))
      .agg(
        count(when(col("_evt.order_id").isNotNull, 1)).as("n_good"),
        count(when(col("_evt.order_id").isNull, 1)).as("n_bad"),
        sum(substring(col("_evt.order_id"), 2, 18).cast("long"))
          .as("good_key_sum"))

  /** The oracle of [[dlqAccounting]]: the md5-chosen 1-in-16 corrupt
    * subset named from the base tables.
    */
  val dlqAccountingSql: String =
    """WITH o AS (
           SELECT concat('o', o_orderkey) AS order_id, o_orderkey
           FROM orders
           WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)),
         tagged AS (
           SELECT o_orderkey,
                  CAST(('0x' || substring(md5(order_id), 1, 2)) AS INT) % 16 = 0
                    AS corrupt
           FROM o)
         SELECT count(CASE WHEN NOT corrupt THEN 1 END) AS n_good,
                count(CASE WHEN corrupt THEN 1 END) AS n_bad,
                CAST(sum(CASE WHEN NOT corrupt THEN o_orderkey END) AS BIGINT)
                  AS good_key_sum
         FROM tagged"""

  /** Orders per (year, month) partition of the landed orders sink: the
    * oracle of both A8 sink round trips (by path and by table name).
    */
  private val sinkMonthsSql: String =
    """SELECT strftime(o_orderdate, '%Y') AS year,
                strftime(o_orderdate, '%m') AS month,
                count(*) AS n_orders
         FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
         GROUP BY 1, 2 ORDER BY year, month"""

  /** The shipping-address columns and the orders⋈customer⋈nation body
    * of the `fanout_addresses` oracle, which `catalog_join` repeats
    * after the orders columns.
    */
  private val addressesSql: String =
    """n_name AS country,
                c_mktsegment AS state,
                concat('city', c_nationkey) AS city,
                c_name AS street,
                lpad(CAST(o_custkey AS VARCHAR), 5, '0') AS zip
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
         ORDER BY order_id"""

  val defs: Map[String, QueryDef] = Map(

    // A1 — full wire-format round trip: nested doc → to_json → base64 →
    // unbase64 → from_json(schema) → project across all three nesting
    // levels (top field, struct field, array element field).
    "ingest_decode" -> QueryDef(
      (s, d) => {
        val decoded = EventCodec.decode(SyntheticOrders.wire(s, d))
        decoded.select(
          col("order_id"),
          col("status"),
          round(col("purchaise_details.amount"), 4).as("amount"),
          size(col("product_details")).as("n_products"))
          .orderBy("order_id")
      },
      """SELECT concat('o', o_orderkey) AS order_id,
                o_orderstatus AS status,
                round(o_totalprice, 4) AS amount,
                (SELECT count(*) FROM lineitem WHERE l_orderkey = o_orderkey)::INT
                  AS n_products
         FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
         ORDER BY order_id"""),

    // A2 — JSON field extraction from string payloads (`events.props`).
    "ingest_json_props" -> QueryDef(
      (s, d) =>
        Tables.events(s, d)
          .select(col("event_type"),
            get_json_object(col("props"), "$.k").cast("long").as("k"))
          .groupBy("event_type")
          .agg(sum("k").as("sum_k"), count(lit(1)).as("n"))
          .orderBy("event_type"),
      """SELECT event_type,
                CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
                count(*) AS n
         FROM events GROUP BY event_type ORDER BY event_type"""),

    // A2b — JSON payload parsed as a MAP type (schema-less key space, vs
    // A2's path extraction): from_json to map<string,long> + key access.
    "ingest_props_map" -> QueryDef(
      (s, d) =>
        Tables.events(s, d)
          .select(col("event_id"),
            from_json(col("props"), org.apache.spark.sql.types.MapType(
              org.apache.spark.sql.types.StringType,
              org.apache.spark.sql.types.LongType)).as("m"))
          .select(col("event_id"),
            element_at(col("m"), "k").as("k"),
            size(col("m")).as("n_keys"))
          .orderBy("event_id"),
      """SELECT event_id,
                CAST(props->>'$.k' AS BIGINT) AS k,
                CAST(len(json_keys(props)) AS INT) AS n_keys
         FROM events ORDER BY event_id"""),

    // A3 — orders fan-out: 4-column projection + ISO-ts→DATE collapse.
    "fanout_orders" -> QueryDef(
      (s, d) =>
        Fanout.orders(SyntheticOrders.nested(s, d))
          .orderBy("order_id"),
      """SELECT concat('user', o_custkey) AS customer_id,
                concat('o', o_orderkey) AS order_id,
                CAST(o_orderdate AS DATE) AS order_date,
                o_orderstatus AS status
         FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
         ORDER BY order_id"""),

    // A4 — product_details fan-out: array explode + struct flatten. One
    // output row per lineitem of each order — the oracle is the flat
    // lineitem projection.
    "fanout_products" -> QueryDef(
      (s, d) =>
        Fanout.productDetails(SyntheticOrders.nested(s, d))
          .orderBy("order_id", "line_number"),
      productDetailsSql),

    // A5 — purchase_details fan-out: struct flatten.
    "fanout_purchases" -> QueryDef(
      (s, d) =>
        Fanout.purchaseDetails(SyntheticOrders.nested(s, d))
          .withColumn("amount", round(col("amount"), 4))
          .orderBy("order_id"),
      """SELECT concat('o', o_orderkey) AS order_id,
                o_orderpriority AS payment_type,
                round(o_totalprice, 4) AS amount,
                'USD' AS currency,
                CAST(o_orderkey % 12 + 1 AS INT) AS instalments
         FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
         ORDER BY order_id"""),

    // A6 — shipping_addresses fan-out: struct flatten (address fields
    // synthesized from customer⋈nation).
    "fanout_addresses" -> QueryDef(
      (s, d) =>
        Fanout.shippingAddresses(SyntheticOrders.nested(s, d))
          .orderBy("order_id"),
      """SELECT concat('o', o_orderkey) AS order_id,
                """ + addressesSql),

    // A7 — Firehose dynamic-partition key derivation: zero-padded
    // year/month/day/hour columns, aggregated to partition file counts
    // (exactly what the sink's directory layout would be).
    "partition_keys" -> QueryDef(
      (s, d) =>
        Fanout.withPartitionKeys(
          Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
          col("o_orderdate"))
          .groupBy("year", "month")
          .agg(count(lit(1)).as("n_orders"))
          .orderBy("year", "month"),
      """SELECT strftime(o_orderdate, '%Y') AS year,
                strftime(o_orderdate, '%m') AS month,
                count(*) AS n_orders
         FROM orders GROUP BY 1, 2 ORDER BY year, month"""),

    // A15 — compaction as a gate entry: fragment the events table into
    // 32 small files (a Firehose buffer-flush directory), compact to
    // ~4 MB targets clustered by user_id, and aggregate the COMPACTED
    // copy — the oracle aggregates the raw table, so a single lost or
    // duplicated row during the rewrite breaks the hash.
    "compact_roundtrip" -> QueryDef(
      (s, d) => {
        val tmp = graft.Tables.freshScratchDir("compact")
        val frag = tmp + "/frag"
        val out = tmp + "/compacted"
        Tables.events(s, d).repartition(32)
          .write.mode("overwrite").parquet(frag)
        Compaction.compact(s, frag, out,
          targetBytes = 4L * 1024 * 1024, clusterBy = Seq("user_id"))
        s.read.parquet(out).agg(
          count(lit(1)).as("n_events"),
          countDistinct("user_id").as("n_users"),
          round(sum("value"), 4).as("sum_value"),
          min("event_id").as("min_id"),
          max("event_id").as("max_id"))
      },
      """SELECT count(*) AS n_events,
                count(DISTINCT user_id) AS n_users,
                round(sum(value), 4) AS sum_value,
                min(event_id) AS min_id,
                max(event_id) AS max_id
         FROM events"""),

    // A8 gate twin — the Firehose dynamic-partitioned SINK round-tripped:
    // fan out orders with derived year/month keys, land them through the
    // partitioned parquet sink, read the directory BACK (partition
    // columns come from directory names, so a mis-partitioned or lost
    // row changes the result), and aggregate per partition. The oracle
    // is the same flat SQL as partition_keys — a row landing in the
    // wrong partition directory breaks the hash even if no row is lost.
    "partitioned_sink_roundtrip" -> QueryDef(
      (s, d) => {
        // deterministic per (process, sfDir), overwritten each run — a
        // fresh createTempDirectory per invocation would leak one full
        // partitioned copy of the fan-out per bench rep / verify run
        val out = Tables.scratchDir(s, d, "psink") + "/orders"
        PartitionedSink.write(ordersByMonth(SyntheticOrders.nested(s, d)), out,
          partitionCols = Seq("year", "month"),
          clusterCols = Seq("customer_id"))
        s.read.parquet(out)
          .groupBy("year", "month")
          .agg(count(lit(1)).as("n_orders"))
          // partition TYPE INFERENCE parses directory names back as
          // ints ("07" → 7), so re-pad to the sink's zero-padded string
          // form the oracle uses
          .select(col("year").cast("string").as("year"),
            lpad(col("month").cast("string"), 2, "0").as("month"),
            col("n_orders"))
          .orderBy("year", "month")
      },
      sinkMonthsSql),

    // A26 — Glue-analog CATALOG registration: the reference registers
    // the Firehose sink in Glue so Athena queries it BY TABLE NAME
    // (terraform/main.tf glue_catalog resources;
    // athena_sql_query_examples/*.sql read `orders_data_table`) — the
    // one reference workflow step that previously had no twin here.
    // Spark twin: land the SAME A8 partitioned sink, register an
    // EXTERNAL partitioned table over the directory, run
    // `MSCK REPAIR TABLE` (the crawler / partition-discovery analog —
    // it lists `year=/month=` directories into catalog partitions,
    // metadata-only), and aggregate BY NAME through the SQL surface.
    // Partition columns are declared STRING so the catalog serves the
    // sink's zero-padded directory values verbatim (no read-side
    // type-inference re-pad) — exactly what Glue's string partition
    // keys give Athena. The oracle is the path twin's flat SQL, so a
    // partition the discovery step misses breaks the hash.
    "catalog_roundtrip" -> QueryDef(
      (s, d) => {
        val out = Tables.scratchDir(s, d, "glue") + "/orders"
        val tbl = "graft_orders_by_name"
        registerPartitioned(s, tbl, ordersByMonth(SyntheticOrders.nested(s, d)),
          out, Seq("year", "month"), Seq("customer_id"))
        s.sql(s"SELECT year, month, count(*) AS n_orders FROM $tbl " +
          "GROUP BY year, month ORDER BY year, month")
      },
      sinkMonthsSql),

    // A27 — the reference's ACTUAL catalog topology: terraform/main.tf
    // registers FOUR Glue tables, one per Firehose sink, and
    // athena_sql_query_examples/OrderAndClientDetails.sql joins TWO of
    // them BY NAME (orders ⋈ shipping_addresses ON order_id). A26
    // proves single-table registration; this entry lands all four
    // fan-out sinks, registers each as an external partitioned table
    // (STRING partition keys served verbatim, MSCK partition
    // discovery — the crawler analog), and runs the reference's
    // two-table join through the SQL surface by table name with the
    // reference's exact projection. The oracle is the path-free flat
    // SQL (orders⋈customer⋈nation), so a partition either sink's
    // discovery misses — or a row mis-landed by either write — breaks
    // the hash. Partition layouts mirror the reference lambdas:
    // orders + product/purchase by time keys, shipping_addresses by
    // country first (lambda_shipping_addresses_transformation
    // partitions country/year/month/day/hour). IngestSpec additionally
    // proves all four tables queryable by name with path-twin counts.
    "catalog_join" -> QueryDef(
      (s, d) => {
        catalogTables(s, d)
        s.sql("""SELECT o.customer_id, o.order_id, o.order_date, o.status,
                        sa.country, sa.state, sa.city, sa.street, sa.zip
                 FROM graft_cat_orders o
                 JOIN graft_cat_shipping_addresses sa
                   ON o.order_id = sa.order_id
                 ORDER BY o.order_id""")
      },
      """SELECT concat('user', o_custkey) AS customer_id,
                concat('o', o_orderkey) AS order_id,
                CAST(o_orderdate AS DATE) AS order_date,
                o_orderstatus AS status,
                """ + addressesSql),

    // A14 gate twin — dead-letter routing under PLANTED corruption: a
    // deterministic 1-in-16 subset of wire records (chosen by md5 of
    // the order id, so the oracle can name the same subset without
    // seeing the wire bytes) is truncated mid-payload — the base64
    // still decodes but the JSON is a prefix, so from_json yields the
    // null sentinel (Spark's base64 decoding is MIME-lenient, which is
    // why invalid-alphabet mangling would NOT corrupt reliably). The
    // codec must route exactly those to the DLQ and decode the rest;
    // the oracle recomputes both partitions' counts and the good-side
    // order-key sum from the base tables — one mis-routed record
    // breaks either the counts or the sum.
    "dlq_routing" -> QueryDef(
      (s, d) => {
        // Consume the MEMOIZED corrupted wire landing (the same
        // producer-side asset the streaming twin reads; Bench times it
        // as dlq_wire_build) and classify in ONE aggregate pass.
        // Round-16 rewrite, guide §4.4 / §7.2 "duplicated subtrees":
        // the previous inline formulation
        // (encodeCol twice in a when/otherwise, then decodeWithDlq's
        // filter+project per side) re-evaluated the full
        // to_json→base64 encode up to 6× and the unbase64→from_json
        // parse up to 4× PER ROW — the pushed-down isNotNull filter
        // re-computes the aliased parse expression below the
        // projection that also computes it (plans/r16/
        // dlq_routing_before.txt shows the duplicated chains; the
        // _after plan parses the landed `data` column exactly once).
        // Measured: 21.1 → 12.8 executor-CPU-s at sf0.1/local[32]
        // (cold-codegen floor) and 15.8 → 3.0 at local[8].
        // Classification semantics are IDENTICAL (same md5-chosen
        // 1-in-16 truncation, same order_id null sentinel), proven by
        // the unchanged oracle hash.
        dlqAccounting(s.read.parquet(SyntheticOrders.dlqWireDir(s, d)))
      },
      dlqAccountingSql),

    // A9 — DynamoDB latest-per-key upsert view
    // (`lambda_kinesis_consumer:33-48` put_item = last write wins):
    // arg-max by arrival order (event_id) per key. One shuffle on the
    // key; at 100 TB this is the standard dedup-by-key pattern.
    "latest_per_key" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("event_id").desc)
        Tables.events(s, d)
          .select("user_id", "event_id", "event_type", "value")
          .withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1)
          .drop("_rn")
          .orderBy("user_id")
      },
      """SELECT user_id, event_id, event_type, value FROM (
           SELECT user_id, event_id, event_type, value,
                  row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
           FROM events) WHERE rn = 1
         ORDER BY user_id"""))

  /** A27's four-sink catalog: lands every fan-out sink and registers it
    * as an external partitioned table (STRING partition keys, MSCK
    * discovery). Memoized per (session, sfDir) — the production shape:
    * the crawler registers tables ONCE per landing, then every Athena
    * query runs by name against the standing catalog. Re-landing four
    * sinks per bench repetition would time the crawler, not the by-name
    * join under test (same argument as `SyntheticOrders.wireDir`).
    * The memo records WHICH sfDir's landing the four (session-global)
    * table names currently serve, and a hit is VALIDATED before being
    * trusted: it still checks `tableExists` on all four names, so a
    * dropped table or a cleaned scratch dir re-lands instead of
    * silently serving a stale/absent catalog (round-7 ADVICE item).
    * Alternating sfDirs within one session re-land by design — the
    * table names are global, so serving two dirs concurrently is
    * impossible, only detectable. The map holds the SparkSession
    * WEAKLY, so the memo never pins a stopped session.
    */
  private val catalogMemo = new java.util.WeakHashMap[
    org.apache.spark.sql.SparkSession, String]()

  private val catalogTableNames = Seq("graft_cat_orders",
    "graft_cat_product_details", "graft_cat_purchase_details",
    "graft_cat_shipping_addresses")

  def catalogTables(s: org.apache.spark.sql.SparkSession, d: String): Unit =
    synchronized {
      val valid = catalogMemo.get(s) == d &&
        catalogTableNames.forall(s.catalog.tableExists)
      if (!valid) {
        val base = Tables.scratchDir(s, d, "glue4")
        val nested = SyntheticOrders.nested(s, d)
        // Partition keys derived ONCE PER ORDER on the compact document
        // frame, not per exploded line item (round-15 guide §2.3
        // "project early": the old per-row
        // to_timestamp(regexp_replace(...))→date_format chain on the
        // exploded product frame was measured at ~40 executor-CPU-s of
        // the build — 4× the explode itself). order_date is the
        // producer's fixed-format ISO string "yyyy-MM-dd'T'HH:mm:ss'Z'"
        // by construction (SyntheticOrders.build date_format), so the
        // zero-padded year/month partition values are substrings — no
        // timestamp parse. Values are bit-identical to the old
        // date_format derivation (both zero-pad), proven by the
        // catalog_join/catalog_roundtrip oracle hashes.
        val keyed = nested
          .withColumn("year", substring(col("order_date"), 1, 4))
          .withColumn("month", substring(col("order_date"), 6, 2))
        // Sequential on purpose: overlapping the four write jobs from a
        // thread pool (guide §2.6) was MEASURED WORSE here — 59→119
        // executor-CPU-s with no wall win (four distinct cold codegen
        // classes interpreting concurrently + four rebalance exchanges
        // contending); the sinks are too short for tail back-fill to
        // pay on this corpus. Revisit only with profile evidence.
        registerPartitioned(s, "graft_cat_orders", ordersByMonth(nested),
          base + "/orders", Seq("year", "month"), Seq("customer_id"))
        registerPartitioned(s, "graft_cat_product_details",
          Fanout.productDetails(keyed, passthrough = Seq("year", "month")),
          base + "/product_details", Seq("year", "month"))
        registerPartitioned(s, "graft_cat_purchase_details",
          Fanout.purchaseDetails(keyed, passthrough = Seq("year", "month")),
          base + "/purchase_details", Seq("year", "month"))
        registerPartitioned(s, "graft_cat_shipping_addresses",
          Fanout.shippingAddresses(keyed, passthrough = Seq("year", "month")),
          base + "/shipping_addresses", Seq("country", "year", "month"))
        catalogMemo.put(s, d)
      }
    }

  /** The orders sink keyed by the order's year and month (A8's layout). */
  private def ordersByMonth(nested: org.apache.spark.sql.DataFrame) =
    Fanout.withPartitionKeys(Fanout.orders(nested), col("order_date"))
      .select("order_id", "customer_id", "order_date", "status",
        "year", "month")

  /** Land `df` through the partitioned sink and register it by name as
    * an external table with STRING partition keys, then discover its
    * partitions with MSCK (the Glue crawler analog).
    */
  private def registerPartitioned(s: org.apache.spark.sql.SparkSession,
      name: String, df: org.apache.spark.sql.DataFrame, path: String,
      partitionCols: Seq[String], clusterCols: Seq[String] = Nil): Unit = {
    PartitionedSink.write(df, path, partitionCols, clusterCols)
    val dataDdl = df.schema.fields
      .filterNot(f => partitionCols.contains(f.name))
      .map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")
    val partDdl = partitionCols.map(c => s"$c STRING").mkString(", ")
    s.sql(s"DROP TABLE IF EXISTS $name")
    s.sql(s"CREATE TABLE $name ($dataDdl, $partDdl) USING PARQUET " +
      s"PARTITIONED BY (${partitionCols.mkString(", ")}) " +
      s"LOCATION '$path'")
    s.sql(s"MSCK REPAIR TABLE $name")
  }
}
