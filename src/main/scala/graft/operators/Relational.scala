package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Relational-engine completeness catalog (SURVEY §2 C-series, D21):
  * joins (semi, anti, outer, full outer), set ops, grouping (rollup,
  * cube, grouping sets, pivot/unpivot, HAVING), windows (running, ROWS
  * and RANGE frames, per-group top-k, global row numbering),
  * expressions (string, date, CASE, null handling, exact decimals),
  * SCD2 history and higher-order array functions. The TPC-H-numbered
  * bodies live in [[Tpch]].
  *
  * Each operator is declared with the DataFrame API so Catalyst plans it:
  * filters/projections push to the parquet scan, aggregations run
  * partial-then-final, dimension joins broadcast, top-k plans as
  * TakeOrderedAndProject (no global sort). Doubles in results are rounded
  * to 4 dp on BOTH engines so cross-engine hashes are stable.
  */
object Relational {

  val defs: Map[String, QueryDef] = Map(

    // C3 — top-k: orderBy+limit plans as TakeOrderedAndProject — each
    // partition keeps k rows, only k×partitions reach the driver. No
    // global sort at 100 TB.
    "topk_orders" -> QueryDef(
      (s, d) =>
        Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(100),
      """SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"""),

    // C4 — window functions: rank + running sum per customer. One shuffle
    // on the partition key; window evaluated sorted-within-partition.
    "window_running" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        Tables.orders(s, d)
          .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
          .withColumn("order_rank", row_number().over(w))
          .withColumn("running_spend",
            round(sum("o_totalprice")
              .over(w.rowsBetween(Window.unboundedPreceding, 0)), 4))
          .select("o_custkey", "o_orderkey", "order_rank", "running_spend")
          .orderBy("o_custkey", "order_rank")
      },
      """SELECT o_custkey, o_orderkey,
                row_number() OVER w AS order_rank,
                round(sum(o_totalprice) OVER
                  (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
                  AS running_spend
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, order_rank"""),

    // C5 — left-semi join (EXISTS): customers with at least one high-value
    // order. Semi joins never duplicate or widen rows — right side only
    // gates.
    "semi_join" -> QueryDef(
      (s, d) =>
        Tables.customer(s, d).select("c_custkey", "c_name")
          .join(Tables.orders(s, d).filter(col("o_totalprice") > 200000)
            .select("o_custkey"),
            col("c_custkey") === col("o_custkey"), "left_semi")
          .orderBy("c_custkey"),
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_totalprice > 200000)
         ORDER BY c_custkey"""),

    // C6 — left-anti join (NOT EXISTS): parts never shipped in bulk
    // (selective right side keeps the result non-trivial at every sf).
    "anti_join" -> QueryDef(
      (s, d) =>
        Tables.part(s, d).select("p_partkey", "p_name")
          .join(Tables.lineitem(s, d).filter(col("l_quantity") >= 45)
            .select("l_partkey"),
            col("p_partkey") === col("l_partkey"), "left_anti")
          .orderBy("p_partkey"),
      """SELECT p_partkey, p_name FROM part
         WHERE NOT EXISTS (SELECT 1 FROM lineitem
                           WHERE l_partkey = p_partkey AND l_quantity >= 45)
         ORDER BY p_partkey"""),

    // C7 — left outer join + null handling: per-customer order count
    // including order-less customers.
    "outer_join" -> QueryDef(
      (s, d) =>
        Tables.customer(s, d).select("c_custkey", "c_name")
          .join(Tables.orders(s, d).select("o_custkey", "o_orderkey"),
            col("c_custkey") === col("o_custkey"), "left")
          .groupBy("c_custkey", "c_name")
          .agg(count("o_orderkey").as("n_orders"))
          .orderBy("c_custkey"),
      """SELECT c_custkey, c_name, count(o_orderkey) AS n_orders
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey, c_name ORDER BY c_custkey"""),

    // C8 — distinct: dropDuplicates = hash aggregate, partial-then-final.
    "distinct_segments" -> QueryDef(
      (s, d) =>
        Tables.customer(s, d).select("c_mktsegment").distinct()
          .orderBy("c_mktsegment"),
      "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment"),

    // C9 — rollup: hierarchical subtotals (status, (status, priority),
    // grand total) in one pass.
    "rollup_sales" -> QueryDef(
      (s, d) =>
        Tables.orders(s, d)
          .rollup("o_orderstatus", "o_orderpriority")
          // exact long-cents money sum (q1_agg discipline)
          .agg((sum(Tables.cents(col("o_totalprice")))
            .cast("double") / 100.0).as("total"),
            count(lit(1)).as("n"))
          .orderBy(col("o_orderstatus").asc_nulls_first,
            col("o_orderpriority").asc_nulls_first),
      """SELECT o_orderstatus, o_orderpriority,
                CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                     AS DOUBLE) / 100.0 AS total,
                count(*) AS n
         FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus ASC NULLS FIRST,
                  o_orderpriority ASC NULLS FIRST"""),

    // C10 — manual pivot via conditional aggregation (ANSI-portable, and
    // exactly what Spark's pivot() lowers to).
    "pivot_status" -> QueryDef(
      (s, d) =>
        Tables.orders(s, d)
          .groupBy("o_orderpriority")
          .agg(
            count(when(col("o_orderstatus") === "F", 1)).as("n_f"),
            count(when(col("o_orderstatus") === "O", 1)).as("n_o"),
            count(when(col("o_orderstatus") === "P", 1)).as("n_p"))
          .orderBy("o_orderpriority"),
      """SELECT o_orderpriority,
                count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
                count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
                count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),

    // C11 — union + distinct set-op across two key domains.
    "union_keys" -> QueryDef(
      (s, d) =>
        Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
          .union(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
          .distinct()
          .orderBy("nationkey"),
      """SELECT DISTINCT nationkey FROM (
           SELECT c_nationkey AS nationkey FROM customer
           UNION ALL SELECT s_nationkey FROM supplier)
         ORDER BY nationkey"""),

    // C12 — time-bucketed aggregation (the batch analog of a tumbling
    // window; Firehose buffers into time buckets the same way).
    "events_hourly" -> QueryDef(
      (s, d) =>
        Tables.events(s, d)
          .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            round(sum("value"), 4).as("total_value"))
          .orderBy("hour", "event_type"),
      """SELECT date_trunc('hour', ts) AS hour, event_type,
                count(*) AS n_events, round(sum(value), 4) AS total_value
         FROM events GROUP BY 1, 2 ORDER BY hour, event_type"""),

    // Aggregate statistics: stddev/variance/correlation per group.
    "stats_agg" -> QueryDef(
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(
            round(stddev_samp(col("l_extendedprice")), 4).as("sd_price"),
            round(var_samp(col("l_quantity")), 4).as("var_qty"),
            round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("qty_price_corr"),
            round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("qty_price_cov"))
          .orderBy("l_returnflag"),
      """SELECT l_returnflag,
                round(stddev_samp(l_extendedprice), 4) AS sd_price,
                round(var_samp(l_quantity), 4) AS var_qty,
                round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
                round(covar_samp(l_quantity, l_extendedprice), 4) AS qty_price_cov
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // Exact percentiles (linear interpolation both engines).
    "percentiles" -> QueryDef(
      (s, d) =>
        Tables.orders(s, d)
          .groupBy("o_orderstatus")
          .agg(
            round(percentile(col("o_totalprice"), lit(0.5)), 4).as("p50"),
            round(percentile(col("o_totalprice"), lit(0.9)), 4).as("p90"),
            round(percentile(col("o_totalprice"), lit(0.99)), 4).as("p99"))
          .orderBy("o_orderstatus"),
      """SELECT o_orderstatus,
                round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
                round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
                round(quantile_cont(o_totalprice, 0.99), 4) AS p99
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""),

    // CUBE with grouping flags: all 4 aggregation levels in one pass.
    "cube_sales" -> QueryDef(
      (s, d) =>
        Tables.lineitem(s, d)
          .cube("l_returnflag", "l_linestatus")
          .agg(round(sum("l_quantity"), 4).as("sum_qty"),
            grouping(col("l_returnflag")).as("g_rf"),
            grouping(col("l_linestatus")).as("g_ls"))
          .orderBy(col("l_returnflag").asc_nulls_first,
            col("l_linestatus").asc_nulls_first),
      """SELECT l_returnflag, l_linestatus,
                round(sum(l_quantity), 4) AS sum_qty,
                grouping(l_returnflag) AS g_rf,
                grouping(l_linestatus) AS g_ls
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""),

    // String expression battery (1-based substring semantics match).
    "string_ops" -> QueryDef(
      (s, d) =>
        Tables.part(s, d).select(
          col("p_partkey"),
          upper(col("p_brand")).as("brand_u"),
          substring(col("p_type"), 1, 5).as("type5"),
          regexp_replace(col("p_name"), "part", "item").as("renamed"),
          length(col("p_name")).as("name_len"),
          concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"))
          .orderBy("p_partkey"),
      """SELECT p_partkey,
                upper(p_brand) AS brand_u,
                substring(p_type, 1, 5) AS type5,
                regexp_replace(p_name, 'part', 'item', 'g') AS renamed,
                length(p_name) AS name_len,
                concat_ws('|', p_brand, p_type) AS brand_type
         FROM part ORDER BY p_partkey"""),

    // Date expression battery: extraction + formatting + arithmetic.
    "date_ops" -> QueryDef(
      (s, d) =>
        Tables.orders(s, d)
          .groupBy(
            year(col("o_orderdate")).as("y"),
            quarter(col("o_orderdate")).as("q"))
          .agg(count(lit(1)).as("n"),
            min(date_format(col("o_orderdate"), "yyyy-MM")).as("first_month"),
            max(datediff(col("o_orderdate"), lit("1995-01-01"))).as("max_days_since"))
          .orderBy("y", "q"),
      """SELECT CAST(extract(year FROM o_orderdate) AS INT) AS y,
                CAST(extract(quarter FROM o_orderdate) AS INT) AS q,
                count(*) AS n,
                min(strftime(o_orderdate, '%Y-%m')) AS first_month,
                CAST(max(date_diff('day', DATE '1995-01-01',
                                   CAST(o_orderdate AS DATE))) AS INT)
                  AS max_days_since
         FROM orders GROUP BY 1, 2 ORDER BY y, q"""),

    // CASE-based bucketing.
    "case_tiers" -> QueryDef(
      (s, d) =>
        Tables.orders(s, d)
          .withColumn("tier",
            when(col("o_totalprice") < 50000, "small")
              .when(col("o_totalprice") < 150000, "medium")
              .otherwise("large"))
          .groupBy("tier")
          .agg(count(lit(1)).as("n"),
            round(avg("o_totalprice"), 4).as("avg_price"))
          .orderBy("tier"),
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                     WHEN o_totalprice < 150000 THEN 'medium'
                     ELSE 'large' END AS tier,
                count(*) AS n, round(avg(o_totalprice), 4) AS avg_price
         FROM orders GROUP BY 1 ORDER BY tier"""),

    // Scalar subquery: orders above the global average.
    "above_avg_orders" -> QueryDef(
      (s, d) => {
        val o = Tables.orders(s, d)
        val avgDf = o.agg(avg("o_totalprice").as("_avg"))
        o.crossJoin(broadcast(avgDf))
          .filter(col("o_totalprice") > col("_avg"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_above"))
          .orderBy("o_orderstatus")
      },
      """SELECT o_orderstatus, count(*) AS n_above
         FROM orders
         WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
         GROUP BY o_orderstatus ORDER BY o_orderstatus"""),

    // INTERSECT: customers active in both order statuses.
    "intersect_keys" -> QueryDef(
      (s, d) => {
        val o = Tables.orders(s, d)
        o.filter(col("o_orderstatus") === "F").select("o_custkey")
          .intersect(o.filter(col("o_orderstatus") === "O").select("o_custkey"))
          .orderBy("o_custkey")
      },
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         INTERSECT
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
         ORDER BY o_custkey"""),

    // EXCEPT: customers with F orders but no O orders.
    "except_keys" -> QueryDef(
      (s, d) => {
        val o = Tables.orders(s, d)
        o.filter(col("o_orderstatus") === "F").select("o_custkey")
          .except(o.filter(col("o_orderstatus") === "O").select("o_custkey"))
          .orderBy("o_custkey")
      },
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         EXCEPT
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
         ORDER BY o_custkey"""),

    // HAVING: only groups above a support threshold.
    "having_filter" -> QueryDef(
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy("l_suppkey")
          .agg(count(lit(1)).as("n_items"),
            round(sum("l_extendedprice"), 4).as("supp_revenue"))
          .filter(col("n_items") > 100)
          .orderBy("l_suppkey"),
      """SELECT l_suppkey, count(*) AS n_items,
                round(sum(l_extendedprice), 4) AS supp_revenue
         FROM lineitem GROUP BY l_suppkey HAVING count(*) > 100
         ORDER BY l_suppkey"""),

    // Per-group top-k: 3 biggest orders per market segment (window +
    // rank filter — the distributed top-k-per-key pattern).
    "topk_per_group" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy("c_mktsegment")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
          .join(broadcast(Tables.customer(s, d).select("c_custkey", "c_mktsegment")),
            col("o_custkey") === col("c_custkey"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select("c_mktsegment", "rk", "o_orderkey", "o_totalprice")
          .orderBy("c_mktsegment", "rk")
      },
      """SELECT c_mktsegment, rk, o_orderkey, o_totalprice FROM (
           SELECT c_mktsegment, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY c_mktsegment
                                     ORDER BY o_totalprice DESC, o_orderkey) AS rk
           FROM orders JOIN customer ON o_custkey = c_custkey) t
         WHERE rk <= 3 ORDER BY c_mktsegment, rk"""),

    // UNPIVOT/melt: wide measure columns → long (metric, value) rows.
    "unpivot_measures" -> QueryDef(
      (s, d) =>
        Tables.lineitem(s, d)
          .select("l_returnflag", "l_quantity", "l_discount", "l_tax")
          .unpivot(
            ids = Array(col("l_returnflag")),
            values = Array(col("l_quantity"), col("l_discount"), col("l_tax")),
            variableColumnName = "metric",
            valueColumnName = "v")
          .groupBy("l_returnflag", "metric")
          .agg(round(sum("v"), 4).as("total"))
          .orderBy("l_returnflag", "metric"),
      """SELECT l_returnflag, metric, round(sum(v), 4) AS total
         FROM (
           SELECT l_returnflag, metric, v
           FROM lineitem
           UNPIVOT (v FOR metric IN (l_quantity, l_discount, l_tax)))
         GROUP BY l_returnflag, metric ORDER BY l_returnflag, metric"""),

    // Window-function battery: lag/lead/ntile/percent_rank in one pass.
    "window_funcs" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy("o_orderstatus")
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        Tables.orders(s, d)
          .select("o_orderstatus", "o_orderkey", "o_totalprice")
          .withColumn("prev_price", round(lag("o_totalprice", 1).over(w), 4))
          .withColumn("next_price", round(lead("o_totalprice", 1).over(w), 4))
          .withColumn("quartile", ntile(4).over(w))
          .withColumn("pct_rank", round(percent_rank().over(w), 6))
          .select("o_orderstatus", "o_orderkey", "prev_price", "next_price",
            "quartile", "pct_rank")
          .orderBy("o_orderstatus", "o_orderkey")
      },
      """SELECT o_orderstatus, o_orderkey,
                round(lag(o_totalprice, 1) OVER w, 4) AS prev_price,
                round(lead(o_totalprice, 1) OVER w, 4) AS next_price,
                CAST(ntile(4) OVER w AS INT) AS quartile,
                round(percent_rank() OVER w, 6) AS pct_rank
         FROM orders
         WINDOW w AS (PARTITION BY o_orderstatus
                      ORDER BY o_totalprice, o_orderkey)
         ORDER BY o_orderstatus, o_orderkey"""),

    // Full outer join: per-nation customer and supplier counts, either
    // side may be absent.
    "full_outer_join" -> QueryDef(
      (s, d) => {
        val c = Tables.customer(s, d).groupBy(col("c_nationkey").as("ck"))
          .agg(count(lit(1)).as("n_customers"))
        val su = Tables.supplier(s, d).groupBy(col("s_nationkey").as("sk"))
          .agg(count(lit(1)).as("n_suppliers"))
        c.join(su, col("ck") === col("sk"), "full_outer")
          .select(
            coalesce(col("ck"), col("sk")).as("nationkey"),
            coalesce(col("n_customers"), lit(0L)).as("n_customers"),
            coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
          .orderBy("nationkey")
      },
      """SELECT coalesce(ck, sk) AS nationkey,
                coalesce(n_customers, 0) AS n_customers,
                coalesce(n_suppliers, 0) AS n_suppliers
         FROM (SELECT c_nationkey AS ck, count(*) AS n_customers
               FROM customer GROUP BY 1) c
         FULL OUTER JOIN
              (SELECT s_nationkey AS sk, count(*) AS n_suppliers
               FROM supplier GROUP BY 1) s
           ON ck = sk
         ORDER BY nationkey"""),

    // Null-handling battery: nullif / coalesce / null-aware counting.
    "null_handling" -> QueryDef(
      (s, d) =>
        Tables.lineitem(s, d)
          .withColumn("disc_or_null", nullif(col("l_discount"), lit(0.0)))
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).as("n_rows"),
            count(col("disc_or_null")).as("n_discounted"),
            round(avg(coalesce(col("disc_or_null"), lit(0.0))), 6)
              .as("avg_disc_with_zeros"),
            round(avg(col("disc_or_null")), 6).as("avg_disc_nonzero"))
          .orderBy("l_returnflag"),
      """SELECT l_returnflag,
                count(*) AS n_rows,
                count(nullif(l_discount, 0.0)) AS n_discounted,
                round(avg(coalesce(nullif(l_discount, 0.0), 0.0)), 6)
                  AS avg_disc_with_zeros,
                round(avg(nullif(l_discount, 0.0)), 6) AS avg_disc_nonzero
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // Exact decimal arithmetic: money sums must not be floating point at
    // 100 TB — cast once at the scan, aggregate exactly.
    "decimal_sum" -> QueryDef(
      (s, d) =>
        Tables.orders(s, d)
          .withColumn("price_dec",
            col("o_totalprice").cast("decimal(18,2)"))
          .groupBy("o_orderstatus")
          // aggregation is exact decimal; the final cast to double is
          // transport-only (the gate reads Spark parquet with pyarrow —
          // Decimal objects — but DuckDB results as float64; both sides
          // take the nearest double of the SAME exact decimal)
          .agg(sum(col("price_dec")).cast("decimal(18,2)").cast("double")
              .as("total_exact"),
            count(lit(1)).as("n"))
          .orderBy("o_orderstatus"),
      """SELECT o_orderstatus,
                CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                          AS DECIMAL(18,2)) AS DOUBLE)
                  AS total_exact,
                count(*) AS n
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""),

    // C46 — explicit GROUPING SETS (beyond rollup/cube), with grouping
    // flags disambiguating real NULLs from grouped-out columns.
    "grouping_sets_sales" -> QueryDef(
      (s, d) =>
        Tables.orders(s, d)
          .groupingSets(
            Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
            col("o_orderstatus"), col("o_orderpriority"))
          .agg(grouping(col("o_orderstatus")).cast("int").as("g_status"),
            grouping(col("o_orderpriority")).cast("int").as("g_priority"),
            count(lit(1)).as("n"),
            // exact long-cents money sum (q1_agg discipline)
            (sum(Tables.cents(col("o_totalprice")))
              .cast("double") / 100.0).as("total"))
          .orderBy("o_orderstatus", "o_orderpriority"),
      """SELECT o_orderstatus, o_orderpriority,
                CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
                CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
                count(*) AS n,
                CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                     AS DOUBLE) / 100.0 AS total
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
         ORDER BY o_orderstatus, o_orderpriority"""),

    // C47 — RANGE window frame: per-event rolling 1-hour sum/count per
    // user, frame bounded by VALUE (microseconds), not row count.
    "window_range_frame" -> QueryDef(
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
          .withColumn("_tsus", unix_micros(col("ts")))
        val w = Window.partitionBy("user_id").orderBy(col("_tsus"))
          .rangeBetween(-3600000000L, 0)
        ev.select(col("event_id"), col("user_id"),
            count(lit(1)).over(w).as("n_last_hour"),
            round(sum("value").over(w), 4).as("value_last_hour"))
          .orderBy("event_id")
      },
      """SELECT event_id, user_id,
                count(*) OVER w AS n_last_hour,
                round(sum(value) OVER w, 4) AS value_last_hour
         FROM events
         WINDOW w AS (PARTITION BY user_id
                      ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
         ORDER BY event_id"""),

    // C48 — fixed-width histogram: bucket arithmetic is the same double
    // op on both engines, so boundaries agree bit-for-bit.
    "histogram_prices" -> QueryDef(
      (s, d) =>
        Tables.orders(s, d)
          .groupBy(floor(col("o_totalprice") / 50000).cast("bigint")
            .as("bucket"))
          .agg(count(lit(1)).as("n"),
            // exact long-cents money sum (q1_agg discipline)
            (sum(Tables.cents(col("o_totalprice")))
              .cast("double") / 100.0).as("total"))
          .orderBy("bucket"),
      """SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
                count(*) AS n,
                CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                     AS DOUBLE) / 100.0 AS total
         FROM orders GROUP BY 1 ORDER BY bucket"""),

    // C52 — SCD2 history: each order's validity interval per customer,
    // closed by the next order (lead), open for the latest.
    "scd2_history" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("valid_from").asc, col("o_orderkey").asc)
        Tables.orders(s, d)
          .select(col("o_custkey"), col("o_orderkey"),
            col("o_orderdate").as("valid_from"))
          .withColumn("valid_to", lead("valid_from", 1).over(w))
          .withColumn("is_current", col("valid_to").isNull.cast("int"))
          .orderBy("o_custkey", "o_orderkey")
      },
      """SELECT o_custkey, o_orderkey, o_orderdate AS valid_from,
                lead(o_orderdate) OVER
                  (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS valid_to,
                CAST(lead(o_orderdate) OVER
                  (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) IS NULL AS INT)
                  AS is_current
         FROM orders ORDER BY o_custkey, o_orderkey"""),

    // C53 — higher-order array functions (transform/filter/aggregate)
    // over the embedding column; all accumulation in double on both
    // sides (DuckDB's float32 list accumulation diverges otherwise).
    "array_hof" -> QueryDef(
      (s, d) =>
        Tables.embeddings(s, d)
          .select(col("vec_id"),
            round(
              aggregate(
                filter(transform(col("embedding"), x => x.cast("double")),
                  x => x > 0),
                lit(0.0), (acc, x) => acc + x), 4).as("pos_sum"),
            size(filter(col("embedding"), x => x < 0)).cast("bigint")
              .as("n_neg"))
          .orderBy("vec_id"),
      """SELECT vec_id,
                round(coalesce(list_sum(
                  list_filter([CAST(x AS DOUBLE) for x in embedding],
                              x -> x > 0)), 0.0), 4) AS pos_sum,
                CAST(len(list_filter(embedding, x -> x < 0)) AS BIGINT)
                  AS n_neg
         FROM embeddings ORDER BY vec_id"""),

    // D21 — corpus token extraction: regexp_extract_all + explode +
    // global count, deterministic top-20 (count desc, token asc).
    "extract_long_words" -> QueryDef(
      (s, d) =>
        Tables.documents(s, d)
          .select(explode(regexp_extract_all(col("text"),
            lit("[a-z]{6,}"), lit(0))).as("tok"))
          .groupBy("tok")
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("tok").asc)
          .limit(20),
      """SELECT tok, count(*) AS n
         FROM (SELECT unnest(regexp_extract_all(text, '[a-z]{6,}')) AS tok
               FROM documents) t
         GROUP BY tok ORDER BY n DESC, tok LIMIT 20"""),

    // C54 — global row numbering at scale (no single-reducer sort).
    "global_rownum" -> QueryDef(
      (s, d) =>
        Packing.withGlobalPrefixSums(
          Tables.orders(s, d).select("o_orderkey", "o_totalprice"),
          Seq("o_orderkey"), Nil)
          .select("o_orderkey", "rn")
          .orderBy("o_orderkey"),
      """SELECT o_orderkey,
                row_number() OVER (ORDER BY o_orderkey) AS rn
         FROM orders ORDER BY o_orderkey"""))
}
