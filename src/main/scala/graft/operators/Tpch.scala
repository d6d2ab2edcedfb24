package graft.operators

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** The TPC-H catalog: every TPC-H query expressible on the trimmed
  * test schema, one body per query number (Q1, Q2, Q3, Q4, Q5, Q6, Q7,
  * Q8, Q10, Q12, Q13, Q14, Q15, Q17, Q18, Q19, Q22). The schema has no
  * partsupp / commitdate / receiptdate columns, so the "flavor" bodies
  * keep their query's plan shape over the columns that exist (Q4 swaps
  * its commit-vs-receipt EXISTS for a late-shipment EXISTS), and
  * Q9/Q11/Q16/Q20/Q21 are out of scope. All oracle-checked; doubles
  * are rounded to 4 dp on BOTH engines.
  *
  * Plan discipline: nation/region/part/supplier sides broadcast (dims);
  * orders⋈customer and lineitem⋈orders shuffle on their natural keys
  * and stay AQE-planned. Top-k orderings sort on the ROUNDED revenue
  * with a key tiebreak so cross-engine ulp noise cannot reorder ranks.
  */
object Tpch {

  private def revenue = col("l_extendedprice") * (lit(1) - col("l_discount"))

  val defs: Map[String, QueryDef] = Map(

    // C1 — multi-aggregate group-by, TPC-H Q1 style: partial agg map-side,
    // one shuffle on the (tiny) group key. MONEY SUMS ARE EXACT DECIMALS
    // (round-9 sf10 finding): prices/discounts are 2 dp values, and a
    // double sum over 60M rows differs between engines in its last bits
    // because the partial-agg tree and a sequential scan add in different
    // orders (measured at sf10: ...372.9941 vs ...372.9982). Casting each
    // operand to its true decimal scale first makes the sum exact and
    // order-independent; ONE cast to double at the end is then
    // correctly-rounded identically on both engines. Small-magnitude
    // averages keep the double path (their 4 dp rounding absorbs tails).
    "q1_agg" -> QueryDef(
      (s, d) => {
        val cp = Tables.cents(col("l_extendedprice"))
        val cd = Tables.cents(col("l_discount"))
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") <= lit("1998-09-02"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            round(sum("l_quantity"), 4).as("sum_qty"),
            (sum(cp).cast("double") / 100.0).as("sum_base_price"),
            (sum(cp * (lit(100L) - cd)).cast("double") / 10000.0)
              .as("sum_disc_price"),
            round(avg("l_quantity"), 4).as("avg_qty"),
            round(avg("l_discount"), 4).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      """SELECT l_returnflag, l_linestatus,
                round(sum(l_quantity), 4) AS sum_qty,
                CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                     AS DOUBLE) / 100.0 AS sum_base_price,
                CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                         * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)))
                     AS DOUBLE) / 10000.0 AS sum_disc_price,
                round(avg(l_quantity), 4) AS avg_qty,
                round(avg(l_discount), 4) AS avg_disc,
                count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus"""),

    // Q2 flavor: correlated minimum — rows matching their group's
    // minimum, via a broadcast of the per-group minima (the decorrelated
    // plan Catalyst itself would produce).
    "q2_group_min" -> QueryDef(
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val mins = li.groupBy(col("l_partkey").as("m_partkey"))
          .agg(min("l_extendedprice").as("min_price"))
        li.select("l_partkey", "l_suppkey", "l_extendedprice")
          .join(broadcast(mins),
            col("l_partkey") === col("m_partkey") &&
              col("l_extendedprice") === col("min_price"))
          .groupBy("l_partkey")
          .agg(min("l_suppkey").as("cheapest_supp"),
            round(min("l_extendedprice"), 4).as("min_price"))
          .orderBy("l_partkey")
      },
      """SELECT l_partkey, min(l_suppkey) AS cheapest_supp,
                round(min(l_extendedprice), 4) AS min_price
         FROM lineitem l
         WHERE l_extendedprice = (SELECT min(l_extendedprice)
                                  FROM lineitem WHERE l_partkey = l.l_partkey)
         GROUP BY l_partkey ORDER BY l_partkey"""),

    // Q3 — shipping priority: top unshipped-revenue orders for one
    // market segment at a cutoff date.
    "q3_shipping_priority" -> QueryDef(
      (s, d) =>
        Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
          .select("c_custkey")
          .join(Tables.orders(s, d)
              .filter(col("o_orderdate") < lit("1997-07-01"))
              .select("o_orderkey", "o_custkey", "o_orderdate"),
            col("c_custkey") === col("o_custkey"))
          .join(Tables.lineitem(s, d)
              .filter(col("l_shipdate") > lit("1997-07-01"))
              .select("l_orderkey", "l_extendedprice", "l_discount"),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy("l_orderkey", "o_orderdate")
          .agg(round(sum(revenue), 4).as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10),
      """SELECT l_orderkey, o_orderdate,
                round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
         FROM customer
         JOIN orders   ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1997-07-01'
           AND l_shipdate  > TIMESTAMP '1997-07-01'
         GROUP BY l_orderkey, o_orderdate
         ORDER BY revenue DESC, l_orderkey LIMIT 10"""),

    // Q4 flavor — order-priority check: orders from one year with at
    // least one line shipped more than 60 days after the order date
    // (the trimmed schema has no commit/receipt dates, so "late" is
    // ship-lag; the EXISTS becomes a left-semi join, the same
    // decorrelation Catalyst performs).
    "q4_late_orders" -> QueryDef(
      (s, d) =>
        Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1996-01-01") &&
            col("o_orderdate") < lit("1997-01-01"))
          .join(Tables.lineitem(s, d).select("l_orderkey", "l_shipdate"),
            col("o_orderkey") === col("l_orderkey") &&
              col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
            "left_semi")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("order_count"))
          .orderBy("o_orderpriority"),
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate <  TIMESTAMP '1997-01-01'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey
                         AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
         GROUP BY o_orderpriority ORDER BY o_orderpriority"""),

    // TPC-H Q5-style 5-way join: revenue by nation for one region+year,
    // dims broadcast down the chain, facts shuffle once on the agg key.
    "q5_region_revenue" -> QueryDef(
      (s, d) =>
        Tables.lineitem(s, d)
          .select("l_orderkey", "l_extendedprice", "l_discount")
          .join(Tables.orders(s, d)
            .filter(col("o_orderdate") >= lit("1996-01-01") &&
              col("o_orderdate") < lit("1998-01-01"))
            .select("o_orderkey", "o_custkey"),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(Tables.customer(s, d).select("c_custkey", "c_nationkey")),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, d)),
            col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("n_name").as("nation"))
          // exact long-cents money sum (q1_agg discipline — the double
          // sum diverged between engines in its last bits at sf10)
          .agg((sum(Tables.cents(col("l_extendedprice"))
              * (lit(100L) - Tables.cents(col("l_discount"))))
            .cast("double") / 10000.0).as("revenue"))
          .orderBy(col("revenue").desc, col("nation")),
      """SELECT n_name AS nation,
                CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                         * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)))
                     AS DOUBLE) / 10000.0 AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1998-01-01'
         GROUP BY n_name ORDER BY revenue DESC, nation"""),

    // C2 — selective filter + scalar agg, TPC-H Q6 style. The three
    // predicates all push to the parquet scan (PushedFilters). Revenue
    // is an exact decimal sum (see q1_agg).
    "q6_filter" -> QueryDef(
      (s, d) =>
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1996-01-01") &&
            col("l_shipdate") < lit("1997-01-01") &&
            col("l_discount").between(0.03, 0.07) &&
            col("l_quantity") < 24)
          .agg((sum(Tables.cents(col("l_extendedprice"))
              * Tables.cents(col("l_discount")))
            .cast("double") / 10000.0).as("revenue")),
      """SELECT CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                          * CAST(round(l_discount * 100, 0) AS BIGINT))
                     AS DOUBLE) / 10000.0 AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount BETWEEN 0.03 AND 0.07
           AND l_quantity < 24"""),

    // Q7 — volume shipping between two nations, by supplier nation,
    // customer nation and ship year.
    "q7_volume_shipping" -> QueryDef(
      (s, d) => {
        val n = Tables.nation(s, d).select("n_nationkey", "n_name")
        val supp = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
          .join(n, col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name").as("supp_nation"))
        val cust = Tables.customer(s, d).select("c_custkey", "c_nationkey")
          .join(n, col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("n_name").as("cust_nation"))
        Tables.lineitem(s, d)
          .select("l_orderkey", "l_suppkey", "l_shipdate",
            "l_extendedprice", "l_discount")
          .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
          .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
            col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .filter(
            (col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
              (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).as("l_year"))
          .agg(round(sum(revenue), 4).as("revenue"))
          .orderBy("supp_nation", "cust_nation", "l_year")
      },
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
                CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
                round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation sn ON s_nationkey = sn.n_nationkey
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation cn ON c_nationkey = cn.n_nationkey
         WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
            OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
         GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),

    // Q8 — market share: fraction of ASIA-customer revenue in one part
    // type supplied from NATION_5, per order year. Numerator and
    // denominator aggregate in the same pass; one division at the end.
    "q8_market_share" -> QueryDef(
      (s, d) => {
        val n = Tables.nation(s, d)
        val asiaNations = n
          .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey").as("asia_nationkey"))
        val suppNation = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
          .join(broadcast(n.select(col("n_nationkey"), col("n_name").as("supp_nation"))),
            col("s_nationkey") === col("n_nationkey"))
          .select("s_suppkey", "supp_nation")
        Tables.lineitem(s, d)
          .select("l_orderkey", "l_partkey", "l_suppkey",
            "l_extendedprice", "l_discount")
          .join(broadcast(Tables.part(s, d)
              .filter(col("p_type") === "PROMO").select("p_partkey")),
            col("l_partkey") === col("p_partkey"))
          .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
          .join(Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_orderdate"),
            col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(asiaNations),
            col("c_nationkey") === col("asia_nationkey"))
          .groupBy(year(col("o_orderdate")).as("o_year"))
          .agg(round(
            sum(when(col("supp_nation") === "NATION_5", revenue).otherwise(lit(0.0))) /
              sum(revenue), 4).as("mkt_share"))
          .orderBy("o_year")
      },
      """SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
                round(sum(CASE WHEN sn.n_name = 'NATION_5'
                               THEN l_extendedprice * (1 - l_discount)
                               ELSE 0.0 END) /
                      sum(l_extendedprice * (1 - l_discount)), 4) AS mkt_share
         FROM lineitem
         JOIN part     ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation sn ON s_nationkey = sn.n_nationkey
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation cn ON c_nationkey = cn.n_nationkey
         JOIN region   ON cn.n_regionkey = r_regionkey
         WHERE p_type = 'PROMO' AND r_name = 'ASIA'
         GROUP BY 1 ORDER BY o_year"""),

    // Q10 — returned-item report: top 20 customers by lost revenue in
    // one quarter.
    "q10_returned_items" -> QueryDef(
      (s, d) =>
        Tables.customer(s, d)
          .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_name")),
            col("c_nationkey") === col("n_nationkey"))
          .join(Tables.orders(s, d)
              .filter(col("o_orderdate") >= lit("1996-10-01") &&
                col("o_orderdate") < lit("1997-01-01"))
              .select("o_orderkey", "o_custkey"),
            col("c_custkey") === col("o_custkey"))
          .join(Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
              .select("l_orderkey", "l_extendedprice", "l_discount"),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
          .agg(round(sum(revenue), 4).as("lost_revenue"))
          .orderBy(col("lost_revenue").desc, col("c_custkey"))
          .limit(20),
      """SELECT c_custkey, c_name, c_acctbal, n_name,
                round(sum(l_extendedprice * (1 - l_discount)), 4)
                  AS lost_revenue
         FROM customer
         JOIN nation   ON c_nationkey = n_nationkey
         JOIN orders   ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderdate >= TIMESTAMP '1996-10-01'
           AND o_orderdate <  TIMESTAMP '1997-01-01'
           AND l_returnflag = 'R'
         GROUP BY 1, 2, 3, 4
         ORDER BY lost_revenue DESC, c_custkey LIMIT 20"""),

    // Q12 flavor: join + per-bucket conditional counts.
    "q12_priority_class" -> QueryDef(
      (s, d) =>
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1996-01-01") &&
            col("l_shipdate") < lit("1997-01-01"))
          .select("l_orderkey", "l_linestatus")
          .join(Tables.orders(s, d).select("o_orderkey", "o_orderpriority"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy("l_linestatus")
          .agg(
            count(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1))
              .as("high_line_count"),
            count(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1))
              .as("low_line_count"))
          .orderBy("l_linestatus"),
      """SELECT l_linestatus,
                count(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                           THEN 1 END) AS high_line_count,
                count(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                           THEN 1 END) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'
         GROUP BY l_linestatus ORDER BY l_linestatus"""),

    // Q13 — customer order-count distribution, zero-order customers
    // included (the left join Q13 exists to test).
    "q13_order_counts" -> QueryDef(
      (s, d) =>
        Tables.customer(s, d).select("c_custkey")
          .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
            col("c_custkey") === col("o_custkey"), "left_outer")
          .groupBy("c_custkey")
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy("c_count")
          .agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc),
      """SELECT c_count, count(*) AS custdist
         FROM (SELECT c_custkey, count(o_orderkey) AS c_count
               FROM customer LEFT JOIN orders ON c_custkey = o_custkey
               GROUP BY c_custkey) t
         GROUP BY c_count ORDER BY custdist DESC, c_count DESC"""),

    // Q14 flavor: ratio of conditional revenue to total revenue in one
    // aggregation pass (numerator/denominator computed together, single
    // division at the end keeps the float order identical cross-engine).
    "q14_brand_share" -> QueryDef(
      (s, d) =>
        Tables.lineitem(s, d).select("l_partkey", "l_extendedprice", "l_discount")
          .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
            col("l_partkey") === col("p_partkey"))
          .agg(
            round(
              sum(when(col("p_brand") === "Brand#1",
                col("l_extendedprice") * (lit(1) - col("l_discount")))
                .otherwise(lit(0.0))) * lit(100.0) /
                sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
              .as("brand1_share_pct")),
      """SELECT round(
                  sum(CASE WHEN p_brand = 'Brand#1'
                           THEN l_extendedprice * (1 - l_discount)
                           ELSE 0.0 END) * 100.0 /
                  sum(l_extendedprice * (1 - l_discount)), 4)
                  AS brand1_share_pct
         FROM lineitem JOIN part ON l_partkey = p_partkey"""),

    // Q15 — top supplier(s): revenue per supplier over one quarter,
    // keep every supplier hitting the maximum. The max is a scalar
    // broadcast; equality compares the ROUNDED revenue on both sides
    // so cross-engine ulp noise cannot drop the winner.
    "q15_top_supplier" -> QueryDef(
      (s, d) => {
        val rev = Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1996-01-01") &&
            col("l_shipdate") < lit("1996-04-01"))
          .groupBy("l_suppkey")
          .agg(round(sum(revenue), 4).as("total_revenue"))
        val top = rev.agg(max("total_revenue").as("max_revenue"))
        rev.join(broadcast(top),
            col("total_revenue") === col("max_revenue"))
          .join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_name")),
            col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
          .orderBy("s_suppkey")
      },
      """WITH rev AS (
           SELECT l_suppkey,
                  round(sum(l_extendedprice * (1 - l_discount)), 4)
                    AS total_revenue
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate <  TIMESTAMP '1996-04-01'
           GROUP BY l_suppkey)
         SELECT s_suppkey, s_name, total_revenue
         FROM rev JOIN supplier ON l_suppkey = s_suppkey
         WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
         ORDER BY s_suppkey"""),

    // C49 — Q17 flavor: rows under half their group's average, against
    // a broadcast of per-group averages (the decorrelated plan).
    // l_quantity is integer-valued, so the per-part averages are exact
    // in both engines and the < comparison cannot flip on a ulp.
    "q17_small_qty" -> QueryDef(
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .select("l_partkey", "l_quantity", "l_extendedprice")
        val half = li.groupBy(col("l_partkey").as("h_partkey"))
          .agg((avg("l_quantity") * 0.5).as("half_avg"))
        // money fold in exact decimal (the decimal_sum discipline): a
        // double sum of ~1e10 magnitude rounded at 4 dp needs 15
        // significant digits — beyond double's order-independent range,
        // so partition-order vs sequential summation diverged at the
        // sf1 scale step. Decimal addition is associative; the single
        // double division/round at the end starts from the identical
        // exact value on both engines.
        li.join(broadcast(half), col("l_partkey") === col("h_partkey"))
          .filter(col("l_quantity") < col("half_avg"))
          .agg(round(
            sum(col("l_extendedprice").cast("decimal(18,4)"))
              .cast("decimal(28,4)").cast("double") / 7.0, 4)
            .as("avg_yearly"),
            count(lit(1)).as("n_lines"))
      },
      """WITH a AS (SELECT l_partkey, avg(l_quantity) * 0.5 AS half_avg
                    FROM lineitem GROUP BY 1)
         SELECT round(CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)))
                               AS DECIMAL(28,4)) AS DOUBLE) / 7.0, 4)
                  AS avg_yearly,
                count(*) AS n_lines
         FROM lineitem JOIN a USING (l_partkey)
         WHERE l_quantity < half_avg"""),

    // C50 — Q18 flavor: HAVING over a grouped fact, joined back to the
    // order + broadcast customer dims. Quantity sums are exact.
    "q18_large_orders" -> QueryDef(
      (s, d) => {
        val big = Tables.lineitem(s, d)
          .groupBy("l_orderkey")
          .agg(sum("l_quantity").as("total_qty"))
          .filter(col("total_qty") > 250)
        big.join(Tables.orders(s, d)
            .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(Tables.customer(s, d).select("c_custkey", "c_name")),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_name"), col("o_orderkey"), col("o_orderdate"),
            col("o_totalprice"), col("total_qty"))
          .orderBy("o_orderkey")
      },
      """SELECT c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
         FROM (SELECT l_orderkey, sum(l_quantity) AS total_qty
               FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 250) big
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         ORDER BY o_orderkey"""),

    // Q19 flavor: disjunction of conjunctive predicate groups — the
    // whole OR-tree evaluates in the scan stage.
    "q19_disjunctive" -> QueryDef(
      (s, d) =>
        Tables.lineitem(s, d)
          .join(broadcast(Tables.part(s, d).select("p_partkey", "p_size", "p_brand")),
            col("l_partkey") === col("p_partkey"))
          .filter(
            (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
              col("l_quantity").between(1, 20)) ||
              (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
                col("l_quantity").between(10, 30)))
          // exact long-cents money sum (q1_agg discipline)
          .agg((sum(Tables.cents(col("l_extendedprice"))
              * (lit(100L) - Tables.cents(col("l_discount"))))
            .cast("double") / 10000.0).as("revenue"),
            count(lit(1)).as("n_lines")),
      """SELECT CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                          * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)))
                     AS DOUBLE) / 10000.0 AS revenue,
                count(*) AS n_lines
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 1 AND 20)
            OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
                AND l_quantity BETWEEN 10 AND 30)"""),

    // C51 — Q22 flavor: scalar-subquery threshold + anti join + agg:
    // above-average-balance customers with no urgent orders, by segment.
    "q22_no_urgent" -> QueryDef(
      (s, d) => {
        val cust = Tables.customer(s, d)
          .select("c_custkey", "c_mktsegment", "c_acctbal")
        val avgBal = cust.filter(col("c_acctbal") > 0)
          .agg(avg("c_acctbal").as("avg_bal"))
        val urgent = Tables.orders(s, d)
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey"))
        cust.join(broadcast(avgBal))
          .filter(col("c_acctbal") > col("avg_bal"))
          .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_cust"),
            round(sum("c_acctbal"), 4).as("total_bal"))
          .orderBy("c_mktsegment")
      },
      """SELECT c_mktsegment, count(*) AS n_cust,
                round(sum(c_acctbal), 4) AS total_bal
         FROM customer
         WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                            WHERE c_acctbal > 0)
           AND NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderpriority = '1-URGENT')
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""))
}
