package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Behavioral event analytics: ordered funnels and cohort retention.
  *
  * The reference's event stream (view/click/signup/purchase/error wire
  * records, `python_post_producer/python_producer.py:47-113`) is exactly
  * the input of product-analytics funnel/retention queries; Athena users
  * run these over the fanned-out tables. Both operators are expressed so
  * the only shuffles are keyed on `user_id` (one exchange, reused) plus
  * one bounded final aggregate — no inequality joins, no per-user
  * event-list collection, so neither op degrades at 100 TB where a
  * single user's history must never be driver-side.
  */
object Behavior {
  import org.apache.spark.sql.DataFrame

  /** Strictly-ordered funnel counts over (user_id, event_type, ts). */
  def funnel(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
    ev.select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("t1",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("t2",
        min(when(col("event_type") === "click" && col("ts") > col("t1"),
          col("ts"))).over(w))
      .withColumn("t3",
        min(when(col("event_type") === "purchase" && col("ts") > col("t2"),
          col("ts"))).over(w))
      .groupBy("user_id")
      .agg(max("t1").as("t1"), max("t2").as("t2"), max("t3").as("t3"))
      .agg(
        count(lit(1)).as("n_users"),
        count(col("t1")).as("n_view"),
        count(col("t2")).as("n_click_after"),
        count(col("t3")).as("n_purchase_after"))
  }

  /** Weekly cohort retention matrix over (user_id, ts). */
  def retention(ev0: DataFrame): DataFrame = {
    val ev = ev0.select(col("user_id"), col("ts"))
    val first = ev.groupBy("user_id").agg(min("ts").as("first_ts"))
    ev.join(first, "user_id")
      .select(
        date_trunc("week", col("first_ts")).cast("date").as("cohort_week"),
        expr("CAST(datediff(CAST(date_trunc('week', ts) AS DATE), " +
          "CAST(date_trunc('week', first_ts) AS DATE)) div 7 AS BIGINT)")
          .as("week_n"),
        col("user_id"))
      .groupBy("cohort_week", "week_n")
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("cohort_week", "week_n")
  }

  val defs: Map[String, QueryDef] = Map(

    // C67 — strictly-ordered 3-step funnel (view → click → purchase).
    // Each step's timestamp is the earliest event of that type AFTER the
    // previous step's timestamp. Chained window aggregates over ONE
    // user_id partitioning: Spark plans a single shuffle + sort and
    // evaluates the three dependent mins in consecutive Window nodes
    // without re-exchanging. The alternative (3× self-join on user_id)
    // triples the shuffle volume for identical semantics.
    "funnel_steps" -> QueryDef(
      (s, d) => funnel(Tables.events(s, d)),
      """WITH s1 AS (
           SELECT user_id,
                  min(CASE WHEN event_type = 'view' THEN ts END) AS t1
           FROM events GROUP BY user_id),
         s2 AS (
           SELECT e.user_id,
                  min(CASE WHEN e.event_type = 'click' AND e.ts > s1.t1
                           THEN e.ts END) AS t2
           FROM events e JOIN s1 USING (user_id) GROUP BY e.user_id),
         s3 AS (
           SELECT e.user_id,
                  min(CASE WHEN e.event_type = 'purchase' AND e.ts > s2.t2
                           THEN e.ts END) AS t3
           FROM events e JOIN s2 USING (user_id) GROUP BY e.user_id)
         SELECT count(*) AS n_users,
                count(s1.t1) AS n_view,
                count(s2.t2) AS n_click_after,
                count(s3.t3) AS n_purchase_after
         FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)"""),

    // C68 — weekly cohort retention matrix. Cohort = ISO week (Monday
    // truncation, identical in both engines) of the user's first event;
    // one row per (cohort_week, week_n) with the distinct active users.
    // Plan: groupBy(user) for first-ts, join back on user_id (the
    // groupBy's exchange is reusable), then a (cohort, week) aggregate
    // whose cardinality is weeks², not events. Offsets are exact integer
    // day-diffs `div 7` — no float date math to diverge between engines.
    "cohort_retention" -> QueryDef(
      (s, d) => retention(Tables.events(s, d)),
      """WITH first AS (
           SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id)
         SELECT CAST(date_trunc('week', first_ts) AS DATE) AS cohort_week,
                CAST(date_diff('day',
                       CAST(date_trunc('week', first_ts) AS DATE),
                       CAST(date_trunc('week', ts) AS DATE)) // 7 AS BIGINT)
                  AS week_n,
                count(DISTINCT e.user_id) AS n_users
         FROM events e JOIN first USING (user_id)
         GROUP BY 1, 2 ORDER BY cohort_week, week_n"""),

    // C72 — RFM segmentation: per-user recency (last event), frequency
    // (event count), monetary (value sum) quintiled into 1–5 scores.
    // One user-keyed aggregate collapses the event stream to one row
    // per user first; then each metric's quintile comes from a
    // DISTRIBUTED dense rank (range-repartition + per-partition
    // window + offset broadcast, Packing.withGlobalPrefixSums) fed into
    // the exact ntile arithmetic (Packing.ntileFromRank) — bit-for-bit
    // the SQL ntile the oracle runs, with ZERO single-partition global
    // Windows (at 10⁹ users a global ntile sort is 3× a one-reducer
    // stage). Every rank orders by a (metric, user_id) pair, so ranks
    // are total-ordered and the engines cannot disagree on boundary
    // ties. n arrives as max(rank) — a broadcast scalar, no second
    // corpus scan. Output is the bounded 5×5×5 segment matrix.
    "rfm_segments" -> QueryDef(
      (s, d) => {
        val rfm = Tables.events(s, d)
          .groupBy("user_id")
          .agg(max("ts").as("last_ts"),
            count(lit(1)).as("freq"),
            round(sum("value"), 4).as("monetary"))
        val ranked = Seq(
          ("last_ts", "_r_rank"), ("freq", "_f_rank"), ("monetary", "_m_rank"))
          .foldLeft(rfm) { case (df, (metric, rankCol)) =>
            Packing.withGlobalPrefixSums(df, Seq(metric, "user_id"), Nil)
              .withColumnRenamed("rn", rankCol)
          }
        val n = broadcast(ranked.agg(max("_m_rank").as("_n")))
        ranked.crossJoin(n)
          .select(
            Packing.ntileFromRank(col("_r_rank"), col("_n"), 5).as("r_score"),
            Packing.ntileFromRank(col("_f_rank"), col("_n"), 5).as("f_score"),
            Packing.ntileFromRank(col("_m_rank"), col("_n"), 5).as("m_score"))
          .groupBy("r_score", "f_score", "m_score")
          .agg(count(lit(1)).as("n_users"))
          .orderBy("r_score", "f_score", "m_score")
      },
      """WITH rfm AS (
           SELECT user_id, max(ts) AS last_ts, count(*) AS freq,
                  round(sum(value), 4) AS monetary
           FROM events GROUP BY user_id),
         seg AS (
           SELECT ntile(5) OVER (ORDER BY last_ts, user_id) AS r_score,
                  ntile(5) OVER (ORDER BY freq, user_id) AS f_score,
                  ntile(5) OVER (ORDER BY monetary, user_id) AS m_score
           FROM rfm)
         SELECT r_score, f_score, m_score, count(*) AS n_users
         FROM seg GROUP BY 1, 2, 3
         ORDER BY r_score, f_score, m_score"""),

    // C73 — event-type transition matrix (the first-order Markov model
    // behind session modeling and next-action prediction): count every
    // consecutive (event → next event) pair within a user's timeline.
    // One user-keyed window (lead over ts, event_id-tiebroken so equal
    // timestamps order identically in both engines), then a bounded
    // types² aggregate. No self-join: the lag/lead formulation moves
    // each event once.
    "event_transitions" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
        Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type").as("from_type"))
          .withColumn("to_type", lead("from_type", 1).over(w))
          .filter(col("to_type").isNotNull)
          .groupBy("from_type", "to_type")
          .agg(count(lit(1)).as("n"))
          .orderBy("from_type", "to_type")
      },
      """WITH seq AS (
           SELECT event_type AS from_type,
                  lead(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS to_type
           FROM events)
         SELECT from_type, to_type, count(*) AS n
         FROM seq WHERE to_type IS NOT NULL
         GROUP BY 1, 2 ORDER BY from_type, to_type"""),

    // C74 — top user journey prefixes: each user's first three event
    // types (by time) as a path string, counted across users — the
    // "how do sessions start" report. The per-user collect is HARD-
    // BOUNDED at 3 by a rank filter BEFORE aggregation (never a full
    // per-user event list), so the group payload is O(3) at any scale.
    "user_paths" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
        Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .groupBy("user_id")
          .agg(array_join(
            transform(array_sort(collect_list(struct(col("rn"),
              col("event_type")))), x => x.getField("event_type")),
            ">").as("path"))
          .groupBy("path")
          .agg(count(lit(1)).as("n_users"))
          .orderBy(col("n_users").desc, col("path"))
          .limit(20)
      },
      """WITH ranked AS (
           SELECT user_id, event_type,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS rn
           FROM events),
         paths AS (
           SELECT user_id,
                  array_to_string(list(event_type ORDER BY rn), '>') AS path
           FROM ranked WHERE rn <= 3 GROUP BY user_id)
         SELECT path, count(*) AS n_users
         FROM paths GROUP BY path
         ORDER BY n_users DESC, path LIMIT 20"""),

    // C76 — A/B experiment readout: deterministic 50/50 arm assignment
    // by content-stable hash (md5 parity of user_id — reproducible on
    // any cluster, unlike rand() bucketing), per-user value totals, and
    // a Welch t-statistic for the arm difference. One user-keyed
    // aggregate collapses events to per-user rows; arm stats come from
    // conditional aggregates in a single pass (no per-arm scans). The
    // distributed variance merge is order-dependent in the last ulps;
    // per-user totals are O(100)-conditioned, so the 4 dp round is
    // far above the noise floor (stats_agg precedent).
    "ab_experiment" -> QueryDef(
      (s, d) => {
        val perUser = Tables.events(s, d)
          .groupBy("user_id")
          .agg(sum("value").as("v"))
          .withColumn("arm",
            when(conv(substring(md5(col("user_id").cast("string")
              .cast("binary")), 1, 1), 16, 10).cast("int") % 2 === 0, "A")
              .otherwise("B"))
        val a = col("arm") === "A"
        val b = col("arm") === "B"
        perUser.agg(
          count(when(a, 1)).as("n_a"),
          count(when(b, 1)).as("n_b"),
          avg(when(a, col("v"))).as("_ma"),
          avg(when(b, col("v"))).as("_mb"),
          stddev_samp(when(a, col("v"))).as("_sa"),
          stddev_samp(when(b, col("v"))).as("_sb"))
          .select(col("n_a"), col("n_b"),
            round(col("_ma"), 4).as("mean_a"),
            round(col("_mb"), 4).as("mean_b"),
            round((col("_ma") - col("_mb")) /
              sqrt(col("_sa") * col("_sa") / col("n_a") +
                col("_sb") * col("_sb") / col("n_b")), 4).as("t_stat"))
      },
      """WITH per_user AS (
           SELECT user_id, sum(value) AS v,
                  CASE WHEN CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 1))
                            AS INT) % 2 = 0
                       THEN 'A' ELSE 'B' END AS arm
           FROM events GROUP BY user_id),
         agg AS (
           SELECT count(CASE WHEN arm = 'A' THEN 1 END) AS n_a,
                  count(CASE WHEN arm = 'B' THEN 1 END) AS n_b,
                  avg(CASE WHEN arm = 'A' THEN v END) AS ma,
                  avg(CASE WHEN arm = 'B' THEN v END) AS mb,
                  stddev_samp(CASE WHEN arm = 'A' THEN v END) AS sa,
                  stddev_samp(CASE WHEN arm = 'B' THEN v END) AS sb
           FROM per_user)
         SELECT n_a, n_b, round(ma, 4) AS mean_a, round(mb, 4) AS mean_b,
                round((ma - mb) / sqrt(sa * sa / n_a + sb * sb / n_b), 4)
                  AS t_stat
         FROM agg"""))
}
