package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Time-series operators Spark lacks as single built-ins, composed from
  * window functions so they stay one-shuffle-per-key at any scale
  * (SURVEY §2 C13–C15).
  */
object TimeOps {

  /** As-of join via the union+window trick: tag both sides, union, then
    * `last(right, ignoreNulls)` over a key-partitioned window ordered by
    * `(ts, side)` — each left row picks the most recent right row with
    * `right.ts <= left.ts` for the same key.
    *
    * Scale: ONE shuffle (on the key), no inequality-join pair explosion
    * — the alternative `l JOIN r ON key AND r.ts <= l.ts` + argmax
    * materializes O(matches²) pairs per key before pruning. This stays
    * linear in rows per key and sorts within partitions.
    */
  def asOfJoin(left: DataFrame, right: DataFrame, key: String, ts: String,
      rightPayload: Seq[String]): DataFrame = {
    val payload = struct(rightPayload.map(col).toIndexedSeq: _*)
    val l = left.withColumn("_side", lit(1))
    val r = right.select((Seq(col(key), col(ts)) :+ payload.as("_rp")).toIndexedSeq: _*)
      .withColumn("_side", lit(0))
    // unionByName fills each side's missing columns with nulls
    val unified = l.unionByName(r, allowMissingColumns = true)
    // (ts, _side) alone is not a total order: right rows tied on
    // (key, ts) would make last(_rp) nondeterministic. The payload
    // struct itself (null on left rows, nulls-first under asc) is the
    // final tiebreak — ties resolve to the LARGEST payload tuple, which
    // the oracle mirrors with ORDER BY ts DESC, payload DESC LIMIT 1.
    val w = Window.partitionBy(key)
      .orderBy(col(ts).asc, col("_side").asc, col("_rp").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = unified
      .withColumn("_match", last(col("_rp"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1)
    rightPayload.foldLeft(matched) { (df, c) =>
      df.withColumn(c, col(s"_match.$c"))
    }.drop("_side", "_rp", "_match")
  }

  /** Gap-based sessionization: a new session starts when the same key is
    * idle longer than `gap`. Two windows over one key-shuffle: lag() to
    * flag session starts, running sum to assign session ids.
    */
  def sessionize(events: DataFrame, key: String, ts: String,
      gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col(ts).asc, col("event_id").asc)
    events
      .withColumn("_prev", lag(col(ts), 1).over(w))
      .withColumn("_new_session",
        when(col("_prev").isNull, 1)
          .when(unix_micros(col(ts)) - unix_micros(col("_prev")) >
            gapSeconds * 1000000L, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum(col("_new_session")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("_prev", "_new_session")
  }

  /** Range (interval) join via bucket-explode: Spark has no native range
    * join optimization, and a raw `ON key AND ts BETWEEN ..` plans the
    * inequality as a post-join filter over the full key equi-join. With
    * window length W and buckets of size W, every qualifying right row is
    * in the left row's bucket or the one before — exploding the right
    * side to 2 bucket keys turns the range join into an equi-join with
    * 2× fan-out, independent of key cardinality or time span. The exact
    * interval predicate then filters locally.
    */
  def rangeJoinCount(left: DataFrame, right: DataFrame, key: String,
      ts: String, windowSeconds: Long): DataFrame = {
    val bucket = (unix_micros(col(ts)) / lit(windowSeconds * 1000000L))
      .cast("long")
    val l = left.withColumn("_b", bucket)
    val r = right
      .withColumnRenamed(ts, "_r_ts")
      .withColumn("_rb", explode(array(
        (unix_micros(col("_r_ts")) / lit(windowSeconds * 1000000L)).cast("long"),
        (unix_micros(col("_r_ts")) / lit(windowSeconds * 1000000L)).cast("long") + 1)))
      .withColumnRenamed(key, "_r_key")
    l.join(r,
      col(key) === col("_r_key") && col("_b") === col("_rb") &&
        col("_r_ts") >= col(ts) - expr(s"INTERVAL $windowSeconds SECONDS") &&
        col("_r_ts") <= col(ts), "left")
      .groupBy(left.columns.map(col).toIndexedSeq: _*)
      .agg(count(col("_r_key")).as("n_in_window"))
  }

  private def eventsByType(s: org.apache.spark.sql.SparkSession, d: String,
      tpe: String): DataFrame =
    Tables.events(s, d).filter(col("event_type") === tpe)
      .select("event_id", "ts", "user_id", "value")

  /** SQL twin of [[sessionize]]'s session-start flag: opens a `WITH`
    * chain with the CTE `flagged`, where `new_session` = 1 on a user's
    * first event and on every event more than 30 minutes after the
    * previous one. `cols` is the select-list tail after `ts`.
    */
  private def sessionFlagSql(cols: String): String =
    s"""WITH flagged AS (
           SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts$cols,
                  CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL THEN 1
                       WHEN epoch_us(CAST(ts AS TIMESTAMP))
                            - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w)
                            > 1800 * 1000000 THEN 1
                       ELSE 0 END AS new_session
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)),"""

  /** Per-user 30-minute session windows with their event count and
    * value sum: `session_window_agg` over the events table and its
    * streaming twin `stream_sessions` over the events stream.
    */
  def sessionWindowStats(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 4).as("session_value"))
      .select(col("session_window.start").as("session_start"),
        col("user_id"), col("n_events"), col("session_value"))

  /** The oracle of [[sessionWindowStats]]: the lag + running-sum
    * formulation over the batch table, shared by both entries.
    */
  val sessionWindowSql: String = sessionFlagSql(", value") + """
         sessions AS (
           SELECT user_id, ts, value,
                  sum(new_session) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS session_id
           FROM flagged)
         SELECT min(ts) AS session_start, user_id, count(*) AS n_events,
                round(sum(value), 4) AS session_value
         FROM sessions GROUP BY user_id, session_id
         ORDER BY user_id, session_start"""

  val defs: Map[String, QueryDef] = Map(

    // C13b — Spark's native session_window (gap-merged intervals; the
    // same op Structured Streaming uses for stateful sessions). Oracle:
    // the lag+running-sum formulation — two formulations, one fixpoint.
    "session_window_agg" -> QueryDef(
      (s, d) =>
        sessionWindowStats(Tables.events(s, d))
          .orderBy("user_id", "session_start"),
      sessionWindowSql),

    // C77 — hourly session CONCURRENCY: for every hour of the span, how
    // many sessions were live (overlap the hour) — the load-curve
    // metric behind capacity planning and the canonical interval-
    // overlap aggregation. NOT an interval join: each session explodes
    // into the hours it touches (sessions are gap-bounded, so the
    // explode width is small and data-independent of corpus size),
    // then one count per hour. A join formulation would either
    // nested-loop or re-bucket; the explode IS the bucketing.
    "concurrent_sessions" -> QueryDef(
      (s, d) =>
        sessionize(Tables.events(s, d)
          .select("user_id", "event_id", "ts"),
          "user_id", "ts", gapSeconds = 1800)
          .groupBy("user_id", "session_id")
          .agg(min("ts").as("s0"), max("ts").as("s1"))
          .select(explode(sequence(
            date_trunc("hour", col("s0")),
            date_trunc("hour", col("s1")),
            expr("INTERVAL 1 HOUR"))).as("hour"))
          .groupBy("hour")
          .agg(count(lit(1)).as("n_live"))
          .orderBy("hour"),
      sessionFlagSql("") + """
         sessions AS (
           SELECT user_id, ts,
                  CAST(sum(new_session) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS session_id
           FROM flagged),
         spans AS (
           SELECT user_id, session_id,
                  date_trunc('hour', min(ts)) AS h0,
                  date_trunc('hour', max(ts)) AS h1
           FROM sessions GROUP BY user_id, session_id),
         hours AS (
           SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
           FROM spans)
         SELECT hour, count(*) AS n_live
         FROM hours GROUP BY hour ORDER BY hour"""),

    // C13 — sessionization, aggregated to per-session stats.
    "sessionize" -> QueryDef(
      (s, d) =>
        sessionize(Tables.events(s, d)
          .select("user_id", "event_id", "ts", "value"),
          "user_id", "ts", gapSeconds = 1800)
          .groupBy("user_id", "session_id")
          .agg(count(lit(1)).as("n_events"),
            min("ts").as("session_start"),
            max("ts").as("session_end"),
            round(sum("value"), 4).as("session_value"))
          .orderBy("user_id", "session_id"),
      sessionFlagSql(", value") + """
         sessions AS (
           -- CAST: DuckDB window sum(int) is HUGEINT; Spark's is BIGINT
           SELECT user_id, ts, value,
                  CAST(sum(new_session) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS session_id
           FROM flagged)
         SELECT user_id, session_id, count(*) AS n_events,
                min(ts) AS session_start, max(ts) AS session_end,
                round(sum(value), 4) AS session_value
         FROM sessions GROUP BY user_id, session_id
         ORDER BY user_id, session_id"""),

    // C14b — range join: clicks within the 30 min before each purchase,
    // bucket-exploded equi-join (no unbounded inequality fan-out).
    "range_join" -> QueryDef(
      (s, d) =>
        rangeJoinCount(
          eventsByType(s, d, "purchase")
            .select(col("event_id").as("purchase_id"), col("user_id"), col("ts")),
          eventsByType(s, d, "click").select("user_id", "ts"),
          key = "user_id", ts = "ts", windowSeconds = 1800)
          .select("purchase_id", "user_id", "n_in_window")
          .orderBy("purchase_id"),
      """SELECT p.event_id AS purchase_id, p.user_id,
                (SELECT count(*) FROM events c
                 WHERE c.event_type = 'click' AND c.user_id = p.user_id
                   AND CAST(c.ts AS TIMESTAMP)
                       BETWEEN CAST(p.ts AS TIMESTAMP) - INTERVAL 1800 SECOND
                           AND CAST(p.ts AS TIMESTAMP)) AS n_in_window
         FROM events p WHERE p.event_type = 'purchase'
         ORDER BY purchase_id"""),

    // C14 — as-of join: each purchase event picks the same user's most
    // recent click at-or-before it.
    "asof_join" -> QueryDef(
      (s, d) =>
        asOfJoin(
          left = eventsByType(s, d, "purchase")
            .withColumnRenamed("event_id", "purchase_id")
            .withColumnRenamed("value", "purchase_value")
            .select("user_id", "ts", "purchase_id", "purchase_value"),
          right = eventsByType(s, d, "click")
            .withColumnRenamed("event_id", "click_id")
            .select(col("user_id"), col("ts"), col("click_id"),
              col("value").as("click_value")),
          key = "user_id", ts = "ts",
          rightPayload = Seq("click_id", "click_value"))
          .select("user_id", "purchase_id", "click_id",
            "purchase_value", "click_value")
          .orderBy("purchase_id"),
      """SELECT p.user_id, p.event_id AS purchase_id,
                c.click_id, p.value AS purchase_value, c.click_value
         FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value
               FROM events WHERE event_type = 'purchase') p
         LEFT JOIN LATERAL (
              SELECT event_id AS click_id, value AS click_value
              FROM events c
              WHERE c.event_type = 'click' AND c.user_id = p.user_id
                AND CAST(c.ts AS TIMESTAMP) <= p.ts
              ORDER BY CAST(c.ts AS TIMESTAMP) DESC, event_id DESC
              LIMIT 1) c ON true
         ORDER BY purchase_id"""))

  /** C15 — HLL approximate distinct, gate-checked as a BOUND: the
    * sketch estimate itself is engine-specific (DuckDB cannot replicate
    * Spark's HLL++), so the catalog entry emits the exact count plus a
    * boolean `hll_within_5pct` derived from the estimate, and the
    * oracle asserts that boolean is literally `true` — the relative
    * error bound is hash-gated, not just spec-asserted. rsd=0.01 (the
    * sketch a production count would use when a 5% answer matters)
    * leaves 5 standard deviations of headroom to the 5% gate. The
    * production query is the approx aggregate ALONE — the exact
    * countDistinct here exists to measure the error, which is the
    * point of the gate twin. Spec additionally asserts the raw
    * estimates at <5% error.
    *
    * Plan shape: the exact count is staged as a (event_type, user_id)
    * pre-aggregate feeding a plain count — NOT countDistinct mixed
    * into the same agg as the sketch, which would make Catalyst plan
    * an Expand that doubles every input row before the shuffle. Both
    * phases partial-aggregate map-side, and the HLL only ever sees
    * the deduplicated pairs (multiplicity-insensitive, so the
    * estimate is unchanged).
    */
  val approxDefs: Map[String, QueryDef] = Map(
    "approx_users" -> QueryDef(
      (s, d) =>
        Tables.events(s, d)
          .groupBy("event_type", "user_id")
          .agg(count(lit(1)).as("_rows"))
          .groupBy("event_type")
          // count(user_id), not count(*): the pre-aggregate emits one
          // row for a NULL user_id group, which countDistinct (and the
          // oracle's count(DISTINCT ...)) would exclude
          .agg(count(col("user_id")).as("exact_users"),
            sum("_rows").as("n"),
            approx_count_distinct(col("user_id"), 0.01).as("_approx"))
          .select(col("event_type"), col("exact_users"), col("n"),
            // an all-NULL-user group has exact_users = 0; x/0 would
            // make the gate boolean NULL while the oracle says true,
            // so a zero-user group is vacuously within bound
            when(col("exact_users") > 0,
              abs(col("_approx") - col("exact_users")).cast("double")
                / col("exact_users") <= 0.05)
              .otherwise(lit(true)).as("hll_within_5pct"))
          .orderBy("event_type"),
      """SELECT event_type,
                count(DISTINCT user_id) AS exact_users,
                count(*) AS n,
                true AS hll_within_5pct
         FROM events GROUP BY event_type ORDER BY event_type"""))
}
