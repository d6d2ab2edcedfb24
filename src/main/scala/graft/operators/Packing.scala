package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Training-run data layout (SURVEY §2 D34/D35): the deterministic
  * global shuffle and the token-budget sequence packing that turn a
  * curated corpus into the stream a trainer actually reads — plus the
  * one global-order pass they, and every other globally ranked entry,
  * run on.
  */
object Packing {

  /** Global order statistics in ONE ranged pass, without a
    * single-reducer global window: emits the dense rank `rn` (1-based)
    * in `sortCols` order plus `prefix_<col>`, the exclusive global
    * prefix sum, for each long column of `valueCols` (none for a plain
    * row numbering). The single-reducer-free formulation of
    * `row_number()` + `sum() OVER (ROWS UNBOUNDED PRECEDING AND 1
    * PRECEDING)`: `row_number() over (order by k)` plans one partition —
    * the classic 100 TB bottleneck. Instead, range-repartition on the
    * sort key (so partition i's keys all precede partition i+1's), run
    * one per-partition window stack for all the stats, and add
    * per-partition offsets. Callers pass a globally unique sort key:
    * ties across a range boundary would be numbered
    * nondeterministically.
    *
    * The offsets come from a #partitions-row (row count, value totals)
    * aggregate collected driver-side (the `RDD.zipWithIndex` pattern —
    * bounded by the partition count, never the data) and are re-emitted
    * as `typedlit` map literals, so the plan carries no global window
    * and no offsets join. Every task's plan embeds those maps, one
    * entry per range partition and stat: fine at today's partition
    * counts, but a run at thousands of shuffle partitions should
    * broadcast the offsets instead.
    */
  def withGlobalPrefixSums(df: DataFrame, sortCols: Seq[String],
      valueCols: Seq[String]): DataFrame = {
    // Width follows the DATA, not a constant (round 16, guide §2
    // "scale-adaptive partitioning"): repartitionByRange WITHOUT an
    // explicit count starts from spark.sql.shuffle.partitions and lets
    // AQE coalesce adjacent ranges down to the advisory partition size.
    // Round 15 pinned width to max(8, defaultParallelism), which at
    // local[32] gave every tiny frame 32 range partitions + 32
    // checkpoint blocks per pass — rfm_segments (3 sequential passes on
    // a 5k-row frame) measured 3.0 s at 32 cores vs 1.2 s at 8, and
    // ks_drift 6.1 s vs 0.7 s, pure per-partition fixed cost. AQE
    // coalescing keeps small frames narrow and big frames wide; range
    // CONTIGUITY is preserved by coalescing (adjacent partitions merge),
    // and the emitted stats are partition-count-INVARIANT anyway: the
    // sort key is a total order, so a row's rank and prefix are fixed by
    // its position in that order no matter where the range boundaries
    // fall — proven by the unchanged oracle hashes.
    // Materialize the ranged layout ONCE: RangePartitioner samples its
    // boundaries per-RDD, so evaluating this subtree twice (offset
    // stats + final numbering) could assign the same row to different
    // partitions and corrupt the numbering.
    val ranged0 = df
      .repartitionByRange(sortCols.map(col): _*)
      .withColumn("_pid", spark_partition_id())
    val ranged = graft.Materialize.cut(ranged0)
    val stats = ranged.groupBy("_pid")
      .agg(count(lit(1)).as("_pcnt"),
        valueCols.map(c => sum(col(c)).as(s"_pt_$c")): _*)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1),
        valueCols.indices.map(i =>
          if (r.isNullAt(i + 2)) 0L else r.getLong(i + 2))))
      .sortBy(_._1)
    val pids = stats.map(_._1)
    val rowOff = pids.zip(stats.scanLeft(0L)(_ + _._2).init).toMap
    val wIn = Window.partitionBy("_pid")
      .orderBy(sortCols.map(c => col(c).asc): _*)
    val wInPre = wIn.rowsBetween(Window.unboundedPreceding, -1)
    val withRn = ranged.withColumn("rn",
      row_number().over(wIn).cast("long") +
        element_at(typedlit(rowOff), col("_pid")))
    valueCols.zipWithIndex.foldLeft(withRn) { case (acc, (c, i)) =>
      val valOff = pids
        .zip(stats.scanLeft(0L)(_ + _._3(i)).init).toMap
      acc.withColumn(s"prefix_$c",
        coalesce(sum(col(c)).over(wInPre), lit(0L)) +
          element_at(typedlit(valOff), col("_pid")))
    }.drop("_pid")
  }

  /** Exact `ntile(k)` reconstructed from a global dense rank: with n
    * rows, the first n mod k buckets take ceil(n/k) rows and the rest
    * floor(n/k) — the SQL-standard definition, applied arithmetically
    * to (rank, n) so the bucket id never needs the planner's
    * single-partition global Window. Pair with `withGlobalPrefixSums`
    * for the rank. The q=0 (n < k) divide is unreachable: the
    * big-bucket branch then covers every rank, and CaseWhen only
    * evaluates the branch it takes.
    */
  def ntileFromRank(rank: Column, n: Column, k: Int): Column = {
    val q = floor(n / lit(k))
    val r = n % lit(k)
    val big = r * (q + lit(1))
    when(rank <= big, floor((rank - lit(1)) / (q + lit(1))) + lit(1))
      .otherwise(r + floor((rank - big - lit(1)) / q) + lit(1))
      .cast("int")
  }

  private def shuffleKey(salt: String) =
    md5(concat(col("doc_id").cast("string"), lit(salt)).cast("binary"))

  val defs: Map[String, QueryDef] = Map(

    // D34 — deterministic global training shuffle: every doc gets a
    // dense rank in md5(doc_id||salt) order. Content-stable (same
    // permutation on any cluster/partitioning/engine — a re-run of a
    // crashed job resumes the SAME stream) and single-reducer-free via
    // withGlobalPrefixSums.
    "corpus_shuffle" -> QueryDef(
      (s, d) =>
        withGlobalPrefixSums(
          Tables.documents(s, d)
            .withColumn("h", shuffleKey(":shuffle"))
            .select("doc_id", "h"),
          Seq("h"), Nil)
          .select(col("doc_id"), col("rn").as("shuffle_rank"))
          .orderBy("shuffle_rank"),
      """SELECT doc_id,
                row_number() OVER
                  (ORDER BY md5(CAST(doc_id AS VARCHAR) || ':shuffle'))
                  AS shuffle_rank
         FROM documents ORDER BY shuffle_rank"""),

    // D35 — sequence packing: concatenate the shuffled token stream and
    // cut it into fixed 2048-token training sequences. A doc's sequence
    // assignment is floor(exclusive-prefix / capacity) — docs straddle
    // boundaries exactly as the trainer's concat-and-split does. The
    // prefix sum is the distributed one above; the DuckDB oracle is the
    // single-node window formulation of the same stream.
    "pack_sequences" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("h", shuffleKey(":pack"))
          .withColumn("n_tokens",
            size(split(trim(col("text")), "\\s+")).cast("long"))
          .select("doc_id", "h", "n_tokens")
        withGlobalPrefixSums(docs, Seq("h"), Seq("n_tokens"))
          .withColumn("bin", floor(col("prefix_n_tokens") / 2048).cast("long"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n_docs_start"),
            sum("n_tokens").as("doc_tokens"))
          .orderBy("bin")
      },
      """WITH t AS (
           SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':pack') AS h,
                  CAST(len(regexp_split_to_array(trim(text), '\s+'))
                       AS BIGINT) AS n_tokens
           FROM documents),
         p AS (
           SELECT doc_id, h, n_tokens,
                  coalesce(sum(n_tokens) OVER
                    (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING), 0) AS prefix
           FROM t)
         SELECT CAST(floor(prefix / 2048.0) AS BIGINT) AS bin,
                count(*) AS n_docs_start,
                CAST(sum(n_tokens) AS BIGINT) AS doc_tokens
         FROM p GROUP BY 1 ORDER BY bin"""),

    // D102 — truncation budget report: per source, how many docs
    // exceed the 2048-token training-sequence capacity and how many
    // tokens a hard truncation at that boundary would discard. The
    // decision input for choosing D35's concat-and-split (loses
    // nothing, splits thoughts) vs truncate (loses tails) vs D46's
    // overlap chunking (loses nothing, duplicates overlap tokens) —
    // per feed, because long-form feeds pay wildly different bills
    // under each. One scan, exact longs, source-bounded collapse.
    "truncation_report" -> QueryDef(
      (s, d) =>
        Tables.documents(s, d)
          .select(col("source"),
            size(split(trim(col("text")), "\\s+")).cast("long").as("n"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("n") > 2048, lit(1L)).otherwise(lit(0L)))
              .as("n_over"),
            sum(when(col("n") > 2048, col("n") - 2048).otherwise(lit(0L)))
              .as("tokens_lost"))
          .withColumn("over_frac",
            round(col("n_over").cast("double") / col("n_docs"), 4))
          .orderBy("source"),
      """SELECT source, count(*) AS n_docs,
                CAST(sum(CASE WHEN len(regexp_split_to_array(trim(text),
                                       '\s+')) > 2048
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_over,
                CAST(sum(CASE WHEN len(regexp_split_to_array(trim(text),
                                       '\s+')) > 2048
                              THEN len(regexp_split_to_array(trim(text),
                                       '\s+')) - 2048
                              ELSE 0 END) AS BIGINT) AS tokens_lost,
                round(CAST(sum(CASE WHEN len(regexp_split_to_array(
                                            trim(text), '\s+')) > 2048
                                    THEN 1 ELSE 0 END) AS DOUBLE)
                      / count(*), 4) AS over_frac
         FROM documents GROUP BY source ORDER BY source"""),

    // D96 — output-shard balance audit: every doc hash-assigned to one
    // of 16 shards (first hex digit of a salted md5 — the same
    // content-stable family as the D34 shuffle key), reporting docs
    // and bytes per shard. This is the pre-flight for the write path:
    // hash sharding is the 100 TB layout default, and this report is
    // how you prove the layout balanced BEFORE 1000 writers each pick
    // up a shard (a skewed shard here means a straggler there). One
    // scan, 16-group aggregate, exact integers end to end.
    "shard_balance" -> QueryDef(
      (s, d) =>
        Tables.documents(s, d)
          .groupBy(conv(
            substring(md5(concat(col("doc_id").cast("string"),
              lit(":shard"))), 1, 1), 16, 10)
            .cast("int").as("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").as("total_chars"))
          .orderBy("shard"),
      """SELECT CAST(strpos('0123456789abcdef',
                            substr(md5(CAST(doc_id AS VARCHAR) || ':shard'),
                                   1, 1)) - 1 AS INT) AS shard,
                count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM documents GROUP BY 1 ORDER BY shard"""),

    // D46 — sliding-window document chunking (window 64 tokens, stride
    // 48): the long-document split run BEFORE packing so no training
    // sequence truncates a doc mid-thought without overlap coverage.
    // Chunk count per doc is 1 + ceil((n−64)/48) — the last window
    // always reaches the end, interior windows overlap by 16 tokens.
    // Pure narrow map (transform + posexplode): zero shuffles until
    // the output ORDER BY; chunk text is md5'd so corpus-scale chunk
    // bytes never materialize in the result.
    "chunk_documents" -> QueryDef(
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
          .withColumn("n", size(col("t")))
          .withColumn("k_max",
            when(col("n") <= 64, 0)
              .otherwise(((col("n") - lit(17)) / lit(48)).cast("int")))
          .select(col("doc_id"), col("n"),
            posexplode(transform(sequence(lit(0), col("k_max")),
              k => array_join(slice(col("t"), k * 48 + 1, lit(64)), " "))))
          .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
            least(lit(64), col("n") - col("pos") * 48).cast("long")
              .as("n_tok"),
            md5(col("col").cast("binary")).as("chunk_md5"))
          .orderBy("doc_id", "chunk_id"),
      """WITH t AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t,
                  len(regexp_split_to_array(trim(text), '\s+')) AS n
           FROM documents),
         ch AS (
           SELECT doc_id, n, k,
                  array_to_string(t[k*48+1 : k*48+64], ' ') AS chunk
           FROM t, unnest(range(0, 200)) AS u(k)
           WHERE k <= (CASE WHEN n <= 64 THEN 0 ELSE (n - 17) // 48 END))
         SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
                CAST(least(64, n - k*48) AS BIGINT) AS n_tok,
                md5(chunk) AS chunk_md5
         FROM ch ORDER BY doc_id, chunk_id"""))
}
