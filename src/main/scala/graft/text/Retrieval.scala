package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.dedup.Dedup.MurmurSql

/** Corpus retrieval and growth diagnostics: BM25 scoring (the lexical
  * ranking function behind quality-classifier seed selection and
  * contamination triage), the shingle document-frequency spectrum (the
  * duplication fingerprint a pipeline reads before picking dedup
  * thresholds), Heaps'-law vocabulary growth, and per-document repeated-
  * token runs (the degenerate-generation signal `repetition_ratio`
  * cannot see — a single token repeated 50× in one place).
  *
  * Reference scope anchor: the reference exposes its corpus only through
  * Athena SQL (athena_sql_query_examples/); these are the retrieval-side
  * passes a training-data pipeline layers on the same tables.
  */
object Retrieval {

  /** BM25 (k1 = 1.2, b = 0.75) of each document against a fixed query
    * term set. Scale shape: the term filter prunes the token stream at
    * the scan (isin pushes down), df/avgdl are tiny aggregates
    * broadcast back, and the final ranking is orderBy+limit =
    * TakeOrdered — no global sort ever materializes.
    *
    * Engine determinism: the per-document sum over query-term scores is
    * a SEQUENTIAL fold in term order on both sides (Spark `aggregate`
    * over a sorted collect_list ≡ DuckDB `list_sum` over
    * `list(x ORDER BY term)`), ln + 4 dp rounding is the gate-proven
    * lm_score pattern, and ranking happens on the ROUNDED score with a
    * doc_id tiebreak so a last-ulp divergence cannot reorder rows.
    */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    val toks = docs.select(col("doc_id"),
      split(trim(col("text")), "\\s+").as("t"))
    val dl = toks.select(col("doc_id"),
      size(col("t")).cast("double").as("dl"))
    val tf = toks.select(col("doc_id"), explode(col("t")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).cast("double").as("tf"))
    // avgdl is exact: doc lengths are integer-valued doubles, so the
    // partial sums are exact integers below 2^53 and the single final
    // division is correctly rounded — no accumulation-order hazard.
    val stats = dl.agg(avg("dl").as("avgdl"),
      count(lit(1)).cast("double").as("n_docs"))
    val dft = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val scored = tf
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .join(broadcast(dft), "term")
      .withColumn("s",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          col("tf") * 2.2 /
          (col("tf") +
            lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
    scored.groupBy("doc_id")
      .agg(
        round(aggregate(
          transform(array_sort(collect_list(struct(col("term"), col("s")))),
            x => x.getField("s")),
          lit(0.0), (acc, x) => acc + x), 4).as("bm25"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }

  /** Longest run of one token repeated consecutively, per document, and
    * the token that achieves it (first such run on ties). One sequential
    * fold per document — scan-local, embarrassingly parallel, no
    * shuffle until the final ORDER BY.
    */
  def maxTokenRun(docs: DataFrame): DataFrame = {
    val init = struct(lit("").as("prev"), lit(0).as("run"),
      lit(0).as("best"), lit("").as("best_tok"))
    val folded = docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
      .withColumn("st", aggregate(col("t"), init, (acc, x) => {
        val newRun = when(x === acc.getField("prev"),
          acc.getField("run") + 1).otherwise(lit(1))
        struct(x.as("prev"), newRun.as("run"),
          when(newRun > acc.getField("best"), newRun)
            .otherwise(acc.getField("best")).as("best"),
          when(newRun > acc.getField("best"), x)
            .otherwise(acc.getField("best_tok")).as("best_tok"))
      }))
    folded.select(col("doc_id"),
      col("st").getField("best").cast("bigint").as("max_run"),
      col("st").getField("best_tok").as("run_tok"))
      .orderBy("doc_id")
  }

  private def duckToks =
    raw"""toks AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
            FROM documents)"""

  val defs: Map[String, QueryDef] = Map(

    // D71 — BM25 top-20 for a fixed query over the corpus.
    "bm25_topk" -> QueryDef(
      (s, d) => bm25TopK(Tables.documents(s, d),
        Seq("spark", "join", "window"), 20),
      raw"""WITH $duckToks,
         dl AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl FROM toks),
         stats AS (SELECT avg(dl) AS avgdl,
                          CAST(count(*) AS DOUBLE) AS n_docs FROM dl),
         tf AS (
           SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
           FROM (SELECT doc_id, unnest(t) AS term FROM toks)
           WHERE term IN ('spark', 'join', 'window')
           GROUP BY doc_id, term),
         dft AS (SELECT term, CAST(count(*) AS DOUBLE) AS df
                 FROM tf GROUP BY term),
         scored AS (
           SELECT tf.doc_id, tf.term,
                  ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
                    * tf.tf * 2.2
                    / (tf.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl)) AS sc
           FROM tf
           JOIN dl l USING (doc_id)
           JOIN dft d USING (term), stats s)
         SELECT doc_id,
                round(list_sum(list(sc ORDER BY term)), 4) AS bm25,
                count(*) AS n_terms
         FROM scored GROUP BY doc_id
         ORDER BY bm25 DESC, doc_id LIMIT 20"""),

    // D72 — shingle document-frequency spectrum: for each df value, how
    // many distinct 3-gram shingles occur in exactly that many docs and
    // the occurrence mass they carry. THE threshold-tuning artifact for
    // the hot-shingle df cap in ngramJaccardPairs: the cap should sit
    // past the knee of this histogram. One shingle-keyed shuffle, then a
    // df-keyed collapse whose output is bounded by max(df) ≤ n_docs —
    // tiny. All-integer arithmetic: deterministic by construction.
    "shingle_df_hist" -> QueryDef(
      (s, d) => {
        val ex = graft.dedup.Dedup.withShingles(Tables.documents(s, d))
          .select(explode(col("shingles")).as("s"))
        ex.groupBy("s").agg(count(lit(1)).as("df"))
          .groupBy("df").agg(count(lit(1)).as("n_shingles"))
          .select(col("df"),
            col("n_shingles"),
            (col("df") * col("n_shingles")).as("n_occurrences"))
          .orderBy("df")
      },
      raw"""WITH $duckToks,
         ${MurmurSql.shingleSetsSql},
         ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         dfs AS (SELECT s, count(*) AS df FROM ex GROUP BY s)
         SELECT df, count(*) AS n_shingles, df * count(*) AS n_occurrences
         FROM dfs GROUP BY df ORDER BY df"""),

    // D73 — Heaps'-law vocabulary growth: distinct types vs tokens seen
    // after each decile of the corpus in doc_id order. Spark shape: the
    // doc rank and cumulative token count come from ONE ranged pass
    // (withGlobalPrefixSums — no global window), each term's first
    // appearance is a term-keyed min-shuffle, and the 10 checkpoints are
    // a broadcast nested loop (10 rows) feeding a decile-keyed count —
    // the corpus-side cost is ~2 scans regardless of corpus size.
    "vocab_growth" -> QueryDef(
      (s, d) => {
        val base = Tables.documents(s, d)
          .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
          .withColumn("n_tok", size(col("t")).cast("long"))
        val ranked = graft.operators.Packing
          .withGlobalPrefixSums(base, Seq("doc_id"), Seq("n_tok"))
        val cps = ranked.agg(max("rn").as("n"))
          .select(explode(sequence(lit(1), lit(10))).as("decile"), col("n"))
          .select(col("decile").cast("long").as("decile"),
            expr("(n * decile + 9) div 10").as("c_rank"))
        val tokAt = ranked
          .select(col("rn"),
            (col("prefix_n_tok") + col("n_tok")).as("n_tokens"))
          .join(broadcast(cps), col("rn") === col("c_rank"))
        val firsts = ranked
          .select(col("rn"), explode(col("t")).as("term"))
          .filter(col("term") =!= "")
          .groupBy("term").agg(min("rn").as("first_rn"))
        val voc = firsts
          .join(broadcast(cps), col("first_rn") <= col("c_rank"))
          .groupBy("decile").agg(count(lit(1)).as("n_terms"))
        tokAt.select(col("decile"), col("c_rank").as("n_docs_seen"),
            col("n_tokens"))
          .join(voc, "decile")
          .orderBy("decile")
      },
      raw"""WITH $duckToks,
         ranked AS (
           SELECT doc_id, len(t) AS n_tok, t,
                  row_number() OVER (ORDER BY doc_id) AS rn
           FROM toks),
         n AS (SELECT max(rn) AS n FROM ranked),
         cps AS (SELECT k AS decile, (n.n * k + 9) // 10 AS c_rank
                 FROM range(1, 11) AS r(k), n),
         cum AS (SELECT rn, sum(n_tok) OVER (ORDER BY rn) AS n_tokens
                 FROM ranked),
         firsts AS (
           SELECT term, min(rn) AS first_rn
           FROM (SELECT rn, unnest(t) AS term FROM ranked)
           WHERE term <> '' GROUP BY term),
         voc AS (
           SELECT c.decile, count(*) AS n_terms
           FROM firsts f JOIN cps c ON f.first_rn <= c.c_rank
           GROUP BY c.decile)
         SELECT c.decile AS decile, c.c_rank AS n_docs_seen,
                CAST(cu.n_tokens AS BIGINT) AS n_tokens, v.n_terms
         FROM cps c
         JOIN cum cu ON cu.rn = c.c_rank
         JOIN voc v ON v.decile = c.decile
         ORDER BY decile"""),

    // D82 — document-level co-occurrence lift for the top-20 terms by
    // document frequency: lift(a,b) = P(a,b)/(P(a)·P(b)) over doc
    // presence — the topic-structure complement of token_pmi's
    // ADJACENCY lift. Scale shape: the top-k term set is a bounded
    // broadcast (k = 20 regardless of corpus), presence rows are ≤ k
    // per doc, and the within-doc pair space is ≤ k(k−1)/2 per doc —
    // the corpus streams once and nothing unbounded ever pairs. Counts
    // are exact ints; the lift is one division tree rounded at 4 dp.
    // Top-k selection total-orders on (df DESC, term) so both engines
    // cut the same set.
    "doc_cooccur_lift" -> QueryDef(
      (s, d) => {
        val pres = Tables.documents(s, d)
          .select(col("doc_id"),
            explode(array_distinct(split(trim(col("text")), "\\s+")))
              .as("term"))
          .filter(col("term") =!= "")
        val nDocs = Tables.documents(s, d)
          .agg(count(lit(1)).as("n_docs"))
        val top = pres.groupBy("term")
          .agg(count(lit(1)).as("df"))
          .orderBy(col("df").desc, col("term"))
          .limit(20)
        val tpres = pres.join(broadcast(top), "term")
        val pairs = tpres.select(col("doc_id"), col("term").as("term_a"),
            col("df").as("df_a"))
          .join(tpres.select(col("doc_id"), col("term").as("term_b"),
            col("df").as("df_b")), "doc_id")
          .filter(col("term_a") < col("term_b"))
          .groupBy("term_a", "term_b")
          .agg(count(lit(1)).as("n_ab"),
            first("df_a").as("df_a"), first("df_b").as("df_b"))
        pairs.crossJoin(broadcast(nDocs))
          .select(col("term_a"), col("term_b"), col("n_ab"),
            round(col("n_ab").cast("double") * col("n_docs")
              / (col("df_a").cast("double") * col("df_b")), 4).as("lift"))
          .orderBy("term_a", "term_b")
      },
      raw"""WITH $duckToks,
         pres AS (
           SELECT doc_id, unnest(list_distinct(t)) AS term
           FROM toks),
         p2 AS (SELECT * FROM pres WHERE term <> ''),
         n AS (SELECT count(*) AS n_docs FROM documents),
         top AS (
           SELECT term, count(*) AS df FROM p2 GROUP BY term
           ORDER BY df DESC, term LIMIT 20),
         tp AS (SELECT p.doc_id, p.term, t.df
                FROM p2 p JOIN top t USING (term)),
         pairs AS (
           SELECT a.term AS term_a, b.term AS term_b,
                  count(*) AS n_ab,
                  any_value(a.df) AS df_a, any_value(b.df) AS df_b
           FROM tp a JOIN tp b
             ON a.doc_id = b.doc_id AND a.term < b.term
           GROUP BY 1, 2)
         SELECT term_a, term_b, n_ab,
                round(CAST(n_ab AS DOUBLE) * n.n_docs
                      / (CAST(df_a AS DOUBLE) * CAST(df_b AS DOUBLE)), 4)
                  AS lift
         FROM pairs, n ORDER BY term_a, term_b"""),

    // D76 — longest repeated-token run per doc (degenerate-text probe).
    "max_token_run" -> QueryDef(
      (s, d) => maxTokenRun(Tables.documents(s, d)),
      raw"""WITH $duckToks,
         pos AS (
           SELECT doc_id, i AS p, t[i] AS tok
           FROM toks, unnest(range(1, len(t) + 1)) AS r(i)),
         isl AS (
           SELECT doc_id, tok, p,
                  p - row_number() OVER (PARTITION BY doc_id, tok
                                         ORDER BY p) AS g
           FROM pos),
         runs AS (
           SELECT doc_id, tok, count(*) AS run, min(p) AS start
           FROM isl GROUP BY doc_id, tok, g),
         best AS (
           SELECT doc_id, tok, run,
                  row_number() OVER (PARTITION BY doc_id
                                     ORDER BY run DESC, start) AS rk
           FROM runs)
         SELECT doc_id, CAST(run AS BIGINT) AS max_run, tok AS run_tok
         FROM best WHERE rk = 1 ORDER BY doc_id""")
  )
}
