package graft.text

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.dedup.Dedup.MurmurSql

/** Lexical corpus statistics: bigram association strength (PMI-style
  * lift) and the Gopher-style per-document quality-rule battery — both
  * standard passes of an LLM training-data pipeline (Rae et al. 2021,
  * "Scaling Language Models" §A.1 documents the rule family; PMI is
  * Church & Hanks 1990).
  *
  * Determinism across engines: every score is a ratio of exact integer
  * counts evaluated in IEEE doubles with an identical expression tree on
  * both sides (multiplication/division are correctly-rounded, so the
  * unrounded doubles are bit-identical — unlike ln/exp, whose libm
  * implementations may differ in the last ulp; that is why the
  * association score is reported as LIFT, not log-lift).
  */
object LexStats {
  import org.apache.spark.sql.DataFrame

  /** Per-document Gopher-rule verdicts over (doc_id, text). */
  def gopherRules(docs: DataFrame): DataFrame = {
    val t = split(trim(col("text")), "\\s+")
    val nTok = size(t)
    val sumLen = aggregate(transform(t, x => length(x)),
      lit(0), (acc, x) => acc + x)
    val meanWl = sumLen.cast("double") / nTok
    val alphaFrac = size(filter(t, x => x.rlike("[A-Za-z]")))
      .cast("double") / nTok
    val stopN = size(filter(t, x => lower(x).isin(
      "the", "a", "of", "and", "to", "in", "is", "that")))
    docs
      .select(col("doc_id"),
        nTok.cast("bigint").as("n_tok"),
        round(meanWl, 4).as("mean_word_len"),
        round(alphaFrac, 4).as("alpha_frac"),
        stopN.cast("bigint").as("n_stopwords"),
        (nTok >= 20 && nTok <= 100000).as("r_len"),
        (meanWl >= 3.0 && meanWl <= 10.0).as("r_word_len"),
        (alphaFrac >= 0.8).as("r_alpha"),
        (stopN >= 2).as("r_stopwords"))
      .withColumn("keep",
        col("r_len") && col("r_word_len") && col("r_alpha") &&
          col("r_stopwords"))
      .orderBy("doc_id")
  }

  /** D86 core — OLS fit of log10(freq) on log10(rank) over the top-`k`
    * terms of `docs`' frequency spectrum. Factored out so specs can
    * plant an exact power-law corpus and check the recovered slope.
    */
  def zipfFit(docs: DataFrame, k: Int = 100): DataFrame = {
    val counts = docs
      .select(explode(split(trim(col("text")), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term")
      .agg(count(lit(1)).as("n"))
    counts.orderBy(col("n").desc, col("term")).limit(k)
      .agg(sort_array(collect_list(
        struct((-col("n")).as("negn"), col("term")))).as("a"))
      .select(size(col("a")).as("k"),
        aggregate(
          zip_with(col("a"), sequence(lit(1), size(col("a"))),
            (t, r) => struct(
              log10(r.cast("double")).as("x"),
              log10((-t.getField("negn")).cast("double")).as("y"))),
          struct(lit(0.0).as("sx"), lit(0.0).as("sy"),
            lit(0.0).as("sxy"), lit(0.0).as("sxx")),
          (acc, p) => struct(
            (acc.getField("sx") + p.getField("x")).as("sx"),
            (acc.getField("sy") + p.getField("y")).as("sy"),
            (acc.getField("sxy") + p.getField("x") * p.getField("y"))
              .as("sxy"),
            (acc.getField("sxx") + p.getField("x") * p.getField("x"))
              .as("sxx"))).as("s"))
      .withColumn("_slope",
        // k ≤ 1 leaves the OLS denominator at 0: Spark's 0/0 is NaN
        // where DuckDB's is NULL, so the degenerate-spectrum case is
        // guarded explicitly (mirrored as CASE WHEN in the oracle)
        when(col("k") > 1,
          (col("k") * col("s.sxy") - col("s.sx") * col("s.sy")) /
            (col("k") * col("s.sxx") - col("s.sx") * col("s.sx"))))
      .select(col("k").cast("bigint").as("k_terms"),
        round(col("_slope"), 4).as("zipf_slope"),
        when(col("k") > 1,
          round((col("s.sy") - col("_slope") * col("s.sx")) / col("k"), 4))
          .as("intercept"))
  }

  val defs: Map[String, QueryDef] = Map(

    // D69 — per-document n-gram NOVELTY: the fraction of a doc's
    // distinct 3-gram shingles that appear in NO other document
    // (corpus df = 1) — the memorization/originality signal behind
    // boilerplate downweighting and dedup-threshold tuning (a doc of
    // novelty ~0 is assembled entirely from shared text even if no
    // single pair crosses the Jaccard cutoff). One shingle-keyed
    // shuffle for corpus df (open vocabulary — shuffle join back on
    // the same key, never broadcast), one doc-keyed collapse; the
    // shingle string crosses the wire once. Novelty divides exact ints
    // once per doc; docs with <3 tokens have no shingles → NULL
    // novelty, guarded identically on both engines.
    "ngram_novelty" -> QueryDef(
      (s, d) => {
        val ex = graft.dedup.Dedup.withShingles(Tables.documents(s, d))
          .select(col("doc_id"), explode(col("shingles")).as("s"))
        val df = ex.groupBy("s").agg(count(lit(1)).as("df"))
        val per = ex.join(df, "s")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
        Tables.documents(s, d).select("doc_id")
          .join(per, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
            coalesce(col("n_novel"), lit(0L)).as("n_novel"),
            when(col("n_shingles") > 0,
              round(col("n_novel").cast("double") / col("n_shingles"), 6))
              .as("novelty"))
          .orderBy("doc_id")
      },
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
           FROM documents),
         """ + MurmurSql.shingleSetsSql + """,
         ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         df AS (SELECT s, count(*) AS df FROM ex GROUP BY s),
         per AS (
           SELECT e.doc_id, count(*) AS n_shingles,
                  sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS n_novel
           FROM ex e JOIN df ON e.s = df.s
           GROUP BY e.doc_id)
         SELECT d.doc_id,
                coalesce(p.n_shingles, 0) AS n_shingles,
                CAST(coalesce(p.n_novel, 0) AS BIGINT) AS n_novel,
                CASE WHEN p.n_shingles > 0
                     THEN round(CAST(p.n_novel AS DOUBLE) / p.n_shingles, 6)
                END AS novelty
         FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
         ORDER BY d.doc_id"""),

    // D49 — top bigram collocations by lift = P(ab) / (P(a)·P(b)).
    // Unigram and bigram counts are separate `term`-keyed shuffles; the
    // per-word counts join back on term as SHUFFLE joins (an open
    // vocabulary is never broadcast-safe — web-scale corpora carry 1e8+
    // distinct tokens). Corpus totals are 1-row aggregates (broadcast by
    // definition). The c_ab >= 20 support floor bounds the join output
    // and keeps rare-pair noise out of the ranking — the same floor any
    // collocation extraction applies at scale.
    "token_pmi" -> QueryDef(
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(split(trim(col("text")), "\\s+").as("t"))
        val uni = toks.select(explode(col("t")).as("term"))
          .groupBy("term").agg(count(lit(1)).as("c"))
        val bg = toks.filter(size(col("t")) >= 2)
          .select(explode(zip_with(
            slice(col("t"), lit(1), size(col("t")) - 1),
            slice(col("t"), lit(2), size(col("t")) - 1),
            (a, b) => concat_ws(" ", a, b))).as("bigram"))
        val bc = bg.groupBy("bigram").agg(count(lit(1)).as("c_ab"))
          .filter(col("c_ab") >= 20)
        val totals = uni.agg(sum("c").as("n_tok")).crossJoin(
          bg.agg(count(lit(1)).as("n_bg")))
        bc.withColumn("w1", element_at(split(col("bigram"), " "), 1))
          .withColumn("w2", element_at(split(col("bigram"), " "), 2))
          .join(uni.select(col("term").as("w1"), col("c").as("c_a")), "w1")
          .join(uni.select(col("term").as("w2"), col("c").as("c_b")), "w2")
          .crossJoin(broadcast(totals))
          .select(col("bigram"), col("c_ab"),
            round((col("c_ab").cast("double") * col("n_tok") * col("n_tok")) /
              (col("c_a").cast("double") * col("c_b") * col("n_bg")), 4)
              .as("lift"))
          .orderBy(col("lift").desc, col("bigram"))
          .limit(30)
      },
      """WITH toks AS (
           SELECT regexp_split_to_array(trim(text), '\s+') AS t
           FROM documents),
         uni AS (SELECT unnest(t) AS term FROM toks),
         uc AS (SELECT term, count(*) AS c FROM uni GROUP BY term),
         bg AS (
           SELECT array_to_string(t[i:i+1], ' ') AS bigram
           FROM toks, unnest(range(1, len(t))) AS r(i)
           WHERE len(t) >= 2),
         bc AS (
           SELECT bigram, count(*) AS c_ab FROM bg
           GROUP BY bigram HAVING count(*) >= 20),
         tot AS (
           SELECT (SELECT count(*) FROM uni) AS n_tok,
                  (SELECT count(*) FROM bg) AS n_bg)
         SELECT bigram, c_ab,
                round((CAST(c_ab AS DOUBLE) * n_tok * n_tok) /
                      (CAST(a.c AS DOUBLE) * b.c * n_bg), 4) AS lift
         FROM bc
         JOIN uc a ON a.term = split_part(bigram, ' ', 1)
         JOIN uc b ON b.term = split_part(bigram, ' ', 2)
         CROSS JOIN tot
         ORDER BY lift DESC, bigram LIMIT 30"""),

    // D50 — Gopher-style quality rule battery, one verdict row per doc:
    // token-count range, mean word length range, alphabetic-word
    // fraction, minimum stopword evidence. Pure scan-local column
    // expressions (split + higher-order array functions — all
    // codegen'd), zero shuffles before the output sort; at 100 TB this
    // runs at scan speed like the other quality passes (D9/D9b).
    "gopher_rules" -> QueryDef(
      (s, d) => gopherRules(Tables.documents(s, d)),
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
           FROM documents),
         m AS (
           SELECT doc_id,
                  CAST(len(t) AS BIGINT) AS n_tok,
                  CAST(list_sum(list_transform(t, x -> length(x)))
                       AS DOUBLE) / len(t) AS mwl,
                  CAST(len(list_filter(t,
                       x -> regexp_matches(x, '[A-Za-z]')))
                       AS DOUBLE) / len(t) AS af,
                  CAST(len(list_filter(t, x -> lower(x) IN
                       ('the','a','of','and','to','in','is','that')))
                       AS BIGINT) AS n_stopwords
           FROM toks)
         SELECT doc_id, n_tok,
                round(mwl, 4) AS mean_word_len,
                round(af, 4) AS alpha_frac,
                n_stopwords,
                n_tok >= 20 AND n_tok <= 100000 AS r_len,
                mwl >= 3.0 AND mwl <= 10.0 AS r_word_len,
                af >= 0.8 AS r_alpha,
                n_stopwords >= 2 AS r_stopwords,
                (n_tok >= 20 AND n_tok <= 100000) AND
                (mwl >= 3.0 AND mwl <= 10.0) AND
                af >= 0.8 AND n_stopwords >= 2 AS keep
         FROM m ORDER BY doc_id"""),

    // D59 — per-document unigram token ENTROPY: H = −Σ (c/n)·ln(c/n)
    // over the document's OWN token distribution — the repetitiveness
    // signal complementary to lm_score (which scores against the
    // corpus LM) and repetition_ratio (which counts distinct n-grams):
    // template spam has low entropy even when its n-grams are unique.
    // The aggregation key is (doc_id, term), so every group is bounded
    // by one document's length — no corpus-scale hot keys, one doc-
    // keyed shuffle. ln() is libm, but avg/round-4dp over exact count
    // ratios is the same discipline lm_score already gate-proves.
    "token_entropy" -> QueryDef(
      (s, d) => {
        val counts = Tables.documents(s, d)
          .select(col("doc_id"),
            explode(split(trim(col("text")), "\\s+")).as("term"))
          .groupBy("doc_id", "term")
          .agg(count(lit(1)).as("c"))
        counts
          .groupBy("doc_id")
          .agg(sum("c").as("n"),
            count(lit(1)).as("n_distinct"),
            sum(col("c").cast("double") * log(col("c").cast("double")))
              .as("_clnc"))
          .select(col("doc_id"), col("n_distinct"),
            // H = ln n − (Σ c·ln c)/n: one log per DISTINCT term and an
            // exact-integer regrouping, instead of one log per token
            round(log(col("n").cast("double")) - col("_clnc") / col("n"), 4)
              .as("entropy"))
          .orderBy("doc_id")
      },
      """WITH counts AS (
           SELECT doc_id, term, count(*) AS c
           FROM (SELECT doc_id,
                        unnest(regexp_split_to_array(trim(text), '\s+')) AS term
                 FROM documents)
           GROUP BY doc_id, term),
         agg AS (
           SELECT doc_id, sum(c) AS n, count(*) AS n_distinct,
                  sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS clnc
           FROM counts GROUP BY doc_id)
         SELECT doc_id, n_distinct,
                round(ln(CAST(n AS DOUBLE)) - clnc / n, 4) AS entropy
         FROM agg ORDER BY doc_id"""),

    // D86 — Zipf-law fit over the corpus frequency spectrum: OLS slope
    // and intercept of log10(freq) on log10(rank) for the top-100
    // terms. Natural text sits near slope −1; templated/synthetic
    // corpora flatten or steepen it, so the slope is a one-number
    // distribution-shift alarm to track across corpus snapshots (the
    // per-source twin of what D84's KL gives pairwise). Plan shape:
    // the one unavoidable open-vocabulary term shuffle (map-side
    // partial agg), then TakeOrderedAndProject(100) — never a full
    // sort — and the regression runs INSIDE one row: the top-100
    // spectrum is collected into a single sorted array and all four
    // power sums accumulate in one sequential `aggregate` fold, so
    // both engines add the same doubles in the same (rank) order and
    // the unrounded sums are bit-identical (each accumulator's
    // sequence is independent of the interleaving). log10 is libm —
    // same 4 dp-round discipline as D59/D84's ln.
    "token_zipf_fit" -> QueryDef(
      (s, d) => zipfFit(Tables.documents(s, d)),
      """WITH toks AS (
           SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
           FROM documents),
         counts AS (
           SELECT term, count(*) AS n FROM toks WHERE term <> ''
           GROUP BY term),
         top AS (SELECT term, n FROM counts ORDER BY n DESC, term LIMIT 100),
         arr AS (SELECT coalesce(list(CAST(n AS DOUBLE) ORDER BY n DESC, term),
                                 CAST([] AS DOUBLE[])) AS a
                 FROM top),
         sums AS (
           SELECT len(a) AS k,
                  list_sum([log10(CAST(i AS DOUBLE))
                            for i in range(1, len(a) + 1)]) AS sx,
                  list_sum([log10(a[i])
                            for i in range(1, len(a) + 1)]) AS sy,
                  list_sum([log10(CAST(i AS DOUBLE)) * log10(a[i])
                            for i in range(1, len(a) + 1)]) AS sxy,
                  list_sum([log10(CAST(i AS DOUBLE)) * log10(CAST(i AS DOUBLE))
                            for i in range(1, len(a) + 1)]) AS sxx
           FROM arr)
         SELECT CAST(k AS BIGINT) AS k_terms,
                CASE WHEN k > 1
                     THEN round((k * sxy - sx * sy) / (k * sxx - sx * sx), 4)
                END AS zipf_slope,
                CASE WHEN k > 1
                     THEN round((sy - ((k * sxy - sx * sy)
                                       / (k * sxx - sx * sx)) * sx) / k, 4)
                END AS intercept
         FROM sums"""))
}
