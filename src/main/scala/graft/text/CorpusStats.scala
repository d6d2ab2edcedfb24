package graft.text

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Corpus-distribution operators (SURVEY §2 D38/D39): exact θ-heavy
  * hitters via a two-pass mergeable sketch, and temperature-based
  * language mixing — the α-sampling step every multilingual training
  * corpus runs to upweight low-resource languages.
  */
object CorpusStats {

  /** Per-source unigram KL divergence core (D84) — factored out so
    * specs can plant a lexically alien source and check it ranks top.
    */
  def sourceKl(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = groupKl(docs, "source")

  /** The KL core keyed by ANY doc attribute (D84 uses source, D101
    * lang): unigram distribution of each `key` group vs the corpus.
    */
  def groupKl(docs: org.apache.spark.sql.DataFrame, key: String)
      : org.apache.spark.sql.DataFrame = {
    val sc = docs
      .select(col(key),
        explode(split(trim(col("text")), "\\s+")).as("term"))
      .groupBy(key, "term")
      .agg(count(lit(1)).as("c"))
    val tot = sc.groupBy("term").agg(sum("c").as("ct"))
    val n = tot.agg(sum("ct").as("n_corpus"))
    sc.join(tot, "term")
      .groupBy(key)
      .agg(sum("c").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("c").cast("double") * log(col("c").cast("double")))
          .as("_clnc"),
        sum(col("c").cast("double") * log(col("ct").cast("double")))
          .as("_clncorp"))
      .crossJoin(broadcast(n))
      .select(col(key), col("n_tokens"), col("n_types"),
        round((col("_clnc") - col("_clncorp")) / col("n_tokens")
          - log(col("n_tokens").cast("double"))
          + log(col("n_corpus").cast("double")), 4).as("kl"))
  }

  /** D90 core — exact inverted-CDF quantiles of `n_chars` per source
    * over a (source, n_chars) frame. Factored out so specs can plant a
    * known length ladder and check the cut points.
    */
  def lengthQuantiles(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = docs
      .groupBy("source", "n_chars")
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("source").orderBy("n_chars")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = c
      .withColumn("cum", sum("c").over(w))
      .withColumn("n", sum("c").over(Window.partitionBy("source")))
    cum.groupBy("source")
      .agg(max("n").as("n_docs"),
        min(when(col("cum") >= ceil(col("n") * 0.5), col("n_chars")))
          .as("p50"),
        min(when(col("cum") >= ceil(col("n") * 0.9), col("n_chars")))
          .as("p90"),
        min(when(col("cum") >= ceil(col("n") * 0.99), col("n_chars")))
          .as("p99"))
      .orderBy("source")
  }

  val defs: Map[String, QueryDef] = Map(

    // D38 — exact heavy hitters over the corpus token stream, sketch
    // first: pass 1 runs a Misra-Gries aggregate (capacity 512) + the
    // total token count in ONE scan-and-merge — only O(512·partitions)
    // (term,count) entries ever cross the wire, vocabulary size be
    // damned. The MG bound (err ≤ N/513) guarantees every term with
    // freq ≥ ceil(N/256) survives pass 1, so pass 2 — exact counts of
    // the ≤512 candidates only — returns EXACTLY the θ=1/256-heavy
    // hitters. Contrast with the naive full groupBy(term): that
    // shuffles the entire vocabulary to find 20 rows. The oracle is
    // the exact computation, so the gate proves the sketch path loses
    // nothing.
    "heavy_hitters" -> QueryDef(
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(explode(split(trim(col("text")), "\\s+")).as("term"))
          .filter(col("term") =!= "")
        val pass1 = toks.agg(
          graft.functions.FreqSketch.misraGries(col("term"), 512).as("cand"),
          count(lit(1)).as("n_total"))
        val cands = pass1.select(explode(col("cand")).as("c"),
          col("n_total"))
          .select(col("c.term").as("cand_term"),
            ((col("n_total") + 255L) / 256L).cast("long").as("thr"))
        toks.join(broadcast(cands), col("term") === col("cand_term"))
          .groupBy("term")
          .agg(count(lit(1)).as("n"), first("thr").as("_thr"))
          .filter(col("n") >= col("_thr"))
          .select("term", "n")
          .orderBy(col("n").desc, col("term"))
      },
      """WITH toks AS (
           SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
           FROM documents),
         t2 AS (SELECT term FROM toks WHERE term <> ''),
         tot AS (SELECT count(*) AS n_total FROM t2)
         SELECT term, count(*) AS n
         FROM t2, tot
         GROUP BY term, tot.n_total
         HAVING count(*) >= (tot.n_total + 255) // 256
         ORDER BY n DESC, term"""),

    // D39 — temperature mixing (α = 0.5): per-language keep rate
    // ∝ n^(α−1), normalized so the highest-resource language keeps 50%.
    // Selection is content-stable md5 bucketing (like dataset_split),
    // NOT rand() — reproducible across engines and partitionings.
    // Float discipline: the rate uses only max/divide/sqrt on exact
    // integers (every step correctly rounded IEEE, no float SUM whose
    // accumulation order could differ between engines), rounded to
    // 6 dp before the threshold comparison.
    "temperature_mix" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "lang")
        val byLang = docs.groupBy("lang").agg(count(lit(1)).as("n_lang"))
        val mx = byLang.agg(max("n_lang").as("max_n"))
        val rates = byLang.crossJoin(broadcast(mx))
          .withColumn("rate",
            round(least(lit(1.0),
              lit(0.5) * sqrt(col("max_n") / col("n_lang"))), 6))
          .select(col("lang").as("r_lang"), col("rate"),
            floor(col("rate") * 65536).cast("long").as("thr"))
        docs
          .withColumn("b",
            conv(substring(md5(col("doc_id").cast("string").cast("binary")),
              1, 4), 16, 10).cast("long"))
          .join(broadcast(rates), col("lang") === col("r_lang"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            first("rate").as("rate"),
            count(when(col("b") < col("thr"), 1)).as("n_kept"))
          .orderBy("lang")
      },
      """WITH bl AS (SELECT lang, count(*) AS n_lang
                     FROM documents GROUP BY lang),
         mx AS (SELECT max(n_lang) AS max_n FROM bl),
         rates AS (
           SELECT lang,
                  round(least(CAST(1.0 AS DOUBLE),
                              0.5 * sqrt(max_n / n_lang)), 6) AS rate
           FROM bl, mx),
         b AS (SELECT lang,
                      CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                                              1, 4)) AS INT) AS b
               FROM documents)
         SELECT b.lang, count(*) AS n_docs, r.rate AS rate,
                count(CASE WHEN b.b < CAST(floor(r.rate * 65536) AS BIGINT)
                           THEN 1 END) AS n_kept
         FROM b JOIN rates r ON b.lang = r.lang
         GROUP BY b.lang, r.rate ORDER BY b.lang"""),

    // D44 — per-group EXACT-k holdout sampling (eval-set construction:
    // "exactly 5 docs per source, reproducibly"): rank docs inside each
    // source by a content-stable md5 key and keep rank ≤ 5. rand()
    // cannot do this (not reproducible, and Bernoulli sampling gives
    // ~k, not k). The row_number ≤ k shape plans as WindowGroupLimit —
    // per-partition partial limits BEFORE the full per-group sort, so
    // no executor ever materializes a whole group.
    "group_sample_k" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("source")
          .orderBy(col("rk_key"), col("doc_id"))
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            md5(col("doc_id").cast("string").cast("binary")).as("rk_key"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 5)
          .select(col("source"), col("rk").cast("long").as("rk"),
            col("doc_id"))
          .orderBy("source", "rk")
      },
      """SELECT source, CAST(rk AS BIGINT) AS rk, doc_id
         FROM (SELECT source, doc_id,
                      row_number() OVER (
                        PARTITION BY source
                        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
               FROM documents) t
         WHERE rk <= 5 ORDER BY source, rk"""),

    // D47 — pairwise source-overlap matrix: how many 16-token chunks
    // each pair of sources shares — the provenance diagnostic that
    // catches mirrored crawls / cross-source boilerplate before dedup
    // rates surprise you. Scale guard: chunks are DISTINCT-per-source
    // FIRST, so a chunk contributes at most |sources| postings and the
    // per-chunk self-join is bounded by C(|sources|,2) pairs — source
    // count is pipeline-bounded (dozens), never corpus-bounded.
    "source_overlap" -> QueryDef(
      (s, d) => {
        // chunking carries `source` through the narrow map — no
        // rejoin of chunk rows back to the corpus on doc_id
        val bySrc = Tables.documents(s, d)
          .select(col("source"), split(trim(col("text")), "\\s+").as("t"))
          .withColumn("nchunks", floor(size(col("t")) / 16).cast("int"))
          .filter(col("nchunks") > 0)
          .select(col("source"),
            explode(transform(sequence(lit(0), col("nchunks") - 1),
              i => array_join(slice(col("t"), i * 16 + 1, lit(16)), " ")))
              .as("chunk"))
          .distinct()
        bySrc.as("a")
          .join(bySrc.as("b"),
            col("a.chunk") === col("b.chunk") &&
              col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
          .agg(count(lit(1)).as("shared_chunks"))
          .orderBy("src_a", "src_b")
      },
      """WITH toks AS (
           SELECT doc_id, source,
                  regexp_split_to_array(trim(text), '\s+') AS t
           FROM documents),
         ch AS (
           SELECT DISTINCT source,
                  array_to_string(t[i*16+1 : i*16+16], ' ') AS chunk
           FROM toks, unnest(range(0, 200)) AS u(i)
           WHERE i < len(t) // 16)
         SELECT a.source AS src_a, b.source AS src_b,
                count(*) AS shared_chunks
         FROM ch a JOIN ch b
           ON a.chunk = b.chunk AND a.source < b.source
         GROUP BY 1, 2 ORDER BY src_a, src_b"""),

    // D74 — per-source length moments (mean/std/skewness) from EXACT
    // integer power sums: per-element x, x², x³ stay in long (a 10⁶-char
    // doc cubes to 10¹⁸ < 2⁶³), the sums accumulate in decimal(38,0)
    // (DuckDB: hugeint) so a 10⁹-doc source cannot overflow, and the
    // moments are then a fixed tree of correctly-rounded double ops —
    // the only sqrt/divide appear AFTER aggregation, so accumulation
    // order cannot diverge between engines. Skewness guards m2 > 0
    // (constant-length source) on both sides; m2 is clamped at 0 before
    // sqrt because catastrophic cancellation can leave it at -1e-13 for
    // near-constant sources (sqrt(-ε) is NaN on both engines, but NaN
    // vs NULL handling differs — the clamp removes the case entirely).
    "length_moments" -> QueryDef(
      (s, d) => {
        val x = col("n_chars")
        val st = Tables.documents(s, d)
          .select(col("source"), x.as("x"), (x * x).as("x2"),
            (x * x * x).as("x3"))
          .groupBy("source")
          .agg(count(lit(1)).as("n"),
            sum(col("x").cast("decimal(38,0)")).as("s1"),
            sum(col("x2").cast("decimal(38,0)")).as("s2"),
            sum(col("x3").cast("decimal(38,0)")).as("s3"))
        val n = col("n").cast("double")
        val mean = col("s1").cast("double") / n
        val ex2 = col("s2").cast("double") / n
        val ex3 = col("s3").cast("double") / n
        val m2 = greatest(ex2 - mean * mean, lit(0.0))
        val m3 = ex3 - lit(3.0) * mean * ex2 +
          lit(2.0) * mean * mean * mean
        st.select(col("source"), col("n"),
            round(mean, 4).as("mean_len"),
            round(sqrt(m2), 4).as("std_len"),
            when(m2 > 0, round(m3 / (m2 * sqrt(m2)), 4)).as("skew_len"))
          .orderBy("source")
      },
      """WITH st AS (
           SELECT source, count(*) AS n,
                  CAST(sum(n_chars) AS DOUBLE) AS s1,
                  CAST(sum(n_chars * n_chars) AS DOUBLE) AS s2,
                  CAST(sum(n_chars * n_chars * n_chars) AS DOUBLE) AS s3
           FROM documents GROUP BY source),
         m AS (
           SELECT source, n,
                  s1 / CAST(n AS DOUBLE) AS mean,
                  s2 / CAST(n AS DOUBLE) AS ex2,
                  s3 / CAST(n AS DOUBLE) AS ex3
           FROM st),
         mm AS (
           SELECT source, n, mean,
                  greatest(ex2 - mean * mean, 0.0) AS m2,
                  ex3 - 3.0 * mean * ex2 + 2.0 * mean * mean * mean AS m3
           FROM m)
         SELECT source, n, round(mean, 4) AS mean_len,
                round(sqrt(m2), 4) AS std_len,
                CASE WHEN m2 > 0
                     THEN round(m3 / (m2 * sqrt(m2)), 4) END AS skew_len
         FROM mm ORDER BY source"""),

    // D75 — per-source token concentration: Herfindahl index over the
    // term distribution plus its reciprocal (effective vocabulary
    // size) — the diversity check that catches a source collapsing to
    // boilerplate before it pollutes a training mix. HHI = Σc² / N² is
    // computed from EXACT integer sums (c² in long per term, summed in
    // decimal(38,0) / hugeint) with exactly two double ops at the end —
    // no float accumulation anywhere, so the 6 dp round is safe at any
    // scale. Term counts are an open vocabulary: the (source, term)
    // aggregate shuffles, nothing is ever broadcast.
    "term_concentration" -> QueryDef(
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("source"),
            explode(split(trim(col("text")), "\\s+")).as("term"))
          .filter(col("term") =!= "")
        val agg = toks.groupBy("source", "term")
          .agg(count(lit(1)).as("c"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_terms"),
            sum(col("c")).as("n_tokens"),
            sum((col("c") * col("c")).cast("decimal(38,0)")).as("s2"))
        val nd = col("n_tokens").cast("double")
        val hhi = col("s2").cast("double") / (nd * nd)
        agg.select(col("source"), col("n_terms"), col("n_tokens"),
            round(hhi, 6).as("hhi"),
            round(lit(1.0) / hhi, 4).as("eff_terms"))
          .orderBy("source")
      },
      raw"""WITH toks AS (
           SELECT source,
                  unnest(regexp_split_to_array(trim(text), '\s+')) AS term
           FROM documents),
         t2 AS (SELECT * FROM toks WHERE term <> ''),
         tc AS (SELECT source, term, count(*) AS c
                FROM t2 GROUP BY source, term),
         agg AS (
           SELECT source, count(*) AS n_terms,
                  CAST(sum(c) AS BIGINT) AS n_tokens,
                  CAST(sum(c * c) AS DOUBLE) AS s2
           FROM tc GROUP BY source)
         SELECT source, n_terms, n_tokens,
                round(s2 / (CAST(n_tokens AS DOUBLE)
                            * CAST(n_tokens AS DOUBLE)), 6) AS hhi,
                round(1.0 / (s2 / (CAST(n_tokens AS DOUBLE)
                                   * CAST(n_tokens AS DOUBLE))), 4)
                  AS eff_terms
         FROM agg ORDER BY source"""),

    // D79 — per-source Gini coefficient of document lengths (the
    // inequality readout a data-mix design checks: a source whose token
    // mass is concentrated in a few giant documents behaves very
    // differently under doc-level sampling than its doc count
    // suggests). Per-source ranks come from ONE global ranged pass
    // sorted source-major ((source, n_chars, doc_id) — unique, so both
    // engines rank identically) minus a broadcast per-source rank
    // offset: no per-source window, so one hot source cannot serialize
    // into a single task the way partitionBy(source) would at 100 TB.
    // Σi·x products stay in long per element and accumulate in
    // decimal(38,0)/hugeint; the Gini formula is then a fixed tree of
    // correctly-rounded double ops — deterministic at 4 dp.
    "length_gini" -> QueryDef(
      (s, d) => {
        val ranked = graft.operators.Packing.withGlobalPrefixSums(
          Tables.documents(s, d).select("source", "n_chars", "doc_id"),
          Seq("source", "n_chars", "doc_id"), Nil)
        val minrn = ranked.groupBy(col("source").as("_src"))
          .agg(min("rn").as("_min_rn"))
        val agg = ranked
          .join(broadcast(minrn), col("source") === col("_src"))
          .withColumn("i", col("rn") - col("_min_rn") + 1)
          .groupBy("source")
          .agg(count(lit(1)).as("n"),
            sum(col("n_chars")).as("sumx"),
            sum((col("i") * col("n_chars")).cast("decimal(38,0)"))
              .as("sumix"))
        val nd = col("n").cast("double")
        val sx = col("sumx").cast("double")
        val six = col("sumix").cast("double")
        agg.select(col("source"), col("n"),
            when(col("sumx") > 0,
              round((lit(2.0) * six - (nd + 1.0) * sx) / (nd * sx), 4))
              .as("gini"))
          .orderBy("source")
      },
      """WITH r AS (
           SELECT source, n_chars,
                  row_number() OVER (PARTITION BY source
                                     ORDER BY n_chars, doc_id) AS i
           FROM documents),
         a AS (
           SELECT source, count(*) AS n,
                  CAST(sum(n_chars) AS DOUBLE) AS sumx,
                  CAST(sum(i * n_chars) AS DOUBLE) AS sumix
           FROM r GROUP BY source)
         SELECT source, n,
                CASE WHEN sumx > 0 THEN
                  round((2.0 * sumix - (CAST(n AS DOUBLE) + 1.0) * sumx)
                        / (CAST(n AS DOUBLE) * sumx), 4) END AS gini
         FROM a ORDER BY source"""),

    // D84 — per-source unigram KL divergence vs the whole-corpus token
    // distribution: KL(p_src ‖ p_corpus) = Σ_t p·ln(p/q). The
    // mix-design readout that says WHICH sources are lexical outliers
    // (a source of code or tables diverges hard from a prose corpus),
    // complementing term_concentration (within-source HHI) and
    // ks_drift (numeric columns). Regrouped to one log per DISTINCT
    // (source, term) on exact integer counts:
    //   KL = (Σ c·ln c − Σ c·ln C_t)/N_s − ln N_s + ln N
    // (c = source term count, C_t = corpus term count). Plan: ONE
    // (source, term) shuffle; the corpus totals re-group that SAME
    // aggregate on term and join back term-keyed (open vocabulary —
    // never broadcast); the per-source collapse is dimension-bounded.
    // The grand total N re-sums the term totals — a scalar broadcast.
    // Float discipline: ln on exact ints + double sums rounded to
    // 4 dp, the same gate-proven pattern as token_entropy/lm_score.
    "source_kl" -> QueryDef(
      (s, d) => sourceKl(Tables.documents(s, d)).orderBy("source"),
      """WITH ex AS (
           SELECT source,
                  unnest(regexp_split_to_array(trim(text), '\s+')) AS term
           FROM documents),
         sc AS (SELECT source, term, count(*) AS c FROM ex GROUP BY 1, 2),
         tot AS (SELECT term, CAST(sum(c) AS BIGINT) AS ct
                 FROM sc GROUP BY 1),
         n AS (SELECT CAST(sum(ct) AS BIGINT) AS n_corpus FROM tot),
         agg AS (
           SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
                  count(*) AS n_types,
                  sum(c * ln(c)) AS clnc, sum(c * ln(ct)) AS clncorp
           FROM sc JOIN tot USING (term) GROUP BY source)
         SELECT source, n_tokens, n_types,
                round((clnc - clncorp) / n_tokens
                      - ln(n_tokens) + ln(n.n_corpus), 4) AS kl
         FROM agg, n ORDER BY source"""),

    // D101 — per-LANGUAGE unigram KL divergence vs the corpus: the
    // lang-keyed run of the D84 core, closing the language-audit
    // family (D85 metadata confusion, D99 quality bias, D100
    // cross-lang dups, and now lexical divergence). A lang whose KL
    // collapses toward 0 between snapshots is losing its distinctive
    // text — usually contamination by mislabeled majority-language
    // docs, which D85 then attributes. Same plan as D84: one
    // (lang, term) shuffle, term-keyed corpus totals joined back
    // (open vocab — never broadcast), dimension-bounded collapse.
    "lang_kl" -> QueryDef(
      (s, d) => groupKl(Tables.documents(s, d), "lang"),
      """WITH sc AS (
           SELECT lang, term, count(*) AS c
           FROM (SELECT lang,
                        unnest(regexp_split_to_array(trim(text), '\s+'))
                          AS term
                 FROM documents)
           GROUP BY 1, 2),
         tot AS (SELECT term, CAST(sum(c) AS BIGINT) AS ct
                 FROM sc GROUP BY 1),
         n AS (SELECT CAST(sum(ct) AS BIGINT) AS n_corpus FROM tot),
         agg AS (
           SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens,
                  count(*) AS n_types,
                  sum(c * ln(c)) AS clnc, sum(c * ln(ct)) AS clncorp
           FROM sc JOIN tot USING (term) GROUP BY lang)
         SELECT lang, n_tokens, n_types,
                round((clnc - clncorp) / n_tokens
                      - ln(n_tokens) + ln(n.n_corpus), 4) AS kl
         FROM agg, n ORDER BY lang"""),

    // D90 — EXACT per-source length quantiles (p50/p90/p99 of n_chars,
    // inverted-CDF definition: min value whose cumulative count reaches
    // ceil(p·n)) — the latency-percentile idiom applied to document
    // length, the number that actually sizes packing bins and truncation
    // budgets (a mean from D74 hides the p99 tail that drives both).
    // Scale shape: `percentile()`-style exact aggregation buffers every
    // value of a group in executor memory — a 10⁹-doc source would OOM;
    // this instead aggregates (source, n_chars) COUNTS (value-bounded:
    // distinct lengths, not docs), then cumsums inside each source's
    // value-bounded partition — a partitioned window over thousands of
    // rows per source, never a per-doc sort. Everything is integer
    // compare vs ceil(p·n) — no interpolation, no float accumulation,
    // bit-identical across engines by construction.
    "length_quantiles_by_source" -> QueryDef(
      (s, d) => lengthQuantiles(Tables.documents(s, d)),
      """WITH c AS (
           SELECT source, n_chars, count(*) AS c
           FROM documents GROUP BY 1, 2),
         cum AS (
           SELECT source, n_chars,
                  sum(c) OVER (PARTITION BY source ORDER BY n_chars) AS cum,
                  sum(c) OVER (PARTITION BY source) AS n
           FROM c)
         SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
                min(CASE WHEN cum >= ceil(n * 0.5) THEN n_chars END) AS p50,
                min(CASE WHEN cum >= ceil(n * 0.9) THEN n_chars END) AS p90,
                min(CASE WHEN cum >= ceil(n * 0.99) THEN n_chars END) AS p99
         FROM cum GROUP BY source ORDER BY source"""))
}
