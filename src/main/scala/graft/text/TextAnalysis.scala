package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.HashOps
import graft.{QueryDef, Tables}

/** Text-analysis operators for LLM-data curation (SURVEY §2 D8–D11):
  * language ID, quality scoring, token counting, fingerprinting. All are
  * pure column expressions (whole-stage codegen, trivially scan-local at
  * 100 TB) except the fingerprint, which is a native expression.
  *
  * Cross-engine determinism: every floating computation is written in
  * the same order as its DuckDB oracle (double-widen → multiply → add →
  * round(4)), so hashes match exactly.
  */
object TextAnalysis {

  private val toks = split(trim(col("text")), "\\s+")

  private def countIn(ts: Column, words: Seq[String]): Column =
    size(filter(ts, t => t.isInCollection(words)))

  /** Marker-token language scoring. The heuristic is the standard
    * stopword-profile trick; markers per language are checked as whole
    * tokens.
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of"),
    "es" -> Seq("el", "la", "de"),
    "de" -> Seq("der", "die", "und"),
    "fr" -> Seq("le", "les", "et"))

  def withLangId(docs: DataFrame): DataFrame = {
    val d = docs.withColumn("_t", toks)
      .withColumn("c_en", countIn(col("_t"), langMarkers("en")))
      .withColumn("c_es", countIn(col("_t"), langMarkers("es")))
      .withColumn("c_de", countIn(col("_t"), langMarkers("de")))
      .withColumn("c_fr", countIn(col("_t"), langMarkers("fr")))
    d.withColumn("predicted_lang",
      when(col("c_en") + col("c_es") + col("c_de") + col("c_fr") === 0, "unknown")
        .when(col("c_en") >= col("c_es") && col("c_en") >= col("c_de") &&
          col("c_en") >= col("c_fr"), "en")
        .when(col("c_es") >= col("c_de") && col("c_es") >= col("c_fr"), "es")
        .when(col("c_de") >= col("c_fr"), "de")
        .otherwise("fr"))
      .drop("_t")
  }

  val stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is")

  /** THE quality score — 0.4·length-prior + 0.4·stopword-ratio +
    * 0.2·(1−symbol-ratio), at 4 dp. Single definition shared by
    * quality_score, quality_calibrate, quality_by_lang, and
    * Curate.keptSet so the sites (and their SQL oracles) cannot
    * silently de-synchronize.
    *
    * In EXACT integer arithmetic (round-9 sf10
    * finding): the score is a rational —
    * 0.4·min(n,100)/100 + 0.4·k/n + 0.2·(lc−sym)/lc
    * = NUM / D with NUM = min(n,100)·n·lc + 100·k·lc + 50·n·(lc−sym)
    * and D = 250·n·lc — so `round(double, 4)` re-introduced the
    * engine-native rounding divergence at decimal .00005 boundaries
    * (Spark BigDecimal HALF_UP vs DuckDB C round; first sampled at
    * sf10: 0.3178 vs 0.3177). Half-up in exact integers instead:
    * ⌊(2·NUM·10⁴ + D) / (2D)⌋, computed in decimal(38,0) via the
    * pmod-subtract exact division (the quotient is an integer, so the
    * decimal division's scale-6 rounding is a no-op), one final cast
    * to double. The oracles compute the identical HUGEINT expression,
    * [[qualitySql]].
    */
  def qualityCol: Column = {
    val t = split(trim(col("text")), "\\s+")
    def d38(c: Column): Column = c.cast("decimal(19,0)")
    val n = d38(size(t).cast("long"))
    val k = d38(size(filter(t, x => x.isInCollection(stopwords))).cast("long"))
    val lc = d38(length(col("text")).cast("long"))
    val sym = d38(length(regexp_replace(col("text"), "[A-Za-z0-9\\s]", ""))
      .cast("long"))
    val num = least(n, lit(100L).cast("decimal(19,0)")) * n * lc +
      lit(100L).cast("decimal(19,0)") * k * lc +
      lit(50L).cast("decimal(19,0)") * n * (lc - sym)
    val den = lit(250L).cast("decimal(19,0)") * n * lc
    val p = num * lit(20000L).cast("decimal(19,0)") + den
    val q2 = den + den
    ((p - pmod(p, q2)) / q2).cast("double") / lit(10000.0)
  }

  /** SQL twin of [[withLangId]]'s marker counts `c_en` … `c_fr`,
    * closing a select list over `documents` and its CTE.
    */
  private val markerCountsSql: String =
    """len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                      x -> x IN ('the','a','of'))) AS c_en,
                  len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                      x -> x IN ('el','la','de'))) AS c_es,
                  len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                      x -> x IN ('der','die','und'))) AS c_de,
                  len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                      x -> x IN ('le','les','et'))) AS c_fr
           FROM documents)"""

  /** SQL twin of [[withLangId]]'s argmax over the marker counts of a
    * CTE `c`: `predicted_lang`, closing the select list and its CTE.
    */
  private val predictedLangSql: String =
    """CASE
                    WHEN c_en + c_es + c_de + c_fr = 0 THEN 'unknown'
                    WHEN c_en >= c_es AND c_en >= c_de AND c_en >= c_fr THEN 'en'
                    WHEN c_es >= c_de AND c_es >= c_fr THEN 'es'
                    WHEN c_de >= c_fr THEN 'de'
                    ELSE 'fr' END AS predicted_lang
           FROM c)"""

  /** SQL twin of [[qualityCol]]'s inputs, closing a select list over
    * `documents` and its CTE: the token list `t`, the char count `lc`
    * and the symbol-char count `sym`.
    */
  val qualityInputsSql: String =
    """regexp_split_to_array(trim(text), '\s+') AS t,
                  length(text) AS lc,
                  length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS sym
           FROM documents)"""

  /** SQL twin of [[qualityCol]] over [[qualityInputsSql]]'s columns:
    * the same exact half-up division in HUGEINT, unaliased.
    */
  val qualitySql: String =
    """CAST(((2 * (least(len(t), 100) * CAST(len(t) AS HUGEINT) * lc
                              + 100 * CAST(len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is'))) AS HUGEINT) * lc
                              + 50 * CAST(len(t) AS HUGEINT) * (lc - sym)) * 10000
                          + 250 * CAST(len(t) AS HUGEINT) * lc)
                         // (500 * CAST(len(t) AS HUGEINT) * lc)) AS DOUBLE) / 10000.0"""

  val defs: Map[String, QueryDef] = Map(

    // D10 — token counting: whitespace tokens + a BPE-ish regex
    // tokenization (letter runs / digit runs / single other symbols).
    "token_count" -> QueryDef(
      (s, d) =>
        Tables.documents(s, d).select(
          col("doc_id"),
          size(split(trim(col("text")), "\\s+")).as("ws_tokens"),
          regexp_count(col("text"),
            lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).as("bpe_tokens"),
          length(col("text")).as("n_chars"))
          .orderBy("doc_id"),
      """SELECT doc_id,
                len(regexp_split_to_array(trim(text), '\s+')) AS ws_tokens,
                len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
                  AS bpe_tokens,
                length(text) AS n_chars
         FROM documents ORDER BY doc_id"""),

    // D103 — degenerate-document census per source: empty /
    // whitespace-only docs and sub-20-token fragments (disjoint
    // buckets: a doc is empty OR short, never both). These are the
    // rows that break downstream assumptions quietly — empty text
    // divides by zero in ratio features, fragments dilute n-gram
    // statistics — and the census says which FEED ships them, which
    // is where the fix belongs (an extractor bug upstream, not a
    // filter downstream). One scan, exact longs, source-bounded
    // collapse.
    "degenerate_docs" -> QueryDef(
      (s, d) => {
        val isEmpty = length(trim(col("text"))) === 0
        val nTok = size(split(trim(col("text")), "\\s+"))
        Tables.documents(s, d)
          .select(col("source"), isEmpty.as("e"),
            (!isEmpty && nTok < 20).as("sh"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("e"), lit(1L)).otherwise(lit(0L))).as("n_empty"),
            sum(when(col("sh"), lit(1L)).otherwise(lit(0L))).as("n_short"))
          .withColumn("degenerate_frac",
            round((col("n_empty") + col("n_short")).cast("double")
              / col("n_docs"), 4))
          .orderBy("source")
      },
      """SELECT source, count(*) AS n_docs,
                CAST(sum(CASE WHEN length(trim(text)) = 0
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
                CAST(sum(CASE WHEN length(trim(text)) > 0
                               AND len(regexp_split_to_array(trim(text),
                                       '\s+')) < 20
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
                round(CAST(sum(CASE WHEN length(trim(text)) = 0
                                     OR (length(trim(text)) > 0
                                         AND len(regexp_split_to_array(
                                               trim(text), '\s+')) < 20)
                                    THEN 1 ELSE 0 END) AS DOUBLE)
                      / count(*), 4) AS degenerate_frac
         FROM documents GROUP BY source ORDER BY source"""),

    // D99 — quality-filter bias audit per declared language: doc
    // count, mean quality, and the pass rate at the curation
    // threshold (0.5) for each lang. A quality formula tuned on one
    // language silently starves others (stopword lists are
    // language-specific!) — this is the report that catches the bias
    // before the mix ships. The mean is computed from lossless
    // ×10000 integer sums of the 4 dp-rounded per-doc score (the
    // D87 discipline — an avg() over doubles can round differently
    // between engines at a 4 dp boundary); one scan, lang-bounded
    // collapse.
    "quality_by_lang" -> QueryDef(
      (s, d) =>
        Tables.documents(s, d)
          .select(col("lang"), qualityCol.as("q"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(round(col("q") * 10000, 0).cast("long")).as("_sq"),
            sum(when(col("q") >= 0.5, lit(1L)).otherwise(lit(0L)))
              .as("n_pass"))
          .select(col("lang"), col("n_docs"),
            round(col("_sq") / (lit(10000.0) * col("n_docs")), 4)
              .as("mean_quality"),
            col("n_pass"),
            round(col("n_pass").cast("double") / col("n_docs"), 4)
              .as("pass_rate"))
          .orderBy("lang"),
      """WITH prep AS (
           SELECT lang,
                  """ + qualityInputsSql + """,
         scored AS (
           SELECT lang,
                  """ + qualitySql + """ AS q
           FROM prep)
         SELECT lang, count(*) AS n_docs,
                round(sum(CAST(round(q * 10000, 0) AS BIGINT))
                      / (10000.0 * count(*)), 4) AS mean_quality,
                CAST(sum(CASE WHEN q >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_pass,
                round(CAST(sum(CASE WHEN q >= 0.5 THEN 1 ELSE 0 END)
                           AS DOUBLE) / count(*), 4) AS pass_rate
         FROM scored GROUP BY lang ORDER BY lang"""),

    // D97 — tokenizer fertility per source: BPE-ish tokens per
    // whitespace word and chars per BPE-ish token — the cost model a
    // tokenizer change is judged by (fertility up = same corpus, more
    // sequence positions, higher training bill), reported where the
    // decision is made: per feed. Code/symbol-heavy feeds stand out
    // immediately. Same per-row extraction as D10, collapsed with
    // exact long sums and two end divisions — nothing floats until
    // after aggregation, so engines agree by construction. One scan,
    // source-bounded aggregate.
    "tokenizer_fertility" -> QueryDef(
      (s, d) =>
        Tables.documents(s, d).select(col("source"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("ws"),
          regexp_count(col("text"),
            lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).cast("long").as("bpe"),
          length(col("text")).cast("long").as("nc"))
          .groupBy("source")
          .agg(sum("ws").as("ws_tokens"),
            sum("bpe").as("bpe_tokens"),
            sum("nc").as("n_chars"))
          .withColumn("fertility",
            round(col("bpe_tokens").cast("double") / col("ws_tokens"), 4))
          .withColumn("chars_per_token",
            round(col("n_chars").cast("double") / col("bpe_tokens"), 4))
          .orderBy("source"),
      """SELECT source,
                CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
                     AS BIGINT) AS ws_tokens,
                CAST(sum(len(regexp_extract_all(text,
                       '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT)
                  AS bpe_tokens,
                CAST(sum(length(text)) AS BIGINT) AS n_chars,
                round(CAST(sum(len(regexp_extract_all(text,
                        '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS DOUBLE)
                      / sum(len(regexp_split_to_array(trim(text), '\s+'))),
                      4) AS fertility,
                round(CAST(sum(length(text)) AS DOUBLE)
                      / sum(len(regexp_extract_all(text,
                          '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))), 4)
                  AS chars_per_token
         FROM documents GROUP BY source ORDER BY source"""),

    // D9 — quality scoring: length prior + stopword ratio + symbol
    // penalty, combined in a fixed-order double formula.
    "quality_score" -> QueryDef(
      (s, d) => {
        val t = split(trim(col("text")), "\\s+")
        val n = size(t).cast("double")
        val stopRatio =
          size(filter(t, x => x.isInCollection(stopwords))).cast("double") / n
        val symRatio =
          length(regexp_replace(col("text"), "[A-Za-z0-9\\s]", ""))
            .cast("double") / length(col("text")).cast("double")
        Tables.documents(s, d).select(
          col("doc_id"),
          size(t).as("n_tokens"),
          round(stopRatio, 4).as("stopword_ratio"),
          round(symRatio, 4).as("symbol_ratio"),
          qualityCol.as("quality"))
          .orderBy("doc_id")
      },
      """WITH q AS (
           SELECT doc_id,
                  """ + qualityInputsSql + """,
         m AS (
           SELECT doc_id,
                  len(t) AS n_tokens,
                  CAST(len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
                    / CAST(len(t) AS DOUBLE) AS stop_ratio,
                  CAST(sym AS DOUBLE) / CAST(lc AS DOUBLE) AS sym_ratio,
                  """ + qualitySql + """ AS quality
           FROM q)
         SELECT doc_id, n_tokens,
                round(stop_ratio, 4) AS stopword_ratio,
                round(sym_ratio, 4) AS symbol_ratio,
                quality
         FROM m ORDER BY doc_id"""),

    // D8 — language ID: per-language marker counts + deterministic
    // argmax (priority en > es > de > fr on ties).
    "lang_id" -> QueryDef(
      (s, d) =>
        withLangId(Tables.documents(s, d))
          .groupBy("predicted_lang")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("predicted_lang"),
      """WITH c AS (
           SELECT doc_id,
                  """ + markerCountsSql + """,
         p AS (
           SELECT """ + predictedLangSql + """
         SELECT predicted_lang, count(*) AS n_docs
         FROM p GROUP BY predicted_lang ORDER BY predicted_lang"""),

    // D85 — language confusion matrix: declared `lang` metadata vs the
    // D8 heuristic's prediction, with each cell's share of its declared
    // language (the row-normalized recall view). The standard
    // metadata-audit eval a multilingual pipeline runs before trusting
    // either signal for mix design. Reuses the exact withLangId column
    // both sides, so D8 and D85 cannot de-synchronize. Plan: one
    // (lang, predicted) shuffle; the per-lang totals re-group that
    // dimension-bounded aggregate and come back via broadcast join —
    // the corpus is scanned once and nothing wide ever shuffles.
    "lang_confusion" -> QueryDef(
      (s, d) => {
        val cells = withLangId(Tables.documents(s, d))
          .groupBy(col("lang"), col("predicted_lang"))
          .agg(count(lit(1)).as("n_docs"))
        val tot = cells.groupBy("lang").agg(sum("n_docs").as("n_lang"))
        cells.join(broadcast(tot), "lang")
          .select(col("lang"), col("predicted_lang"), col("n_docs"),
            round(col("n_docs").cast("double") /
              col("n_lang").cast("double"), 4).as("share"))
          .orderBy("lang", "predicted_lang")
      },
      """WITH c AS (
           SELECT lang,
                  """ + markerCountsSql + """,
         p AS (
           SELECT lang, """ + predictedLangSql + """,
         m AS (SELECT lang, predicted_lang, count(*) AS n_docs
               FROM p GROUP BY 1, 2),
         t AS (SELECT lang, sum(n_docs) AS n_lang FROM m GROUP BY 1)
         SELECT m.lang, m.predicted_lang, m.n_docs,
                round(CAST(m.n_docs AS DOUBLE) / CAST(t.n_lang AS DOUBLE), 4)
                  AS share
         FROM m JOIN t USING (lang)
         ORDER BY lang, predicted_lang"""),

    // D9b — repetition detection: distinct-to-total 3-gram ratio (the
    // classic repeated-paragraph/boilerplate signal). Low ratio = the
    // document repeats itself.
    "repetition_ratio" -> QueryDef(
      (s, d) => {
        val total = size(split(trim(col("text")), "\\s+")) - lit(2)
        Tables.documents(s, d)
          .filter(total >= lit(1))
          .select(
            col("doc_id"),
            total.as("total_3grams"),
            size(graft.functions.HashOps.wordShingles(col("text"), 3))
              .as("distinct_3grams"))
          .withColumn("repetition",
            round(lit(1.0) - col("distinct_3grams").cast("double") /
              col("total_3grams").cast("double"), 6))
          .orderBy("doc_id")
      },
      """WITH g AS (
           SELECT doc_id,
                  len(regexp_split_to_array(trim(text), '\s+')) - 2 AS total_3grams,
                  len(list_distinct(
                    [array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+2], ' ')
                     for i in range(1, len(regexp_split_to_array(trim(text), '\s+')) - 1)]))
                    AS distinct_3grams
           FROM documents)
         SELECT doc_id, total_3grams, distinct_3grams,
                round(1.0 - CAST(distinct_3grams AS DOUBLE)
                          / CAST(total_3grams AS DOUBLE), 6) AS repetition
         FROM g WHERE total_3grams >= 1 ORDER BY doc_id"""),

    // D58 — per-source quality CALIBRATION: raw quality scores are not
    // comparable across sources (a clean-wiki source and a raw-crawl
    // source have different score distributions), so mixing decisions
    // use the within-source percent rank, not the raw score. One
    // source-keyed window; at 100 TB a giant source makes that window's
    // sort its bottleneck — the approximate substitute is the bounded
    // per-group quantile broadcast quantile_filter already implements
    // (same calibration, sketch-resolution ranks).
    "quality_calibrate" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("source")
          .orderBy(col("quality"), col("doc_id"))
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"), qualityCol.as("quality"))
          .withColumn("calibrated", round(percent_rank().over(w), 4))
          .orderBy("doc_id")
      },
      """WITH q AS (
           SELECT doc_id, source,
                  """ + qualityInputsSql + """,
         m AS (
           SELECT doc_id, source,
                  """ + qualitySql + """ AS quality
           FROM q)
         SELECT doc_id, source, quality,
                round(percent_rank() OVER (PARTITION BY source
                                           ORDER BY quality, doc_id), 4)
                  AS calibrated
         FROM m ORDER BY doc_id"""),

    // D20 — deterministic train/val/test split by content-stable hash:
    // md5 of the doc id buckets every row reproducibly on any cluster,
    // any partitioning, any engine — the property a 100 TB split needs
    // (rand()-based splits are neither stable nor resumable). First hex
    // nibbles give 256 buckets: 0..229 train, 230..242 val, rest test.
    "dataset_split" -> QueryDef(
      (s, d) =>
        Tables.documents(s, d)
          .withColumn("bucket",
            conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2),
              16, 10).cast("int"))
          .withColumn("split",
            when(col("bucket") < 230, "train")
              .when(col("bucket") < 243, "val")
              .otherwise("test"))
          .groupBy("split")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").as("total_chars"))
          .orderBy("split"),
      """SELECT split, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM (
           SELECT n_chars,
                  CASE WHEN b < 230 THEN 'train'
                       WHEN b < 243 THEN 'val'
                       ELSE 'test' END AS split
           FROM (SELECT n_chars,
                        CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS INT) AS b
                 FROM documents))
         GROUP BY split ORDER BY split"""),

    // D61 — weighted sampling without replacement (Efraimidis–Spirakis
    // A-ES): key_i = u_i^(1/w_i) with u_i a content-stable md5 uniform,
    // take the k largest keys — longer documents proportionally more
    // likely, yet fully deterministic and engine-reproducible (rand()
    // is neither). One scan + one global top-k (TakeOrdered at scale —
    // k·partitions wire cost, no global sort). The float keys are
    // continuous, so rank boundaries are ulp-safe; key rounded only
    // for display.
    "weighted_sample" -> QueryDef(
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars"),
            pow(
              (conv(substring(md5(col("doc_id").cast("string").cast("binary")),
                1, 8), 16, 10).cast("double") + 0.5) / lit(4294967296.0),
              lit(1.0) / col("n_chars").cast("double")).as("k"))
          .orderBy(col("k").desc, col("doc_id"))
          .limit(50)
          .select(col("doc_id"), col("n_chars"), round(col("k"), 6).as("key")),
      """SELECT doc_id, n_chars, round(k, 6) AS key
         FROM (
           SELECT doc_id, n_chars,
                  pow((CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                            AS UBIGINT) + 0.5) / 4294967296.0,
                      1.0 / n_chars) AS k
           FROM documents)
         ORDER BY k DESC, doc_id LIMIT 50"""),

    // D23 — deterministic stratified hash sampling: ~10% of docs per
    // language (md5 bucket < 26/256), counted against the stratum total
    // in ONE pass (conditional agg — no second scan, no join). Same
    // content-stable-hash property as dataset_split: reproducible on
    // any cluster, any partitioning, any engine; rand() sampling is
    // neither.
    "hash_sample" -> QueryDef(
      (s, d) =>
        Tables.documents(s, d)
          .withColumn("_b",
            conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2),
              16, 10).cast("int"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_total"),
            count(when(col("_b") < 26, 1)).as("n_sampled"))
          .orderBy("lang"),
      """SELECT lang, count(*) AS n_total,
                count(CASE WHEN b < 26 THEN 1 END) AS n_sampled
         FROM (SELECT lang,
                      CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 2))
                           AS INT) AS b
               FROM documents) t
         GROUP BY lang ORDER BY lang"""),

    // D24 — per-group quantile filtering: keep docs longer than their
    // language's median. Per-group exact percentile (linear
    // interpolation — Spark `percentile` ≡ DuckDB `quantile_cont`)
    // broadcast back against the corpus.
    "quantile_filter" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
        val med = docs.groupBy(col("lang").as("m_lang"))
          .agg(expr("percentile(n_chars, 0.5)").as("median_chars"))
        docs.join(broadcast(med), col("lang") === col("m_lang"))
          .filter(col("n_chars") > col("median_chars"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_above"),
            round(avg("n_chars"), 4).as("avg_chars"))
          .orderBy("lang")
      },
      """WITH med AS (SELECT lang, quantile_cont(n_chars, 0.5) AS m
                      FROM documents GROUP BY lang)
         SELECT d.lang, count(*) AS n_above,
                round(avg(n_chars), 4) AS avg_chars
         FROM documents d JOIN med ON d.lang = med.lang
         WHERE d.n_chars > med.m
         GROUP BY d.lang ORDER BY d.lang"""),

    // D11 — winnowing fingerprints. The rolling 9-gram polynomial hash
    // (B=257 mod 2^55) and the w=4 winnow ARE SQL-portable after all:
    // the oracle recomputes them with DuckDB list comprehensions in
    // HUGEINT (257^8 > 2^63, so the per-gram sum needs 128-bit
    // intermediates; the mod-2^55 result fits BIGINT exactly). Masking
    // per step in Scala ≡ one mod of the full polynomial sum because
    // 2^55 divides 2^64. Docs are ASCII in every test SF, so DuckDB's
    // per-char ord() equals the Scala byte walk.
    "fingerprint" -> QueryDef(
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"),
            HashOps.fingerprint(col("text")).as("fp"))
          .select(col("doc_id"), size(col("fp")).as("n_fingerprints"),
            element_at(col("fp"), 1).as("min_fingerprint"))
          .orderBy("doc_id"),
      s"""WITH g AS (
           SELECT doc_id,
             list_transform(range(1, length(text) - 7), i ->
               CAST(list_sum(list_transform(range(0, ${HashOps.WinnowK}), j ->
                 CAST(ord(text[i+j]) AS HUGEINT) *
                 ([19031147999601100801, 74051159531521793, 288136807515649,
                   1121154893057, 4362470401, 16974593, 66049, 257, 1])[j+1]
               )) % 36028797018963968 AS BIGINT)) AS grams
           FROM documents),
         m AS (
           SELECT doc_id,
             CASE WHEN len(grams) < ${HashOps.WinnowWindow} THEN [list_min(grams)]
                  ELSE list_transform(range(1, len(grams) - 2),
                         i -> list_min(grams[i:i+3]))
             END AS mins
           FROM g)
         SELECT doc_id,
                CAST(len(list_distinct(mins)) AS INT) AS n_fingerprints,
                list_min(mins) AS min_fingerprint
         FROM m ORDER BY doc_id"""),

    // D22 — TF-IDF top terms per document. Two aggregations (term
    // frequency per doc, document frequency per term) joined back on
    // `term` with a plain shuffle join: the vocabulary of an open web
    // corpus is NOT broadcast-safe (10^8-10^9 distinct terms at 100 TB),
    // and tf is already shuffled on term to compute dfreq, so AQE can
    // reuse the exchange; it will still downgrade to broadcast when the
    // runtime df size is genuinely small. Per-doc top-3 via
    // WindowGroupLimit. Ranking is on the ROUNDED score so cross-engine
    // ulp noise in ln() cannot reorder ranks.
    "tfidf_top_terms" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, d)
        val toks = docs.select(col("doc_id"),
          explode(split(trim(col("text")), "\\s+")).as("term"))
        val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        // df deliberately REFERENCES the tf column (tf >= 1 always, so
        // count(tf>=1) = row count): with count(lit(1)) column pruning
        // drops `tf` from this branch's inner aggregate, the two
        // (doc_id, term) subtrees stop being canonically identical, and
        // exchange reuse silently dies — the corpus-wide token explode +
        // pair aggregate then runs TWICE. Verified in-plan: this form
        // keeps exactly one (doc_id, term) shuffle, reused.
        val dfreq = tf.groupBy("term")
          .agg(count(when(col("tf") >= 1, 1)).as("df"))
        val n = docs.agg(count(lit(1)).as("n_docs"))
        val w = Window.partitionBy("doc_id")
          .orderBy(col("tfidf").desc, col("term").asc)
        tf.join(dfreq, "term")
          .crossJoin(broadcast(n))
          .withColumn("tfidf",
            round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select("doc_id", "rank", "term", "tfidf")
          .orderBy("doc_id", "rank")
      },
      """WITH tf AS (
           SELECT doc_id, term, count(*) AS tf
           FROM (SELECT doc_id,
                        unnest(regexp_split_to_array(trim(text), '\s+')) AS term
                 FROM documents) t
           GROUP BY 1, 2),
         dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents),
         ranked AS (
           SELECT doc_id, term,
                  round(tf * ln(CAST(n_docs AS DOUBLE) / df), 4) AS tfidf,
                  CAST(row_number() OVER (PARTITION BY doc_id
                       ORDER BY round(tf * ln(CAST(n_docs AS DOUBLE) / df), 4)
                                DESC, term) AS INT) AS rank
           FROM tf JOIN dfreq USING (term) CROSS JOIN n)
         SELECT doc_id, rank, term, tfidf FROM ranked
         WHERE rank <= 3 ORDER BY doc_id, rank"""))
}
